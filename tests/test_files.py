"""The format's per-file writer (``pipeline/files.py``): which columns
``_dictionary_columns`` dictionary-encodes, decided from a strided
sample of at most ``ENCODING_SAMPLE_ROWS`` rows, and the encodings the
written file's footer records. No SparkSession."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from nrtwithdeltalake_spark.pipeline import files

N = 20_000  # rows, well past the sample


def _full_rule(tbl) -> list[str]:
    """The rule over every row of each column."""
    out = []
    for paths, col in zip(files._leaf_paths(tbl.schema), tbl.columns):
        try:
            worth = 2 * pc.count_distinct(col).as_py() <= tbl.num_rows
        except pa.ArrowNotImplementedError:
            worth = True
        if worth:
            out += paths
    return out


def _silver(n: int) -> pa.Table:
    """Shaped like a silver table: unique keys, values and strings, a
    batch timestamp and audit columns constant per load, three ops."""
    k = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "k": k,
            "v": (k * 7919 % 100_003) / 100.0,
            "s": pa.array([f"p{i}" for i in k]),
            "u": k * 2654435761 % (1 << 31),
            "ts": pa.array(np.full(n, 1_700_000_000_000_000), pa.timestamp("us")),
            "SyncDateTime": pa.array(
                np.full(n, 1_700_000_100_000_000), pa.timestamp("us")
            ),
            "SyncOperation": pa.array(["I", "U", "D"] * (n // 3) + ["I"] * (n % 3)),
        }
    )


TABLES = {
    "silver": _silver(N),
    "unique": pa.table({"k": np.arange(N), "s": [f"x{i}" for i in range(N)]}),
    "low_cardinality": pa.table(
        {"c": np.arange(N) % 7, "s": pa.array(["a", "b"] * (N // 2))}
    ),
    "all_null": pa.table({"n": pa.nulls(N, pa.int64()), "k": np.arange(N)}),
    "one_row": pa.table({"k": [1], "s": ["a"], "n": pa.nulls(1, pa.string())}),
    "nested": pa.table(
        {
            "l": pa.array([[i, i + 1] for i in range(N)]),
            "st": pa.array([{"a": i, "b": str(i)} for i in range(N)]),
            "m": pa.array(
                [[("k", i)] for i in range(N)], pa.map_(pa.string(), pa.int64())
            ),
            "k": np.arange(N),
        }
    ),
}


@pytest.mark.parametrize("name", sorted(TABLES))
def test_sample_chooses_as_the_full_columns_do(name, monkeypatch):
    """Unique, low-cardinality, all-NULL, one-row and nested columns
    take the same encodings from the sample as from every row, and no
    count runs over more than ``ENCODING_SAMPLE_ROWS`` rows."""
    tbl = TABLES[name]
    want = _full_rule(tbl)
    counted = []
    count_distinct = pc.count_distinct

    def spy(col, *args, **kwargs):
        counted.append(len(col))
        return count_distinct(col, *args, **kwargs)

    monkeypatch.setattr(pc, "count_distinct", spy)
    assert files._dictionary_columns(tbl) == want
    assert counted and max(counted) <= files.ENCODING_SAMPLE_ROWS
    if name == "silver":
        assert want == ["ts", "SyncDateTime", "SyncOperation"]


def test_written_footer_records_the_chosen_encodings(tmp_path):
    """Each column chunk of the written file has a dictionary page
    exactly when ``_dictionary_columns`` chose it."""
    tbl = _silver(N)
    data, cdf = files._write_arrow_files(str(tmp_path), tbl, tbl.slice(0, 0), {})
    assert cdf is None
    chosen = set(files._dictionary_columns(tbl))
    rg = pq.read_metadata(data).row_group(0)
    got = {
        rg.column(i).path_in_schema: rg.column(i).has_dictionary_page
        for i in range(rg.num_columns)
    }
    assert got == {c: c in chosen for c in tbl.column_names}


def test_evolved_column_is_judged_over_the_whole_file():
    """A column added by schema evolution is NULL in the rows written
    before it existed, and a driver rewrite lists those oldest rows
    first. Here 1,000 such rows precede 2,000 unique values: the full
    rule writes the column PLAIN (2,000 distinct of 3,000 rows), and so
    does the strided sample, while a prefix of the sample's size would
    see 1,000 NULLs and 24 values and choose a dictionary."""
    n_old, n_new = 1_000, 2_000
    added = pa.concat_arrays(
        [pa.nulls(n_old, pa.int64()), pa.array(np.arange(n_new, dtype=np.int64))]
    )
    tbl = pa.table({"k": np.arange(n_old + n_new), "added": added})
    assert tbl.num_rows > files.ENCODING_SAMPLE_ROWS
    assert "added" not in _full_rule(tbl)
    assert "added" not in files._dictionary_columns(tbl)
    assert "added" in _full_rule(tbl.slice(0, files.ENCODING_SAMPLE_ROWS))
