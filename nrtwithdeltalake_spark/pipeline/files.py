"""The table format's per-file Arrow I/O, with no SparkSession.

* read: ``_arrow_batches`` turns one parquet data or change-data file
  into Arrow batches laid out as a commit schema (field-id column
  mapping, null-fill of columns the file predates, appended constant
  columns, pushed filters handed to pyarrow, bloom sidecar probe and
  deletion-vector masking). ``_FilePartition`` names one such read; it
  is also the ``InputPartition`` the ``versioned`` DataSource's readers
  ship to Spark's Python workers.
* write: ``_write_arrow_files`` writes a data file and its change-feed
  images as one immutable parquet file each, with the commit schema's
  field ids stamped in and dictionary encoding only where it pays.
  A written file becomes live only when a ``VersionedTable`` commit
  names it.

``VersionedTable``'s driver paths and the DataSource readers share
these functions, so both read a file the same way.
"""

from __future__ import annotations

import functools
import json
import os
from dataclasses import dataclass

from pyspark.sql import types as T
from pyspark.sql.datasource import InputPartition

from . import bloom as _bloom
from . import log


@dataclass
class _FilePartition(InputPartition):
    file: str
    schema_json: str
    extra: tuple = ()  # ((colname, value), ...) appended constants
    # ((col, op, value), ...) conjunctive residual predicates forwarded to
    # pyarrow for row-group/page skipping (Spark re-applies them after the
    # scan, so they are purely an IO reducer — never a correctness input)
    filters: tuple = ()
    # deletion-vector sidecar files of the commit being read: rows of
    # THIS file whose position appears there are logically deleted and
    # masked out executor-side (merge-on-read)
    dv_files: tuple = ()
    # bloom sidecar path for THIS file (committed under the stats
    # __bloom__ key): the executor probes it against the pushed
    # equality literals BEFORE opening the data file — a KB read that
    # can prove the multi-MB decode pointless (see pipeline/bloom.py)
    bloom_sidecar: str = ""


def _arrow_batches(part: _FilePartition):
    """One parquet file → aligned Arrow batches: project to the commit
    schema by NAME, null-fill columns the file predates (schema
    evolution), append constant columns (the CDF's commit version).

    IO discipline (the reference's whole extract model is pushdown —
    ``COPY_MSQL_TO_SILVER.py:86-89`` ships the entire SQL to the
    source): only the columns present in BOTH the requested schema and
    the file's footer are read (a schema-dropped or pruned column's
    bytes are never decoded), and any pushed conjunctive filters are
    handed to pyarrow, which skips whole row groups via footer
    statistics before decoding a page."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_type

    if part.bloom_sidecar:
        eq = [
            (col, op, v) for (col, op, v) in part.filters if op in ("=", "in")
        ]
        if eq and not _bloom.file_may_match_bloom(part.bloom_sidecar, eq):
            return  # provably no matching row: skip the data read entirely
    want = T.StructType.fromJson(json.loads(part.schema_json))
    pf = pq.ParquetFile(part.file)
    file_cols = set(pf.schema_arrow.names)
    file_by_id = {}
    for fld in pf.schema_arrow:
        fid = (fld.metadata or {}).get(b"PARQUET:field_id")
        if fid is not None:
            file_by_id[int(fid)] = fld.name
    pf.close()
    # column mapping: a field that carries a field id reading an
    # id-bearing file matches BY ID ONLY (a renamed column finds its
    # data under the old physical name; a re-added column must NOT
    # name-match a dropped column's leftover bytes). Name matching
    # applies to id-free fields and id-free (legacy) files.
    phys: dict[str, str] = {}
    for f in want.fields:
        fid = (f.metadata or {}).get(log.FIELD_ID)
        if fid is not None and file_by_id:
            if int(fid) in file_by_id:
                phys[f.name] = file_by_id[int(fid)]
        elif f.name in file_cols:
            phys[f.name] = f.name
    read_cols = sorted(set(phys.values()))
    kwargs = {"columns": read_cols}
    usable = [
        (phys[c], op, v) for (c, op, v) in part.filters if c in phys
    ]
    if usable and not part.dv_files:
        # DV masking needs whole-file row positions, so predicate
        # row-group skipping is disabled when a vector applies (Spark
        # re-applies every filter; only the IO saving is lost)
        kwargs["filters"] = usable  # conjunctive list → row-group skipping
    # Spark writes timestamps as INT96, which pyarrow reads as
    # nanoseconds by default: 9999-12-31 or 1500-01-01 would overflow
    kwargs["coerce_int96_timestamp_unit"] = "us"
    try:
        tbl = pq.read_table(part.file, **kwargs)
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError, TypeError):
        # a filter pyarrow can't evaluate on this column type: fall back
        # to the unfiltered (still column-pruned) read — Spark's residual
        # filter keeps the result exact either way
        kwargs.pop("filters", None)
        tbl = pq.read_table(part.file, **kwargs)
    if part.dv_files:
        tbl = _mask_deleted(tbl, part)
    n = tbl.num_rows
    cols = []
    names = []
    for f in want.fields:
        names.append(f.name)
        at = to_arrow_type(f.dataType)
        if f.name in phys:
            col = tbl.column(phys[f.name])
            if col.type != at:
                col = col.cast(at)
            cols.append(col)
        else:
            cols.append(pa.nulls(n, type=at))
    for cname, cval in part.extra:
        names.append(cname)
        at = pa.string() if isinstance(cval, str) else pa.int64()
        cols.append(pa.array([cval] * n, type=at))
    out = pa.table(dict(zip(names, cols)))
    for batch in out.to_batches():
        yield batch


def _mask_deleted(tbl, part: _FilePartition):
    """Drop rows whose position appears in the commit's deletion
    vector for this file. The vector stores ``_metadata.file_path``
    URIs (``file://...``); the partition file is a plain path — both
    spellings are pushed to pyarrow so only this file's positions are
    decoded, then matched exactly."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    spellings = [
        part.file,
        f"file:{part.file}",
        f"file://{part.file}",
    ]
    import pyarrow.dataset as pads

    dvs = pq.ParquetDataset(
        list(part.dv_files),
        filters=pads.field("file").isin(spellings),
    ).read(columns=["pos"])
    if not dvs.num_rows:
        return tbl
    pos = dvs.column("pos").to_numpy(zero_copy_only=False)
    mask = np.ones(tbl.num_rows, dtype=bool)
    mask[pos[pos < tbl.num_rows]] = False
    return tbl.filter(pa.array(mask))



def _ids_of(schema: T.StructType) -> dict[str, int]:
    return {
        f.name: int(f.metadata[log.FIELD_ID])
        for f in schema.fields
        if f.metadata and log.FIELD_ID in f.metadata
    }


def _stamp_field_ids(tbl, field_ids: dict[str, int]):
    """Stamp the PLANNED commit schema's field ids (computed on the
    driver before any task ran — so columns being evolved in by this
    very write carry their fresh ids too) into the Arrow schema, so
    pyarrow writes real parquet field_ids. Stamping from the previous
    commit instead (the pre-round-8 behavior) silently lost added
    columns: their data files had no id for the id-matching read path
    to find. No-op for legacy (id-free) tables."""
    import pyarrow as pa

    if not field_ids:
        return tbl
    fields = []
    for fld in tbl.schema:
        if fld.name in field_ids:
            md = dict(fld.metadata or {})
            md[b"PARQUET:field_id"] = str(field_ids[fld.name]).encode()
            fields.append(fld.with_metadata(md))
        else:
            fields.append(fld)
    return tbl.cast(pa.schema(fields))


def _write_arrow_files(
    path: str, data, cdf, field_ids: dict[str, int]
) -> tuple[str | None, str | None]:
    """Write the Arrow tables ``data`` and ``cdf`` (its change-feed
    images, with ``_change_type``) as one immutable parquet file each
    under the table's ``_data`` and ``_cdf`` dirs; an empty table writes
    no file (None). Files become live only if a later driver commit
    references them."""
    import uuid

    import pyarrow.parquet as pq

    token = uuid.uuid4().hex
    out = []
    for sub, tbl in (("_data", data), ("_cdf", cdf)):
        if not tbl.num_rows:
            out.append(None)
            continue
        d = os.path.join(path, sub, f"ds-{token}")
        os.makedirs(d, exist_ok=True)
        out.append(os.path.join(d, "part-00000.parquet"))
        pq.write_table(
            _stamp_field_ids(tbl, field_ids),
            out[-1],
            use_dictionary=_dictionary_columns(tbl),
        )
    return out[0], out[1]


# rows ``_dictionary_columns`` samples per file to choose its encodings
ENCODING_SAMPLE_ROWS = 1024


def _dictionary_columns(tbl) -> list[str]:
    """The parquet column paths of ``tbl`` worth dictionary encoding:
    a column's leaves when its distinct count is at most half its rows
    (parquet-mr, Spark's writer, falls back to PLAIN where a dictionary
    doesn't pay; pyarrow's default of a dictionary on every column
    wrote the bench's rows 40% larger), and always when
    ``count_distinct`` can't take its type (nested), as pyarrow's
    default would. The count runs over at most ``ENCODING_SAMPLE_ROWS``
    evenly spaced rows, so the choice costs the same for any file size
    (parquet-mr also decides from its first page). The sample is
    strided, not a prefix: a driver rewrite lists a file's oldest rows
    first, where a column added by schema evolution is NULL. A column
    whose repeats lie further apart than the stride reads as distinct
    in the sample and is written PLAIN; pyarrow's fallback at a 1 MB
    dictionary page still bounds a dictionary that grows too large."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if tbl.num_rows > ENCODING_SAMPLE_ROWS:
        tbl = tbl.take(
            np.linspace(0, tbl.num_rows - 1, ENCODING_SAMPLE_ROWS).astype(np.int64)
        )
    out = []
    for paths, col in zip(_leaf_paths(tbl.schema), tbl.columns):
        try:
            worth = 2 * pc.count_distinct(col).as_py() <= tbl.num_rows
        except pa.ArrowNotImplementedError:
            worth = True
        if worth:
            out += paths
    return out


@functools.lru_cache(maxsize=256)
def _leaf_paths(schema) -> tuple[tuple[str, ...], ...]:
    """Each field's parquet leaf column paths, as pyarrow writes
    ``schema``: read back from an empty file's footer, once per schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def leaves(t) -> int:
        return sum(leaves(t.field(i).type) for i in range(t.num_fields)) or 1

    buf = pa.BufferOutputStream()
    pq.write_table(schema.empty_table(), buf)
    paths = pq.read_metadata(pa.BufferReader(buf.getvalue())).schema
    out, i = [], 0
    for fld in schema:
        n = leaves(fld.type)
        out.append(tuple(paths.column(j).path for j in range(i, i + n)))
        i += n
    return tuple(out)
