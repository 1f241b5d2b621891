"""``versioned`` — a Spark 4 Python DataSource exposing VersionedTable
as a first-class format:

* batch: ``spark.read.format("versioned").option("path", p).load()``
  (plus ``option("version", n)`` time travel) — one input partition per
  data FILE, so the scan parallelizes exactly like the native reader;
  rows ship as Arrow RecordBatches, never per-row Python tuples;
* streaming: ``spark.readStream.format("versioned").option("path", p)
  .option("feed", "changes").load()`` — a change-feed tail whose OFFSET
  IS THE COMMIT VERSION: each micro-batch is precisely the CDF of the
  commits in ``(start, end]``, giving the schedulerless NRT CDC source
  (O20/O31) as a named format instead of a file-glob workaround.

This is the connector story the reference delegates to Databricks'
``spark.read.format("delta")`` (``COPY_MSQL_TO_SILVER.py:193,200``),
restated through the public DataSource V2 Python API
(``pyspark.sql.datasource``). The log is plain JSON + parquet, so the
DataSource needs no SparkSession — schema and planning are driver-side
file metadata reads, the same cost profile as the native path.

Scale notes: partition planning is O(files) metadata; each partition
reads one parquet file via pyarrow and yields its record batches
(Arrow end-to-end — the Python layer never touches rows). Schema
evolution is honored the same way ``VersionedTable._read_files`` does
it: carried-over files physically missing newer columns yield nulls.
Pushdown (the reference's whole extract model,
``COPY_MSQL_TO_SILVER.py:86-89``): ``pushFilters`` skips whole data
files via the committed per-file min/max stats, surviving files hand
the predicates to pyarrow for row-group skipping, and
``option("columns", "a,b")`` prunes the projection so only those
columns' bytes are decoded — Spark re-applies every filter after the
scan, so stats are an IO reducer, never a correctness input. The
native ``VersionedTable.read`` path remains available (JVM parquet
scan); this format exists for ecosystem addressability — anything that
can name a Spark format can read the table at full pushdown fidelity.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)

from ..pipeline import bloom as _bloom
from ..pipeline import log

CHANGE_TYPE_COL = "_change_type"
VERSION_COL = "_commit_version"


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
    try:
        tbl = pq.read_table(part.file, **kwargs)
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError, TypeError):
        # a filter pyarrow can't evaluate on this column type: fall back
        # to the unfiltered (still column-pruned) read — Spark's residual
        # filter keeps the result exact either way
        tbl = pq.read_table(part.file, columns=read_cols)
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


_PYARROW_OPS = {
    "EqualTo": "=",
    "EqualNullSafe": "=",
    "GreaterThan": ">",
    "GreaterThanOrEqual": ">=",
    "LessThan": "<",
    "LessThanOrEqual": "<=",
    "In": "in",
}


def _simple_filter(f) -> tuple | None:
    """Spark Filter → (col, op, value) for a top-level column and an
    op both the stats pruner and pyarrow understand; None otherwise."""
    op = _PYARROW_OPS.get(type(f).__name__)
    if op is None:
        return None
    attr = getattr(f, "attribute", None)
    if not attr or len(attr) != 1:
        return None  # nested column paths: not stat-tracked
    value = getattr(f, "value", None)
    if value is None:
        return None  # EqualNullSafe(None) etc.: min/max can't prune nulls
    if op == "in":
        value = [v for v in value if v is not None]
        if not value:
            return None
    return (attr[0], op, value)


class _BatchReader(DataSourceReader):
    """Snapshot reader without ``pushFilters`` — the planner worker
    REJECTS any reader that implements ``pushFilters`` when
    ``spark.sql.python.filterPushdown.enabled`` is false (the default),
    so the format keeps a pushdown-free base class and selects
    ``_PushdownBatchReader`` unless ``option("pushdown", "false")`` is
    set (the escape hatch for flag-off sessions; ``build_spark``
    enables the flag). Column pruning via ``option("columns")`` works
    on both."""

    def __init__(
        self,
        path: str,
        version: int | None,
        columns: list[str] | None,
        bloom_driver_max: int | None = None,
    ):
        self.path = path
        self.version = version
        self.columns = columns  # pruned via option('columns'), or None
        # planning-side bloom-probe budget (option bloomDriverPruneMax);
        # None = pipeline.bloom.DRIVER_PRUNE_MAX. 0 forces the
        # executor-side probe path (and is the how-to for testing it)
        self.bloom_driver_max = bloom_driver_max
        self.pushed: list[tuple] = []

    def partitions(self):
        log_dir = log.dir_of(self.path)
        v = self.version
        if v is None:
            v = log.latest_version_in(log_dir)
        c = log.read_commit(log_dir, v, where=f"{self.path}: ")
        if self.columns:
            # prune from the COMMIT schema so field-id metadata survives
            # into the per-file column matching (the declared schema is
            # deliberately id-free)
            keep = set(self.columns)
            full = T.StructType.fromJson(json.loads(c.schema_json))
            schema_json = T.StructType(
                [f for f in full.fields if f.name in keep]
            ).json()
        else:
            schema_json = c.schema_json
        fstats = c.stats.get("file_stats", {})
        dv = tuple(c.dv_files)
        files = [
            f
            for f in c.files
            if not self.pushed
            or log.file_stats_may_match(fstats.get(f), self.pushed)
        ]
        # bloom equality skipping (pipeline/bloom.py): committed sidecar
        # pointers ride each file's stats entry. Planning-side pruning
        # only when the min/max-surviving candidate set is small (the
        # point-lookup case — saves task scheduling, driver IO bounded
        # by construction); otherwise the probe ships with the
        # partition and runs executor-side before the data file opens.
        eq = tuple(
            (col, op, v) for (col, op, v) in self.pushed if op in ("=", "in")
        )
        sidecars = {
            f: (fstats.get(f) or {}).get("__bloom__", "") for f in files
        } if eq else {}
        budget = (
            self.bloom_driver_max
            if self.bloom_driver_max is not None
            else _bloom.DRIVER_PRUNE_MAX
        )
        if eq and len(files) <= budget:
            files = [
                f
                for f in files
                if not sidecars[f]
                or _bloom.file_may_match_bloom(sidecars[f], eq)
            ]
            sidecars = {}  # already proven on the driver — don't re-probe
        return [
            _FilePartition(
                file=f,
                schema_json=schema_json,
                filters=tuple(self.pushed),
                dv_files=dv,
                bloom_sidecar=sidecars.get(f, ""),
            )
            for f in files
        ] or [
            # empty table / all files skipped: one empty partition keeps
            # the scan well-formed
            _FilePartition(file="", schema_json=schema_json)
        ]

    def read(self, partition: _FilePartition):
        if not partition.file:
            return iter(())
        return _arrow_batches(partition)


class _PushdownBatchReader(_BatchReader):
    """Pushdown-aware snapshot reader. ``pushFilters`` (Spark 4.1)
    records the conjunctive predicates; planning then skips every data
    file whose committed per-file [min, max] stats (written by
    ``VersionedTable`` compaction and carried across commits) disprove
    the conjunction — the scan never pays listing/footer cost for cold
    files, same contract as the native ``read_between``. Surviving
    partitions forward the predicates to pyarrow for row-group
    skipping. EVERY filter is also returned to Spark for re-evaluation,
    so pruning is strictly an IO reducer: stale/absent stats only cost
    bytes, never rows."""

    def pushFilters(self, filters):
        for f in filters:
            c = _simple_filter(f)
            if c is not None:
                self.pushed.append(c)
            yield f  # Spark re-applies everything: exactness never rides stats


class _ChangeFeedStreamReader(DataSourceStreamReader):
    """Partition-based CDF tail (round 8 — replaces the Simple reader,
    whose harness prefetched every micro-batch's rows ON THE DRIVER: a
    funnel at 100 TB). Offsets are commit versions: {'version': v}
    means 'everything through commit v has been delivered'. Each
    micro-batch plans ONE InputPartition PER CDF FILE of the commits in
    (start, end], so rows ship as executor-side Arrow record batches
    with parallelism = CDF file count, matching the native
    ``VersionedTable.change_feed`` posture. Replay of an uncommitted
    epoch re-plans the same files under the same (end-commit) schema —
    deterministic.

    ``max_files_per_trigger`` (option ``maxFilesPerTrigger``) is the
    100 TB backlog-catch-up control (the Delta option of the same
    name): a consumer resuming from an old watermark drains the CDF in
    bounded micro-batches instead of planning days of backlog as one —
    ``latestOffset`` advances the end version only as far as the file
    budget allows (always ≥ 1 commit, so a single over-budget commit
    still flows). ``availableNow``/repeated triggers still drain fully;
    the only unbounded batch is the first after a checkpointed restart
    whose resume point the reader hasn't yet observed (Spark never
    hands latestOffset the checkpoint — partitions()/commit() sync it
    as soon as they run)."""

    def __init__(
        self,
        path: str,
        start_version: int,
        row_schema: T.StructType,
        max_files_per_trigger: int | None = None,
        initial_snapshot: bool = False,
        max_bytes_per_trigger: int | None = None,
    ):
        self.path = path
        self.start_version = start_version
        self.max_files = max_files_per_trigger
        # Delta's maxBytesPerTrigger twin: a soft byte cap per
        # micro-batch (≥1 commit / ≥1 snapshot file always flows, so an
        # over-budget commit can't wedge the stream). Files bound task
        # COUNT; bytes bound what executors actually hold — the knob
        # that matters when backlog file sizes vary 100× at scale.
        self.max_bytes = max_bytes_per_trigger
        # Delta's default readStream semantics (initialSnapshot=true):
        # first micro-batch = the CURRENT snapshot as insert images (one
        # partition per data file, DV-masked executor-side), then the
        # CDF tail from that version on. The bootstrap for tables whose
        # early CDF is unreadable by design: clones (no CDF at v0) and
        # vacuumed histories. Offset {'version': v, 'snapshot': ...}
        # phases are self-describing, so a checkpointed restart replays
        # the snapshot batch without reader state.
        self.initial_snapshot = initial_snapshot
        self._snap_state: str | None = None
        self._snap_base: int | None = None
        self._snap_n: int | None = None  # file count of the base commit
        self._snap_files: list[str] = []  # cached alongside _snap_n
        self._pos: int | None = None  # last end version this reader saw
        # declared output schema minus the appended version column: every
        # commit's CDF aligns to THIS (older files null-fill newer columns)
        self.row_schema_json = T.StructType(
            [f for f in row_schema.fields if f.name != VERSION_COL]
        ).json()

    def initialOffset(self):
        if self.initial_snapshot:
            self._snap_base = log.latest_version_in(log.dir_of(self.path))
            self._snap_state = "pending"
            self._snap_pos = 0
            self._pos = self._snap_base
            return {"version": self._snap_base, "snapshot": "pending", "pos": 0}
        self._pos = self.start_version
        return {"version": self.start_version}

    def latestOffset(self):
        if self._snap_state == "pending":
            # deliver the snapshot in maxFilesPerTrigger-sized slices;
            # 'done' marks 'everything through base delivered'
            base = self._snap_base
            p = self._snap_pos or 0
            if self._snap_n is None:
                # cache the (possibly delta-encoded) commit's file list
                # so the byte-budget path below doesn't re-materialize
                # the parent chain a second time per trigger
                self._snap_files = log.read_commit(
                    log.dir_of(self.path), base, where=f"{self.path}: "
                ).files
                self._snap_n = len(self._snap_files)
            n = self._snap_n
            take = n - p
            if self.max_files is not None:
                take = min(take, self.max_files)
            if self.max_bytes is not None and take > 0:
                # shrink the slice to the byte budget (≥1 file)
                files = self._snap_files[p : p + take]
                acc = 0
                cnt = 0
                for f in files:
                    try:
                        acc += os.path.getsize(f)
                    except OSError:
                        pass
                    cnt += 1
                    if acc >= self.max_bytes:
                        break
                take = max(1, cnt)
            if p + take < n:
                return {
                    "version": base,
                    "snapshot": "pending",
                    "pos": p + take,
                }
            return {"version": base, "snapshot": "done"}
        log_dir = log.dir_of(self.path)
        latest = log.latest_version_in(log_dir)
        if (self.max_files is None and self.max_bytes is None) or self._pos is None:
            # _pos None = a checkpointed restart whose resume point this
            # reader has not observed yet (Spark hands the checkpoint to
            # partitions()/commit(), never to latestOffset) — including
            # a restart mid-initial-snapshot. That one recovery
            # micro-batch is UNBOUNDED (snapshot remainder + full CDF
            # tail, maxFilesPerTrigger not applied); exactness is
            # preserved by the mixed-pair handling in partitions(), and
            # rate limiting resumes from the next trigger on.
            return {"version": latest}
        fbudget = self.max_files if self.max_files is not None else float("inf")
        bbudget = self.max_bytes if self.max_bytes is not None else float("inf")
        end = self._pos
        for v in range(self._pos + 1, latest + 1):
            # cdf_files is never delta-encoded: the raw record counts
            # the backlog without materializing parent chains per trigger
            cdf = log.read_raw(log_dir, v).get("cdf_files", [])
            n = len(cdf)
            b = 0
            if self.max_bytes is not None:
                for f in cdf:
                    try:
                        b += os.path.getsize(f)
                    except OSError:
                        pass
            if (n > fbudget or b > bbudget) and end > self._pos:
                break  # budget spent (but always admit ≥ 1 commit)
            fbudget -= n
            bbudget -= b
            end = v
        return {"version": end}

    def commit(self, end: dict) -> None:
        v = end["version"]
        if end.get("snapshot") == "pending":
            # checkpointed-restart recovery: this reader instance may
            # never have seen initialOffset, so the base version must
            # come back from the offset itself or the next
            # latestOffset would format None into a commit path
            self._snap_state = "pending"
            self._snap_base = v
            self._snap_pos = end.get("pos", 0)
        elif end.get("snapshot") == "done":
            self._snap_state = "done"
        if self._pos is None or v > self._pos:
            self._pos = v

    def _read_schema_json(self, end_version: int) -> str:
        """Declared columns re-armed with the END commit's field-id
        metadata: the per-file arrow projection then id-matches a
        renamed column's pre-rename CDF exactly like the batch/native
        read paths (the declared schema itself is deliberately id-free —
        the streaming runner asserts arrow schemas against it
        byte-for-byte). Pinned to the end commit, not 'latest', so an
        epoch replay plans identically even after later commits."""
        declared = T.StructType.fromJson(json.loads(self.row_schema_json))
        commit_schema = T.StructType.fromJson(
            json.loads(
                log.read_commit(
                    log.dir_of(self.path), end_version, where=f"{self.path}: "
                ).schema_json
            )
        )
        by_name = {f.name: f for f in commit_schema.fields}
        fields = []
        for f in declared.fields:
            src = by_name.get(f.name)
            if src is not None and src.metadata and log.FIELD_ID in src.metadata:
                fields.append(
                    T.StructField(
                        f.name,
                        f.dataType,
                        f.nullable,
                        {log.FIELD_ID: src.metadata[log.FIELD_ID]},
                    )
                )
            else:
                fields.append(f)
        return T.StructType(fields).json()

    def partitions(self, start: dict, end: dict):
        lo, hi = start["version"], end["version"]
        if self._pos is None or hi > self._pos:
            self._pos = hi  # sync after a checkpointed restart
        parts = []
        log_dir = log.dir_of(self.path)
        if start.get("snapshot") == "pending":
            # bootstrap batch(es): the snapshot at `lo` as insert images,
            # sliced by the offsets' file positions (maxFilesPerTrigger).
            # Derived purely from the offset pair, so a checkpointed
            # restart replays any slice identically with no reader state.
            p0 = start.get("pos", 0)
            c = log.read_commit(log_dir, lo, where=f"{self.path}: ")
            snap_files = c.files
            if end.get("snapshot") == "pending":
                sel = snap_files[p0 : end["pos"]]
                self._snap_state = "pending"
                self._snap_base = lo
                self._snap_pos = end["pos"]
            else:
                # end is 'done' — or, after a restart whose reader never
                # saw the pending state, a PLAIN tail offset: that mixed
                # pair covers the snapshot remainder AND the commits
                # (lo, hi], handled by falling through to the tail loop
                sel = snap_files[p0:]
                self._snap_state = "done"
            snap_schema = T.StructType(
                [
                    f
                    for f in T.StructType.fromJson(
                        json.loads(self._read_schema_json(lo))
                    ).fields
                    if f.name != CHANGE_TYPE_COL
                ]
            ).json()
            dv = tuple(c.dv_files)
            parts.extend(
                _FilePartition(
                    file=f,
                    schema_json=snap_schema,
                    extra=((CHANGE_TYPE_COL, "insert"), (VERSION_COL, lo)),
                    dv_files=dv,
                )
                for f in sel
            )
            if "snapshot" in end:
                return parts
        if hi <= lo:
            return parts
        schema_json = self._read_schema_json(hi)
        for v in range(lo + 1, hi + 1):
            # stats flags and cdf_files are never delta-encoded: the
            # raw record suffices, no parent-chain materialization
            c = log.read_raw(log_dir, v)
            if (c.get("stats") or {}).get("cdf_schema_break"):
                # incompatible retype: no pre-images exist for this
                # commit — the tail cannot cross it (same contract as
                # the native change_feed); fail the query loudly so
                # the consumer re-bootstraps from a snapshot
                raise ValueError(
                    f"change feed crosses an incompatible schema "
                    f"change at version {v}; restart the stream from "
                    f"a snapshot with startingVersion={v}"
                )
            if (c.get("stats") or {}).get("cdf_absent"):
                # clone commits carry no CDF files by design — same
                # re-bootstrap contract as the native change_feed
                raise ValueError(
                    f"version {v} is a clone commit with no change-data "
                    f"files; restart the stream from a snapshot with "
                    f"startingVersion={v}"
                )
            for f in c.get("cdf_files", []):
                parts.append(
                    _FilePartition(
                        file=f,
                        schema_json=schema_json,
                        extra=((VERSION_COL, v),),
                    )
                )
        return parts

    def read(self, partition: _FilePartition):
        return _arrow_batches(partition)


@dataclass
class _WriteResult(WriterCommitMessage):
    data_file: str | None
    cdf_file: str | None
    rows: int


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


def _write_task_files(path: str, iterator, field_ids: dict[str, int]) -> _WriteResult:
    """Executor half of the write protocols: stream this task's Arrow
    batches into one immutable data file + one insert-image CDF file.
    Files become live only if a later driver commit references them."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    batches = [b for b in iterator if b.num_rows]
    if not batches:
        return _WriteResult(None, None, 0)
    tbl = _stamp_field_ids(pa.Table.from_batches(batches), field_ids)
    token = uuid.uuid4().hex
    data_dir = os.path.join(path, "_data", f"ds-{token}")
    cdf_dir = os.path.join(path, "_cdf", f"ds-{token}")
    os.makedirs(data_dir, exist_ok=True)
    os.makedirs(cdf_dir, exist_ok=True)
    data_file = os.path.join(data_dir, "part-00000.parquet")
    cdf_file = os.path.join(cdf_dir, "part-00000.parquet")
    pq.write_table(tbl, data_file)
    pq.write_table(
        tbl.append_column(CHANGE_TYPE_COL, pa.array(["insert"] * tbl.num_rows)),
        cdf_file,
    )
    return _WriteResult(data_file, cdf_file, tbl.num_rows)


def _latest_commit(path: str) -> log.Commit | None:
    """The table's latest commit, or None while it has none."""
    log_dir = log.dir_of(path)
    try:
        v = log.latest_version_in(log_dir)
    except FileNotFoundError:
        return None
    return log.read_commit(log_dir, v, where=f"{path}: ")


def _refuse_unmaintainable(path: str, prev: log.Commit | None) -> None:
    """The format writers maintain none of the invariants table metadata
    can bind (CHECK and NOT NULL enforcement needs a validation scan;
    generated, identity and DEFAULT columns need values computed per
    row), nor a catalog registration (its sync needs DDL): refuse such
    a table loudly instead of committing rows that break them. Checked
    when a write starts and again on the commit it publishes on
    (``prev``, the latest): a DDL landing after that read takes version
    prev+1 first, so the publish conflicts."""
    bound = log.metadata_features((prev.metadata or {}) if prev else {})
    if bound:
        raise ValueError(
            "format('versioned') writers cannot maintain the table's "
            "CHECK/NOT NULL constraints or generated, identity and "
            f"DEFAULT columns (bound: {sorted(bound)}); use "
            "VersionedTable.append/overwrite (foreachBatch for streams)"
        )
    if os.path.exists(os.path.join(path, "_registration.json")):
        raise ValueError(
            "table is catalog-registered; the registration sync needs "
            "a SparkSession — use VersionedTable.append/overwrite "
            "(foreachBatch for streams)"
        )


def _plan_commit_schema(
    path: str, new_schema: T.StructType, overwrite: bool
) -> T.StructType:
    """Driver-side schema planning against the table's CURRENT commit:
    returns the exact schema a commit made now would publish — merged
    with fresh ids for evolved-in columns (append), carried/fresh ids
    (overwrite), or id-mapped-from-birth (create). Run BEFORE tasks
    write files so the files holding a new column's data carry its id;
    re-run at commit time as the concurrency guard."""
    prev = _latest_commit(path)
    if prev is None:
        return log.with_field_ids(new_schema)
    prev_schema = T.StructType.fromJson(json.loads(prev.schema_json))
    floor = int(prev.stats.get("max_field_id", 0))
    if overwrite:
        return log.replaced_schema(prev_schema, new_schema, floor)
    return log.merged_schema(prev_schema, new_schema, floor)


def _drop_files(messages) -> None:
    for m in messages:
        if m is None:
            continue
        for f in (m.data_file, m.cdf_file):
            if f and os.path.exists(f):
                os.remove(f)


class _VersionedWriter(DataSourceArrowWriter):
    """Distributed write with an atomic driver-side commit — the
    DataSource V2 writer protocol mapped 1:1 onto the table format's
    own commit protocol:

    * each write TASK streams its Arrow batches into one immutable
      parquet data file plus one insert-image CDF file (no row ever
      passes through the driver);
    * ``commit(messages)`` publishes ONE commit record referencing the
      task files through the shared log writer (``log.commit``,
      put-if-absent), so a failed/duplicated task attempt leaves only
      invisible garbage (Spark retries tasks; only the files named in
      the committed messages become live);
    * ``abort()`` deletes whatever the failed attempt wrote.

    Refused (use the native ``VersionedTable`` API, which holds a
    SparkSession): see ``_refuse_unmaintainable``.
    ``mode("overwrite")`` emits delete pre-images for the previous
    snapshot to the change feed — converted file-by-file on the driver
    via pyarrow (delta-sized driver IO; the JVM-path ``overwrite()``
    remains the hot path for large replaces)."""

    def __init__(self, path: str, schema: T.StructType, overwrite: bool):
        self.path = os.path.abspath(path)
        # strip inherited field ids: the input df may come from reading
        # other versioned tables (ids in column metadata, possibly
        # colliding), while this writer's task files carry only the ids
        # the TARGET table's commit schema defines (_stamp_field_ids)
        self.schema_json = log.strip_ids(schema).json()
        self.overwrite = overwrite
        _refuse_unmaintainable(self.path, _latest_commit(self.path))
        # plan the commit schema NOW, before any task writes a file:
        # evolved-in columns get their fresh field ids here, so the very
        # files holding their data carry the ids the read path matches
        # on (also rejects append-retypes before paying any write IO)
        planned = _plan_commit_schema(
            self.path,
            T.StructType.fromJson(json.loads(self.schema_json)),
            overwrite,
        )
        self.task_field_ids = _ids_of(planned)

    def _guard_ids(self, planned_now: T.StructType) -> None:
        """Commit-time concurrency guard: if re-planning against the
        now-current commit assigns any of THIS write's columns a
        different field id than was stamped into its task files (a
        concurrent writer evolved the schema in between), committing
        would publish files whose ids lie — fail loudly instead."""
        ours = {
            f.name
            for f in T.StructType.fromJson(json.loads(self.schema_json)).fields
        }
        now = {n: i for n, i in _ids_of(planned_now).items() if n in ours}
        then = {n: i for n, i in self.task_field_ids.items() if n in ours}
        if now != then:
            raise log.CommitConflictError(
                "concurrent schema change invalidated the field ids "
                "stamped into this write's task files — re-run the write"
            )

    # -- executor side ------------------------------------------------------

    def write(self, iterator):
        return _write_task_files(self.path, iterator, self.task_field_ids)

    # -- driver side ----------------------------------------------------------

    def _delete_preimages(
        self, prev: log.Commit, new_schema: T.StructType
    ) -> list[str]:
        """Overwrite CDF: previous snapshot rows re-emitted as deletes,
        one CDF file per previous data file (pyarrow, driver-local).
        Pre-images are ALIGNED to the NEW commit schema — one commit's
        CDF files share one schema (same rule as the native overwrite:
        the per-commit-schema change feed would misread a mixed-schema
        commit after a full-replace retype). Columns map by field id
        first (rename-proof), by name otherwise; dropped columns fall
        away, added ones null-fill, retypes cast."""
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_type

        out = []
        prev_schema = T.StructType.fromJson(json.loads(prev.schema_json))
        prev_by_id = {
            int(f.metadata[log.FIELD_ID]): f
            for f in prev_schema.fields
            if f.metadata and log.FIELD_ID in f.metadata
        }
        prev_names = {f.name for f in prev_schema.fields}
        new_ids = _ids_of(new_schema)
        prev_dv = tuple(prev.dv_files)
        for f in prev.files:
            # DV-applied: a row already deleted by vector must not be
            # retracted a second time by the overwrite's pre-images
            part = _FilePartition(
                file=f, schema_json=prev.schema_json, dv_files=prev_dv
            )
            batches = list(_arrow_batches(part))
            if not batches:
                continue
            src = pa.Table.from_batches(batches)  # prev logical layout
            cols, names = [], []
            for fld in new_schema.fields:
                names.append(fld.name)
                at = to_arrow_type(fld.dataType)
                fid = (fld.metadata or {}).get(log.FIELD_ID)
                src_f = (
                    prev_by_id.get(int(fid))
                    if fid is not None and int(fid) in prev_by_id
                    else (
                        prev_schema[fld.name]
                        if fld.name in prev_names
                        else None
                    )
                )
                if src_f is None:
                    cols.append(pa.nulls(src.num_rows, type=at))
                else:
                    col = src.column(src_f.name)
                    cols.append(col.cast(at) if col.type != at else col)
            tbl = _stamp_field_ids(pa.table(dict(zip(names, cols))), new_ids)
            d = os.path.join(self.path, "_cdf", f"ds-{uuid.uuid4().hex}")
            os.makedirs(d, exist_ok=True)
            dst = os.path.join(d, "part-00000.parquet")
            pq.write_table(
                tbl.append_column(
                    CHANGE_TYPE_COL, pa.array(["delete"] * tbl.num_rows)
                ),
                dst,
            )
            out.append(dst)
        return out

    def commit(self, messages):
        import time

        new_files = sorted(m.data_file for m in messages if m.data_file)
        new_cdf = sorted(m.cdf_file for m in messages if m.cdf_file)
        # re-plan against the NOW-current commit (a writer may have
        # landed since __init__) and verify our task files' stamped ids
        # still agree — then commit the re-planned schema, which also
        # folds in any columns a concurrent plain append introduced
        planned_now = _plan_commit_schema(
            self.path,
            T.StructType.fromJson(json.loads(self.schema_json)),
            self.overwrite,
        )
        self._guard_ids(planned_now)
        log_dir = log.dir_of(self.path)
        prev = _latest_commit(self.path)
        _refuse_unmaintainable(self.path, prev)
        if prev is None:
            log.commit(
                log_dir,
                {
                    "version": 0,
                    "op": "create",
                    "files": new_files,
                    "cdf_files": new_cdf,
                    # id-mapped from birth, like native create
                    "schema_json": planned_now.json(),
                    "ts": time.time(),
                    "stats": {},
                },
                where=f"{self.path}: ",
            )
            return
        stats: dict = {}
        if self.overwrite:
            # full replace: the NEW dataframe's columns become the table
            # schema, exactly as native VersionedTable.overwrite —
            # merging would resurrect dropped columns as phantom
            # all-null columns, and a full replace may legitimately
            # retype (no surviving rows to misread). Same-name/same-type
            # columns keep their field ids; the table stays id-mapped.
            from ..pipeline.tables import _cdf_representable

            schema_json = planned_now.json()
            files = new_files
            op = "overwrite"
            if _cdf_representable(
                T.StructType.fromJson(json.loads(prev.schema_json)),
                planned_now,
            ):
                cdf = self._delete_preimages(prev, planned_now) + new_cdf
            else:
                # incompatible retype: old values have no pre-image in
                # the new schema — CDF continuity breaks (same contract
                # as native overwrite); the task-written insert images
                # are dropped too, a half-feed would mislead consumers
                _drop_files(
                    [_WriteResult(None, f, 0) for f in new_cdf]
                )
                cdf = []
                stats["cdf_schema_break"] = True
        else:
            schema_json = planned_now.json()
            files = list(prev.files) + new_files
            cdf = new_cdf
            op = "append"
            kept = {
                f: s
                for f, s in (prev.stats.get("file_stats") or {}).items()
                if f in set(prev.files)
            }
            if kept:
                stats["file_stats"] = kept
        log.commit(
            log_dir,
            {
                "version": prev.version + 1,
                "op": op,
                "files": files,
                "cdf_files": cdf,
                "schema_json": schema_json,
                "ts": time.time(),
                "stats": stats,
                # append preserves the deletion vectors (its new files
                # have no entries); overwrite replaces every data file,
                # so the vectors are spent
                "dv_files": [] if self.overwrite else list(prev.dv_files),
            },
            where=f"{self.path}: ",
        )

    def abort(self, messages):
        _drop_files(messages)


_STREAM_TXN_APP = "__versioned_stream_sink"


class _VersionedStreamWriter(DataSourceStreamArrowWriter):
    """Streaming sink: every micro-batch is one append commit, made
    exactly-once by the same writer-transaction watermark the native
    API uses (``txn_app``/``txn_version``): the epoch id rides the
    commit's txn stats, and a replayed epoch (restart from checkpoint
    between sink commit and engine commit) is detected on the driver —
    its freshly written task files are deleted as garbage instead of
    committed twice."""

    def __init__(self, path: str, schema: T.StructType):
        self.path = os.path.abspath(path)
        self.schema_json = log.strip_ids(schema).json()  # see batch writer
        _refuse_unmaintainable(self.path, _latest_commit(self.path))
        # same driver-side planning as the batch writer: evolved-in
        # columns' fresh field ids are known before epoch 0's tasks
        # write a single file (and an append-retype fails the query
        # at start instead of per-epoch at commit)
        planned = _plan_commit_schema(
            self.path,
            T.StructType.fromJson(json.loads(self.schema_json)),
            overwrite=False,
        )
        self.task_field_ids = _ids_of(planned)

    _guard_ids = _VersionedWriter._guard_ids

    def write(self, iterator):
        return _write_task_files(self.path, iterator, self.task_field_ids)

    def commit(self, messages, batchId: int) -> None:
        import time

        new_files = sorted(m.data_file for m in messages if m and m.data_file)
        new_cdf = sorted(m.cdf_file for m in messages if m and m.cdf_file)
        # re-plan + id guard per epoch (see batch writer): after OUR
        # first evolving commit the merged schema IS the current commit
        # schema, so re-planning is a fixed point and the guard passes;
        # a concurrent writer moving the ids under us conflicts loudly
        merged = _plan_commit_schema(
            self.path,
            T.StructType.fromJson(json.loads(self.schema_json)),
            overwrite=False,
        )
        self._guard_ids(merged)
        log_dir = log.dir_of(self.path)
        prev = _latest_commit(self.path)
        _refuse_unmaintainable(self.path, prev)
        if prev is None:
            log.commit(
                log_dir,
                {
                    "version": 0,
                    "op": "create",
                    "files": new_files,
                    "cdf_files": new_cdf,
                    # id-mapped from birth, like native create
                    "schema_json": merged.json(),
                    "ts": time.time(),
                    "stats": {"txn": {_STREAM_TXN_APP: batchId}},
                },
                where=f"{self.path}: ",
            )
            return
        seen = (prev.stats.get("txn") or {}).get(_STREAM_TXN_APP)
        if seen is not None and batchId <= seen:
            _drop_files(messages)  # replayed epoch: structural no-op
            return
        stats: dict = {"txn": {_STREAM_TXN_APP: batchId}}
        kept = {
            f: s
            for f, s in (prev.stats.get("file_stats") or {}).items()
            if f in set(prev.files)
        }
        if kept:
            stats["file_stats"] = kept
        log.commit(
            log_dir,
            {
                "version": prev.version + 1,
                "op": "append",
                "files": list(prev.files) + new_files,
                "cdf_files": new_cdf,
                "schema_json": merged.json(),
                "ts": time.time(),
                "stats": stats,
                "dv_files": list(prev.dv_files),
            },
            where=f"{self.path}: ",
        )

    def abort(self, messages, batchId: int) -> None:
        _drop_files(messages)


class VersionedTableDataSource(DataSource):
    """Format name ``versioned``. Options: ``path`` (required),
    ``version`` / ``timestampAsOf`` (batch time travel), ``feed=changes``
    + ``startingVersion`` / ``startingTimestamp`` / ``initialSnapshot``
    (current snapshot as insert images first, then the tail — the
    bootstrap for clones and vacuumed histories) +
    ``maxFilesPerTrigger`` / ``maxBytesPerTrigger`` (streaming CDF
    tail); writable via
    ``df.write.format("versioned").mode("append"|"overwrite")``."""

    @classmethod
    def name(cls) -> str:
        return "versioned"

    def _path(self) -> str:
        p = self.options.get("path")
        if not p:
            raise ValueError("option 'path' is required for format 'versioned'")
        return p

    def _columns(self) -> list[str] | None:
        cols = self.options.get("columns")
        if not cols:
            return None
        return [c.strip() for c in cols.split(",") if c.strip()]

    def _version_option(self, path: str) -> int | None:
        """Resolve version / timestampAsOf (mutually exclusive) to a
        concrete commit version; None = latest. timestampAsOf uses the
        native resolution rule (last commit at or before the moment)."""
        v = self.options.get("version")
        ts = self.options.get("timestampAsOf")
        if v is not None and ts is not None:
            raise ValueError("pass option 'version' OR 'timestampAsOf', not both")
        if ts is not None:
            from ..pipeline.tables import _as_epoch

            t = _as_epoch(float(ts) if ts.replace(".", "", 1).isdigit() else ts)
            best = None
            log_dir = log.dir_of(path)
            for ver in log.versions(log_dir):
                if float(log.read_raw(log_dir, ver).get("ts", 0.0)) <= t:
                    best = ver
            if best is None:
                raise ValueError(
                    f"timestampAsOf {ts!r} predates the first commit"
                )
            return best
        return int(v) if v is not None else None

    def schema(self):
        path = self._path()
        v = self._version_option(path)
        log_dir = log.dir_of(path)
        ver = v if v is not None else log.latest_version_in(log_dir)
        # the DECLARED schema is metadata-free: Spark's streaming runner
        # asserts arrow-batch schemas against it byte-for-byte, and field
        # ids are an internal storage concern — partition planning
        # re-reads the commit schema (ids intact) for column matching
        base = log.strip_ids(
            T.StructType.fromJson(
                json.loads(
                    log.read_commit(log_dir, ver, where=f"{path}: ").schema_json
                )
            )
        )
        if self.options.get("feed") == "changes":
            return base.add(CHANGE_TYPE_COL, T.StringType()).add(
                VERSION_COL, T.LongType()
            )
        want = self._columns()
        if want:
            have = {f.name for f in base.fields}
            missing = [c for c in want if c not in have]
            if missing:
                raise ValueError(
                    f"option 'columns' names unknown columns {missing} "
                    f"(table has {sorted(have)})"
                )
            keep = set(want)
            # explicit projection pruning: the Python DataSource API has
            # no column-pruning hook (only pushFilters), so the format
            # offers it as an option — only these columns' bytes are
            # read/decoded/shipped
            return T.StructType([f for f in base.fields if f.name in keep])
        return base

    def reader(self, schema):
        # pushdown needs spark.sql.python.filterPushdown.enabled (set by
        # build_spark); Spark REJECTS a pushFilters-implementing reader
        # when the flag is off, so option("pushdown","false") selects
        # the plain reader for flag-off sessions
        want_pushdown = str(self.options.get("pushdown", "true")).lower() != "false"
        cls = _PushdownBatchReader if want_pushdown else _BatchReader
        bdm = self.options.get("bloomDriverPruneMax")
        return cls(
            self._path(),
            self._version_option(self._path()),
            self._columns(),
            bloom_driver_max=int(bdm) if bdm is not None else None,
        )

    def writer(self, schema, overwrite: bool):
        return _VersionedWriter(self._path(), schema, overwrite)

    def streamWriter(self, schema, overwrite: bool):
        return _VersionedStreamWriter(self._path(), schema)

    def streamReader(self, schema):
        if self.options.get("feed") != "changes":
            raise ValueError(
                "streaming requires option 'feed'='changes' (CDF tail)"
            )
        snap = str(self.options.get("initialSnapshot", "false")).lower() == "true"
        sts = self.options.get("startingTimestamp")
        if snap:
            if sts is not None or self.options.get("startingVersion") is not None:
                raise ValueError(
                    "'initialSnapshot' replaces 'startingVersion'/"
                    "'startingTimestamp': the stream begins with the "
                    "current snapshot, then tails changes from it"
                )
            mft = self.options.get("maxFilesPerTrigger")
            mbt = self.options.get("maxBytesPerTrigger")
            return _ChangeFeedStreamReader(
                self._path(),
                -1,
                schema,
                max_files_per_trigger=int(mft) if mft is not None else None,
                initial_snapshot=True,
                max_bytes_per_trigger=int(mbt) if mbt is not None else None,
            )
        if sts is not None:
            if self.options.get("startingVersion") is not None:
                raise ValueError(
                    "pass 'startingVersion' OR 'startingTimestamp', not both"
                )
            from ..pipeline.tables import _as_epoch

            t = _as_epoch(
                float(sts) if sts.replace(".", "", 1).isdigit() else sts
            )
            # deliver every commit stamped at-or-after t (Delta's
            # startingTimestamp): the start OFFSET is the last version
            # strictly before it
            start = -1
            log_dir = log.dir_of(self._path())
            for v in log.versions(log_dir):
                if float(log.read_raw(log_dir, v).get("ts", 0.0)) < t:
                    start = v
        else:
            start = int(self.options.get("startingVersion", -1))
        mft = self.options.get("maxFilesPerTrigger")
        mbt = self.options.get("maxBytesPerTrigger")
        return _ChangeFeedStreamReader(
            self._path(),
            start,
            schema,
            max_files_per_trigger=int(mft) if mft is not None else None,
            max_bytes_per_trigger=int(mbt) if mbt is not None else None,
        )


def register(spark) -> None:
    spark.dataSource.register(VersionedTableDataSource)
