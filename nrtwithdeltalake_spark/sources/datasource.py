"""``versioned`` — a Spark 4 Python DataSource exposing VersionedTable
as a first-class, read-only format:

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

The format has no writer: every write commits through ``VersionedTable``
and its one commit loop, so ``df.write.format("versioned")`` and
``writeStream.format("versioned")`` fail in pyspark's base
``DataSource`` before any file is written. Streams write through
``foreachBatch`` and ``VersionedTable.merge(txn_app=...)``.

Scale notes: partition planning is O(files) metadata; each partition
reads one parquet file with ``pipeline/files.py``'s per-file reader and
yields its record batches (Arrow end-to-end — the Python layer never
touches rows). Schema evolution is honored the same way
``VersionedTable._read_files`` does it: carried-over files physically
missing newer columns yield nulls.
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

from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, DataSourceReader, DataSourceStreamReader

from ..pipeline import bloom as _bloom
from ..pipeline import log
from ..pipeline.files import _arrow_batches, _FilePartition

CHANGE_TYPE_COL = "_change_type"
VERSION_COL = "_commit_version"


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
        for c in log.change_records(log_dir, lo, hi, where=f"{self.path}: "):
            parts.extend(
                _FilePartition(
                    file=f,
                    schema_json=schema_json,
                    extra=((VERSION_COL, c["version"]),),
                )
                for f in c.get("cdf_files", [])
            )
        return parts

    def read(self, partition: _FilePartition):
        return _arrow_batches(partition)


class VersionedTableDataSource(DataSource):
    """Format name ``versioned``. Options: ``path`` (required),
    ``version`` / ``timestampAsOf`` (batch time travel), ``feed=changes``
    + ``startingVersion`` / ``startingTimestamp`` / ``initialSnapshot``
    (current snapshot as insert images first, then the tail — the
    bootstrap for clones and vacuumed histories) +
    ``maxFilesPerTrigger`` / ``maxBytesPerTrigger`` (streaming CDF
    tail). Read-only: write through ``VersionedTable``."""

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
