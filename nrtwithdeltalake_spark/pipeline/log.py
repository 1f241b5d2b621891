"""The table log: every byte under ``_log/`` is read and written here.

A table is a set of immutable data files plus an ordered log of JSON
commit records (``_log/<version>.json``), each naming the version's full
live file list, schema, stats, reader/writer protocol and table
metadata (Delta Lake's log, VLDB'20 §3.1). This module owns that log
for both writers — the native ``VersionedTable`` and the
SparkSession-free ``versioned`` DataSource:

* raw and materialized record reads, the version list and the
  ``_last_checkpoint`` pointer;
* the reader and writer protocol gates;
* ``prepare`` — every rule a commit carries from its predecessor
  (protocol features, monotone timestamps, the field-id and identity
  high-water marks, writer-transaction watermarks, table metadata, the
  COPY INTO registry fold);
* ``merged_schema`` / ``replaced_schema`` — the commit schema of an
  append or a full replace, for both writers;
* ``commit`` — prepare, delta-encode and publish put-if-absent.

Table metadata (CHECK and NOT NULL constraints, properties including
identity definitions, partition columns, generated columns and column
defaults) rides each commit's ``metadata`` dict, the analog of Delta's
``metaData`` action, so DDL is one atomic commit like any other.
Logs written before that kept it in sidecar files beside the log;
``metadata_of`` reads them while the latest commit has no ``metadata``
key, and the next commit carries what it found. Every commit with
metadata advertises the ``table_metadata`` writer feature, so an engine
that still keeps metadata in sidecars refuses to write such a table
instead of publishing a commit that drops it.

Delta encoding — the log-compaction half of Delta's log + checkpoint
design. Why: every commit names the table's FULL live file list (plus
the cumulative DV sidecar list). Self-contained records make snapshot
reads O(1) log IO, but at 100 TB (~10^5-10^6 files after compaction)
each of the two cumulative lists is tens of MB of JSON — and a
merge-heavy table rewrites that payload EVERY commit, so the log grows
with (commits × live files), not (commits + file churn).

How: a commit whose list differs little from its parent stores only the
diff — ``{key}_base`` (the parent version), ``{key}_add`` (appended
entries, order preserved), ``{key}_del`` (removed entries) — and a
reader materializes by walking the parent chain. Every
``CHECKPOINT_EVERY``-th version stores the full lists, bounding the
walk (Delta's checkpoint cadence, default 10 commits, same idea).
Per-commit log cost becomes O(churn), which for append/merge/DV-delete
traffic is the task count, not the table size.

Exactness is structural, not assumed: the encoder DECODES its own diff
and falls back to the full list unless the roundtrip reproduces the
original list bit-for-bit (ordering included) — ops that arbitrarily
reorder (restore, compaction) simply store full lists. Old logs (full
lists everywhere) need no migration, and an encoded log stays readable
by version-pinned readers because materialization is pure local JSON.
"""

from __future__ import annotations

import copy
import dataclasses
import json
import os
import tempfile
from dataclasses import dataclass

from pyspark.sql import types as T

CHECKPOINT_EVERY = 20

_LISTS = (
    ("files", "files_base", "files_add", "files_del"),
    ("dv_files", "dv_files_base", "dv_files_add", "dv_files_del"),
)


def encode(record: dict, parent: dict | None) -> dict:
    """Delta-encode ``record``'s cumulative lists against the
    MATERIALIZED ``parent`` record where beneficial and exact; returns
    a new dict (never mutates). Checkpoint versions and shrink-less
    diffs pass through unchanged."""
    version = record.get("version", 0)
    if parent is None or version % CHECKPOINT_EVERY == 0:
        return dict(record)
    out = dict(record)
    for key, kb, ka, kd in _LISTS:
        cur = list(record.get(key) or [])
        par = list(parent.get(key) or [])
        cur_set = set(cur)
        par_set = set(par)
        add = [f for f in cur if f not in par_set]
        dele = sorted(f for f in par if f not in cur_set)
        if len(add) + len(dele) >= len(cur):
            continue  # the diff doesn't shrink the payload
        if [f for f in par if f in cur_set] + add != cur:
            continue  # reordered list: a diff can't reproduce it exactly
        out.pop(key)
        out[kb] = version - 1
        out[ka] = add
        out[kd] = dele
    # per-file skipping stats are the other O(live files) payload: a
    # commit carrying stats for 10^5 files re-serializes them all even
    # when only a handful of files changed (_carry_stats copies the
    # dict forward). Diff the dict the same way — entries are matched
    # by key with exact-equality values, and consumers only ever
    # .get(path), so no ordering contract exists to guard.
    cur_stats = dict(record.get("stats") or {})
    par_stats = parent.get("stats") or {}
    fs_cur = cur_stats.get("file_stats")
    fs_par = par_stats.get("file_stats")
    if isinstance(fs_cur, dict) and isinstance(fs_par, dict) and fs_par:
        # membership test, not .get(): a NEW key whose value is None
        # must land in the add-set (None would alias the missing-key
        # sentinel and break encode→materialize identity)
        add = {
            k: v for k, v in fs_cur.items() if k not in fs_par or fs_par[k] != v
        }
        dele = sorted(k for k in fs_par if k not in fs_cur)
        if len(add) + len(dele) < len(fs_cur):
            cur_stats.pop("file_stats")
            cur_stats["file_stats_base"] = version - 1
            cur_stats["file_stats_add"] = add
            cur_stats["file_stats_del"] = dele
            out["stats"] = cur_stats
    return out


def materialize(record: dict, load_parent) -> dict:
    """Resolve a (possibly delta-encoded) record to full lists.
    ``load_parent(version) -> dict`` must return the MATERIALIZED
    parent record (callers recurse through their own loader, bounded
    by the checkpoint cadence)."""
    stats_encoded = "file_stats_base" in (record.get("stats") or {})
    if not stats_encoded and not any(
        kb in record for _, kb, _a, _d in _LISTS
    ):
        return record
    out = dict(record)
    parents: dict[int, dict] = {}

    def parent_of(v: int) -> dict:
        if v not in parents:
            parents[v] = load_parent(v)
        return parents[v]

    for key, kb, ka, kd in _LISTS:
        if kb not in out:
            continue
        base = out.pop(kb)
        par = list(parent_of(base).get(key) or [])
        dele = set(out.pop(kd))
        add = out.pop(ka)
        out[key] = [f for f in par if f not in dele] + add
    if stats_encoded:
        stats = dict(out["stats"])
        base = stats.pop("file_stats_base")
        dele = set(stats.pop("file_stats_del"))
        add = stats.pop("file_stats_add")
        par_fs = (parent_of(base).get("stats") or {}).get("file_stats") or {}
        fs = {k: v for k, v in par_fs.items() if k not in dele}
        fs.update(add)
        stats["file_stats"] = fs
        out["stats"] = stats
    return out


@dataclass
class Commit:
    version: int
    op: str
    files: list[str]
    cdf_files: list[str]
    schema_json: str
    ts: float
    stats: dict
    # deletion vectors: parquet sidecars of (file, pos) pairs naming
    # rows of `files` that are LOGICALLY DELETED without a rewrite
    # (merge-on-read). Reads anti-join them out; rewriting ops
    # materialize them. Absent in pre-DV commits (default []).
    dv_files: list[str] = dataclasses.field(default_factory=list)
    # reader/writer protocol (Delta PROTOCOL-action semantics): once a
    # commit depends on a feature a plain-parquet-list reader would
    # silently misinterpret (deletion vectors, field-id column
    # mapping), every subsequent commit names it here, and engines
    # that don't support it must FAIL the read/write instead of
    # returning wrong rows. None (absent in the JSON) = base protocol.
    protocol: dict | None = None
    # table metadata (see ``metadata_features``); None on a commit a
    # writer builds = carry the predecessor's (``prepare``), and on a
    # record read from a legacy log = not recorded
    metadata: dict | None = None


class CommitConflictError(RuntimeError):
    """Another writer published this commit version first. The native
    writers resolve it in one commit loop (``VersionedTable._publish``):
    ``append`` and DDL re-publish on the fresh snapshot;
    ``merge``/``delete``/``update`` rebase when the conflicting commits
    provably commute — no overlap with the rewritten files, schema and
    table metadata unchanged, and the concurrently-ADDED files contain
    no row the operation would have affected (Delta VLDB'20 §3.2
    semantics); ``compact`` rebases over any pure file-add. Only
    genuinely conflicting writes surface — their read was stale, the
    caller must re-run. A full ``overwrite``, ``restore`` and the
    DataSource writers always surface it."""


class UnsupportedTableFeatureError(RuntimeError):
    """The table's protocol names a reader/writer feature this engine
    doesn't implement. Reading anyway would return WRONG rows (e.g. a
    deletion-vector-unaware reader resurrects deleted rows; a
    name-matching reader misreads a field-id-renamed table); writing
    anyway could corrupt invariants a newer writer maintains. Failing
    loudly is the contract — Delta's protocol-action semantics
    (VLDB'20 §3.1's metaData/protocol actions)."""


# This engine's protocol support. Version 1 = plain cumulative file
# lists; version 2 = feature-gated (the sets below). A commit whose
# protocol demands more than these raises UnsupportedTableFeatureError
# instead of guessing.
READER_VERSION = 2
WRITER_VERSION = 2
SUPPORTED_READER_FEATURES = frozenset(
    {"deletion_vectors", "column_mapping", "type_widening"}
)
SUPPORTED_WRITER_FEATURES = SUPPORTED_READER_FEATURES | frozenset(
    {
        "check_constraints",
        "generated_columns",
        "identity_columns",
        "not_null_constraints",
        "column_defaults",
        # the table metadata rides the commit: a writer that reads it
        # from sidecars would publish a commit without it
        "table_metadata",
    }
)


def check_read_protocol(record: dict, where: str = "") -> None:
    """Raise unless this engine can CORRECTLY interpret the snapshot the
    (raw or materialized) commit ``record`` describes. Protocol fields
    are never delta-encoded, so raw records are fine."""
    p = record.get("protocol") or {}
    if not p:
        return
    need = int(p.get("min_reader", 1))
    if need > READER_VERSION:
        raise UnsupportedTableFeatureError(
            f"{where}version {record.get('version')} requires reader "
            f"protocol {need}; this engine supports {READER_VERSION}"
        )
    unknown = set(p.get("reader_features") or []) - SUPPORTED_READER_FEATURES
    if unknown:
        raise UnsupportedTableFeatureError(
            f"{where}version {record.get('version')} requires reader "
            f"feature(s) {sorted(unknown)} this engine does not "
            "implement — reading anyway would return wrong rows"
        )


def check_write_protocol(record: dict, where: str = "") -> None:
    """Raise unless this engine may COMMIT on top of ``record``. A
    writer must understand every reader feature too (it republishes the
    snapshot) plus the write-side invariants (constraints, generated
    columns) a concurrent newer writer relies on."""
    check_read_protocol(record, where)
    p = record.get("protocol") or {}
    if not p:
        return
    need = int(p.get("min_writer", 1))
    if need > WRITER_VERSION:
        raise UnsupportedTableFeatureError(
            f"{where}version {record.get('version')} requires writer "
            f"protocol {need}; this engine supports {WRITER_VERSION}"
        )
    unknown = set(p.get("writer_features") or []) - SUPPORTED_WRITER_FEATURES
    if unknown:
        raise UnsupportedTableFeatureError(
            f"{where}version {record.get('version')} requires writer "
            f"feature(s) {sorted(unknown)} this engine does not "
            "implement — committing anyway could violate invariants "
            "newer writers maintain"
        )


_COMMIT_FIELDS = frozenset(f.name for f in dataclasses.fields(Commit))


def commit_from_record(record: dict, where: str = "") -> Commit:
    """Materialized record → Commit, with the reader gate applied and
    UNKNOWN top-level keys tolerated (additive metadata from a newer
    writer is fine BY CONTRACT — anything semantics-changing must bump
    the protocol, which gates above; that split is what lets old
    readers keep working across format growth)."""
    check_read_protocol(record, where)
    return Commit(**{k: v for k, v in record.items() if k in _COMMIT_FIELDS})


def parse_stat(probe, s: str):
    """Committed stats are ``str()``-serialized — parse back as the
    probe value's type; None (keep the file) when unparseable."""
    import datetime

    try:
        if isinstance(probe, bool):
            return s == "True"
        if isinstance(probe, datetime.datetime):
            return datetime.datetime.fromisoformat(s)
        if isinstance(probe, datetime.date):
            return datetime.date.fromisoformat(s)
        return type(probe)(s)
    except (TypeError, ValueError):
        return None


def file_stats_may_match(stats: dict | None, pushed) -> bool:
    """Stats-based data skipping, shared by the DataSource planner and
    predicate-scoped compaction: False only when a file's committed
    [min, max] PROVES no row can satisfy the ``(col, op, value)``
    conjunction. Absent/unparseable stats keep the file — pruning is
    an IO reducer, never a correctness input."""
    for col, op, value in pushed:
        s = (stats or {}).get(col)
        if not s or not isinstance(s, (list, tuple)):
            # absent, or not a [lo, hi] pair (the reserved __bloom__
            # sidecar pointer lives beside column stats): can't prove
            # anything here — keep the file
            continue
        probe = value[0] if op == "in" else value
        lo = parse_stat(probe, s[0])
        hi = parse_stat(probe, s[1])
        if lo is None or hi is None:
            continue
        try:
            if op == "=" and not (lo <= value <= hi):
                return False
            if op == ">" and not hi > value:
                return False
            if op == ">=" and not hi >= value:
                return False
            if op == "<" and not lo < value:
                return False
            if op == "<=" and not lo <= value:
                return False
            if op == "in" and not any(lo <= v <= hi for v in value):
                return False
        except TypeError:
            continue  # incomparable types: keep the file
    return True


FIELD_ID = "parquet.field.id"  # Spark's parquet field-id metadata key


def max_field_id(schema: T.StructType) -> int:
    return max(
        (
            int(f.metadata[FIELD_ID])
            for f in schema.fields
            if f.metadata and FIELD_ID in f.metadata
        ),
        default=0,
    )


def strip_ids(schema: T.StructType) -> T.StructType:
    """Drop inherited field-id metadata: a dataframe built FROM table
    reads (a join of two VersionedTables, say) carries each source's
    ids in its column metadata — committing them verbatim can collide
    (two sources both have an id 2). New tables and new columns always
    get fresh ids of their own."""
    return T.StructType(
        [
            T.StructField(
                f.name,
                f.dataType,
                f.nullable,
                {k: v for k, v in (f.metadata or {}).items() if k != FIELD_ID}
                or None,
            )
            for f in schema.fields
        ]
    )


def with_field_ids(schema: T.StructType, floor: int = 0) -> T.StructType:
    """Column mapping (Delta VLDB'20 §4 / Iceberg field IDs): assign a
    stable integer id to every field that lacks one. Files written
    under an id-bearing schema carry the ids in their parquet footers
    (Spark's ``parquet.field.id`` support), so the read path can match
    columns BY ID — which is what makes ``rename_column`` a pure
    metadata commit: old files keep their old physical column names,
    the id still finds them. ``floor`` is the table's id high-water
    mark (commit stats ``max_field_id``): new ids start above it so a
    dropped column's id is never reissued."""
    nxt = max(max_field_id(schema), floor) + 1
    fields = []
    for f in schema.fields:
        md = dict(f.metadata or {})
        if FIELD_ID not in md:
            md[FIELD_ID] = nxt
            nxt += 1
        fields.append(T.StructField(f.name, f.dataType, f.nullable, md))
    return T.StructType(fields)


_INT_RANK = {T.ByteType: 1, T.ShortType: 2, T.IntegerType: 3, T.LongType: 4}


def widened_type(a: T.DataType, b: T.DataType) -> T.DataType | None:
    """The wider of two types when one SAFELY widens to the other (every
    value of the narrow type is exactly representable in the wide one),
    else None. This is the Delta-type-widening set restricted to what
    Spark 4's parquet readers read losslessly through a widened schema
    without rewriting old (narrow) files — verified: int32 files read as
    LONG, float as DOUBLE, decimal(8,2) as decimal(12,2), in both
    name- and field-id-matching modes:

    * integer chain byte → short → int → long;
    * float → double;
    * byte/short/int → double (exact: a 53-bit mantissa holds int32);
    * decimal(p1,s1) → decimal(p2,s2) when s2 >= s1 and
      p2 - s2 >= p1 - s1 (no digit of either side is ever dropped).

    Narrowing and everything else (string↔number, long→double which
    rounds above 2^53, timestamp changes) returns None — the caller
    rejects loudly."""
    if a == b:
        return a
    ra, rb = _INT_RANK.get(type(a)), _INT_RANK.get(type(b))
    if ra is not None and rb is not None:
        return a if ra >= rb else b
    for narrow, wide in ((a, b), (b, a)):
        if isinstance(wide, T.DoubleType) and (
            isinstance(narrow, T.FloatType)
            or _INT_RANK.get(type(narrow), 9) <= 3
        ):
            return wide
    if isinstance(a, T.DecimalType) and isinstance(b, T.DecimalType):
        for narrow, wide in ((a, b), (b, a)):
            if (
                wide.scale >= narrow.scale
                and wide.precision - wide.scale
                >= narrow.precision - narrow.scale
            ):
                return wide
    return None


def merged_schema(
    prev: T.StructType, new: T.StructType, id_floor: int = 0
) -> T.StructType:
    """The commit schema of an append or merge of rows shaped ``new``
    into a table whose schema is ``prev`` — the one schema-evolution
    rule of the native writers and the DataSource writers. Previous
    columns keep their order and field ids; a same-name type change is
    accepted only as a safe widening (``widened_type``: the commit
    adopts the wider type and old narrow files read through it) and
    rejected otherwise — committing it would write parquet that only
    fails at read time. Evolved-in columns append, nullable (every
    earlier row holds NULL for them), and on an id-mapped table receive
    fresh field ids above ``id_floor``, the table's high-water mark."""
    by_name = {f.name: f for f in prev.fields}
    widened: dict[str, T.DataType] = {}
    for f in new.fields:
        p = by_name.get(f.name)
        if p is None or p.dataType == f.dataType:
            continue
        w = widened_type(p.dataType, f.dataType)
        if w is None:
            raise ValueError(
                f"type change for column {f.name!r} "
                f"({p.dataType.simpleString()} → "
                f"{f.dataType.simpleString()}) — append/merge cannot "
                "retype; use overwrite for a full-replace retype"
            )
        if w != p.dataType:
            widened[f.name] = w
    added = strip_ids(
        T.StructType([f for f in new.fields if f.name not in by_name])
    )
    merged = T.StructType(
        [
            T.StructField(
                f.name, widened.get(f.name, f.dataType), f.nullable, f.metadata
            )
            for f in prev.fields
        ]
        + [T.StructField(f.name, f.dataType, True, f.metadata) for f in added]
    )
    return with_field_ids(merged, id_floor) if max_field_id(prev) else merged


def replaced_schema(
    prev: T.StructType, new: T.StructType, id_floor: int
) -> T.StructType:
    """The commit schema of a full replace by rows shaped ``new``: its
    columns become the table schema (a full replace may retype — no row
    survives to misread). A same-name, same-type column keeps its field
    id (it is the same logical column); every other column gets a fresh
    id above ``id_floor``, so the table stays id-mapped."""
    by_name = {f.name: f for f in prev.fields}
    fields = []
    for f in strip_ids(new).fields:
        md = dict(f.metadata or {})
        p = by_name.get(f.name)
        if (
            p is not None
            and p.dataType == f.dataType
            and FIELD_ID in (p.metadata or {})
        ):
            md[FIELD_ID] = int(p.metadata[FIELD_ID])
        fields.append(T.StructField(f.name, f.dataType, f.nullable, md))
    return with_field_ids(T.StructType(fields), id_floor)


class LocalLinkCommitStore:
    """The default commit primitive: POSIX hardlink put-if-absent.

    THE contract every backend must meet (this is the single seam the
    whole format's optimistic concurrency rests on):

    ``put_if_absent(target, payload) -> bool`` publishes the COMPLETE
    payload at ``target`` if and only if nothing exists there, ATOMICALLY
    with respect to every concurrent caller — of all racers for one
    target, exactly one returns True; the rest return False and the
    stored bytes are exactly the winner's. Readers must never observe a
    partial payload. A crash mid-call must leave either nothing or the
    full payload at ``target``.

    Local/POSIX (this class, also correct for HDFS via create-no-
    overwrite): write a tempfile in the same directory, then
    ``os.link`` to the target — link is atomic and fails with EEXIST
    for losers.

    S3-class object stores: a bare PUT is last-writer-wins and a
    HEAD-then-PUT race loses commits SILENTLY — do NOT point this
    engine at S3 through a filesystem shim. Use
    ``pipeline/objectstore.py::ConditionalPutCommitStore``, which
    implements this seam over the store's conditional write (S3
    ``If-None-Match: *``, GCS ``x-goog-if-generation-match: 0``, ADLS
    ETag preconditions) including ambiguous-retry ownership resolution;
    or an external coordinator (the DynamoDB lock table Delta's
    S3DynamoDBLogStore uses). ``tests/test_logcodec.py`` carries a
    conformance storm (``storm_commit_store``) that any new backend
    must pass — a fake non-atomic (check-then-put) store and a
    precondition-violating object store both demonstrably fail it."""

    def put_if_absent(self, target: str, payload: str) -> bool:
        d = os.path.dirname(target)
        os.makedirs(d, exist_ok=True)
        if os.path.exists(target):
            return False
        fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            f.write(payload)
        try:
            os.link(tmp, target)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)


COMMIT_STORE = LocalLinkCommitStore()


def storm_commit_store(store, scratch_dir: str, racers: int = 16) -> None:
    """Conformance check for the put-if-absent contract: ``racers``
    threads race one target; exactly one may win and the stored bytes
    must be the winner's. Raises AssertionError on any violation —
    point it at a candidate backend before trusting commits to it."""
    import threading

    target = os.path.join(scratch_dir, "storm_commit.json")
    results: list[tuple[int, bool]] = []
    barrier = threading.Barrier(racers)

    def race(i: int) -> None:
        barrier.wait()
        results.append((i, store.put_if_absent(target, f"payload-{i}")))

    threads = [threading.Thread(target=race, args=(i,)) for i in range(racers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    winners = [i for i, won in results if won]
    assert len(winners) == 1, (
        f"put_if_absent violated: {len(winners)} of {racers} racers "
        "believe they won the same commit (lost-commit hazard)"
    )
    with open(target) as f:
        assert f.read() == f"payload-{winners[0]}", (
            "stored payload is not the winner's — torn/overwritten commit"
        )


def publish_commit_file(log_dir: str, version: int, payload: str) -> None:
    """Atomic put-if-absent commit publish — the last step of
    ``commit``, which every writer of the ``versioned`` log (the native
    API and both DataSource writers) goes through. The atomicity itself
    is the commit-store seam's contract (``LocalLinkCommitStore``): two
    racing writers can never both believe they own a version — a bare
    rename or blind PUT would let the second silently overwrite the
    first (a lost commit). A crash before publish leaves the previous version
    intact (data files without a commit record are invisible garbage,
    as in any log-structured format).

    Checkpoint-cadence versions also refresh the ``_last_checkpoint``
    pointer (Delta's file of the same name), which turns
    latest-version resolution from an O(total commits) directory
    listing into an O(commits since checkpoint) existence probe — the
    snapshot-read tax at 10^5–10^6 commits is the listing itself."""
    target = commit_path(log_dir, version)
    if not COMMIT_STORE.put_if_absent(target, payload):
        raise CommitConflictError(
            f"concurrent write detected: version {version} exists"
        )
    if version % CHECKPOINT_EVERY == 0:
        write_log_pointer(log_dir, version)


LAST_CHECKPOINT_FILE = "_last_checkpoint"


def write_log_pointer(log_dir: str, version: int) -> None:
    """Atomically advance ``_last_checkpoint`` to ``version`` (never
    backwards — a slow writer must not regress a newer pointer). The
    pointer is advisory: every reader falls back to a full listing when
    it is missing or stale, so a crash between commit publish and
    pointer write costs nothing but probe length."""
    p = os.path.join(log_dir, LAST_CHECKPOINT_FILE)
    cur = read_log_pointer(log_dir)
    if cur is not None and cur >= version:
        return
    fd, tmp = tempfile.mkstemp(dir=log_dir, suffix=".ptrtmp")
    with os.fdopen(fd, "w") as f:
        json.dump({"version": version}, f)
    os.replace(tmp, p)


def read_log_pointer(log_dir: str) -> int | None:
    try:
        with open(os.path.join(log_dir, LAST_CHECKPOINT_FILE)) as f:
            return int(json.load(f)["version"])
    except (FileNotFoundError, ValueError, KeyError, TypeError):
        return None


def latest_version_in(log_dir: str) -> int:
    """Resolve the newest commit version: probe forward from the
    ``_last_checkpoint`` pointer (versions are dense — every commit is
    parent+1 and commit files are never deleted), falling back to a
    full directory listing for legacy/pointerless logs. Cost with a
    pointer: O(commits since the last checkpoint) existence checks."""
    ptr = read_log_pointer(log_dir)
    if ptr is not None and os.path.exists(
        os.path.join(log_dir, f"{ptr:020d}.json")
    ):
        v = ptr
        while os.path.exists(os.path.join(log_dir, f"{v + 1:020d}.json")):
            v += 1
        return v
    versions = [
        int(f[: -len(".json")])
        for f in os.listdir(log_dir)
        if f.endswith(".json") and not f.endswith(".ptrtmp")
    ]
    if not versions:
        raise FileNotFoundError(f"no commits in {log_dir}")
    return max(versions)


def dir_of(table_path: str) -> str:
    """The log directory of the table rooted at ``table_path``."""
    return os.path.join(os.path.abspath(table_path), "_log")


def versions(log_dir: str) -> list[int]:
    """All commit versions, ascending. With a ``_last_checkpoint``
    pointer present, the dense range [0, latest] is derived from an
    O(commits since checkpoint) probe (versions are parent+1 sequential
    and never deleted) instead of listing the whole log dir — the
    stream reader calls this EVERY trigger, so at 10^5+ commits the
    listing itself would be the per-trigger tax."""
    if read_log_pointer(log_dir) is not None:
        try:
            return list(range(0, latest_version_in(log_dir) + 1))
        except FileNotFoundError:
            return []
    return sorted(
        int(f[: -len(".json")])
        for f in os.listdir(log_dir)
        if f.endswith(".json")
    )


def commit_path(log_dir: str, version: int) -> str:
    return os.path.join(log_dir, f"{version:020d}.json")


def read_raw(log_dir: str, version: int) -> dict:
    """The on-disk record, possibly delta-encoded — enough for every
    key the codec never encodes (schema_json, protocol, metadata,
    cdf_files, and every stats key but file_stats)."""
    with open(commit_path(log_dir, version)) as f:
        return json.loads(f.read())


def read_record(log_dir: str, version: int) -> dict:
    """The commit record with full file lists — delta-encoded records
    resolve through the parent chain, bounded by the checkpoint
    cadence."""
    return materialize(
        read_raw(log_dir, version), lambda v: read_record(log_dir, v)
    )


def read_commit(log_dir: str, version: int, where: str = "") -> Commit:
    """The materialized commit at ``version``, reader gate applied, its
    ``metadata`` resolved by ``metadata_of``."""
    rec = read_record(log_dir, version)
    c = commit_from_record(rec, where)
    c.metadata = metadata_of(log_dir, version, rec)
    return c


# -- table metadata --------------------------------------------------------

IDENTITY_PROP = "versioned.identityColumns"


def metadata_of(log_dir: str, version: int, record: dict) -> dict | None:
    """The table metadata of commit ``version`` (``record``: its raw or
    materialized record). The one legacy rule: a record without a
    ``metadata`` key predates metadata in the commit, so the latest such
    record takes the sidecar files (``legacy_metadata``) and an older
    one None (the sidecars kept no history)."""
    if "metadata" in record:
        return record["metadata"]
    if os.path.exists(commit_path(log_dir, version + 1)):
        return None
    return legacy_metadata(log_dir)


# commit file (path, inode, mtime, size) -> {"metadata": ...}, or {}
# when the record has no metadata key. Published commits are never
# rewritten; the stamp tells a file recreated at the same path apart.
_METADATA_SEEN: dict[tuple, dict] = {}


def _stamp(path: str) -> tuple:
    st = os.stat(path)
    return (path, st.st_ino, st.st_mtime_ns, st.st_size)


def _remember(stamp: tuple, part: dict) -> None:
    if len(_METADATA_SEEN) >= 256:
        _METADATA_SEEN.clear()
    _METADATA_SEEN[stamp] = part


def current_metadata(log_dir: str) -> dict:
    """The table metadata as of the latest commit ({} while the table
    has none). A record that stores full file lists is tens of MB at
    10^5 files, so each commit's metadata is parsed at most once per
    process (never for a commit this process published)."""
    try:
        v = latest_version_in(log_dir)
        stamp = _stamp(commit_path(log_dir, v))
    except FileNotFoundError:
        return {}
    part = _METADATA_SEEN.get(stamp)
    if part is None:
        rec = read_raw(log_dir, v)
        part = {"metadata": rec["metadata"]} if "metadata" in rec else {}
        _remember(stamp, part)
    return copy.deepcopy(metadata_of(log_dir, v, part) or {})


def legacy_metadata(log_dir: str) -> dict:
    """A legacy log's table metadata. Before metadata rode the commits,
    it lived in sidecar files beside the log; this is the one place
    that reads them, called by ``metadata_of`` only while the latest
    commit has no ``metadata`` key — the next commit carries what it
    finds."""
    md = {}
    for key, name in (
        ("constraints", "_constraints.json"),
        ("properties", "_properties.json"),
        ("partition_columns", "_partitioning.json"),
        ("generated", "_generated.json"),
        ("defaults", "_defaults.json"),
    ):
        try:
            with open(os.path.join(os.path.dirname(log_dir), name)) as f:
                value = json.load(f)
        except FileNotFoundError:
            continue
        if value:
            md[key] = value
    return md


def metadata_features(md: dict) -> set[str]:
    """The writer features table metadata binds: each is an invariant
    a writer unaware of it would break (committing violating or NULL
    rows, leaving generated or DEFAULT columns unfilled, appending
    without assigning identity values)."""
    out = set()
    cons = md.get("constraints") or {}
    if cons:
        out.add("check_constraints")
    if any(k.startswith("notnull:") for k in cons):
        out.add("not_null_constraints")
    if md.get("generated"):
        out.add("generated_columns")
    if (md.get("properties") or {}).get(IDENTITY_PROP):
        out.add("identity_columns")
    if md.get("defaults"):
        out.add("column_defaults")
    return out


# -- the commit writer -----------------------------------------------------


def _schema_of(record: dict) -> T.StructType:
    return T.StructType.fromJson(json.loads(record["schema_json"]))


def _widens(prev_schema_json: str | None, record: dict) -> bool:
    """True when ``record``'s schema adopted a wider type for a column
    of the predecessor schema — narrow pages then sit under a wide
    schema, which a reader trusting parquet footer types over the commit
    schema would misread (Delta's typeWidening feature). Covers the
    widen_column op and schema evolution during append/merge alike."""
    if not prev_schema_json or prev_schema_json == record["schema_json"]:
        return False
    prev_by = {
        f.name: f.dataType
        for f in T.StructType.fromJson(json.loads(prev_schema_json)).fields
    }
    for f in _schema_of(record).fields:
        p = prev_by.get(f.name)
        if (
            p is not None
            and p != f.dataType
            and widened_type(p, f.dataType) == f.dataType
        ):
            return True
    return False


def prepare(prev: dict | None, record: dict, read_raw_at=None) -> dict:
    """Apply every rule a commit carries from its predecessor to the
    next ``record`` (a dict in log-record shape; ``prev`` is the RAW
    predecessor record, None for version 0) and return it — completed
    in place, including its ``stats`` dict:

    * ``metadata``: carried whole when the record omits it;
    * the field-id high-water ``stats.max_field_id`` never regresses
      (a dropped column's id must never be reissued — an old file
      still stores its data under it);
    * ``ts`` is monotone — max(own, prev + 1 ms) — so TIMESTAMP AS OF
      resolution stays well-defined across skewed writer clocks (Delta
      inCommitTimestamps);
    * the identity high-water ``stats.identity`` never regresses, per
      column in its step direction — a RESTORE must not reissue ids of
      restored-away rows;
    * the writer-transaction watermarks ``stats.txn`` (Delta's
      SetTransaction): per app, the max of the predecessor's version and
      the record's — so every commit kind carries them, a writer stamps
      only its own app, and a RESTORE keeps the latest (losing one would
      re-open the door to a duplicate replay);
    * ``stats.dv_counts`` is dropped with the last deletion vector;
    * ``stats.copy_into_registry`` — the union of every COPY INTO
      loaded-file identity at or below this version — is stamped at
      checkpoint versions only, and is the stop marker of the loaded-
      file walk; ``read_raw_at(version)`` supplies the raw records that
      walk reads back past ``prev``;
    * ``protocol`` is the predecessor's features ∪ a preset on the
      record ∪ what its content demands: deletion vectors, column
      mapping (rename/drop), type widening, the writer features its
      metadata binds (``metadata_features``) and ``table_metadata``
      once the metadata is non-empty. Upgrades are monotone, so a
      version-v reader gate covers v's whole history.

    Scalar stats keys and schema_json are never delta-encoded, so the
    raw ``prev`` carries everything these rules read."""
    version = record["version"]
    prev = prev or {}
    prev_stats = prev.get("stats") or {}
    stats = record.setdefault("stats", {})
    if record.get("metadata") is None:
        record["metadata"] = dict(prev.get("metadata") or {})
    md = record["metadata"]
    m = max(
        max_field_id(_schema_of(record)),
        int(stats.get("max_field_id", 0)),
        int(prev_stats.get("max_field_id", 0)),
    )
    if m:
        stats["max_field_id"] = m
    if prev:
        record["ts"] = max(record["ts"], float(prev.get("ts", 0.0)) + 1e-3)
    prev_ident = prev_stats.get("identity") or {}
    if prev_ident:
        defs = json.loads((md.get("properties") or {}).get(IDENTITY_PROP) or "{}")
        cur = dict(stats.get("identity") or {})
        for c, v in prev_ident.items():
            if c in cur:
                step = int((defs.get(c) or {}).get("step", 1))
                cur[c] = (
                    max(int(cur[c]), int(v))
                    if step >= 0
                    else min(int(cur[c]), int(v))
                )
            else:
                cur[c] = int(v)
        stats["identity"] = cur
    prev_txn = prev_stats.get("txn") or {}
    if prev_txn:
        txn = dict(prev_txn)
        for app, v in (stats.get("txn") or {}).items():
            txn[app] = max(int(v), int(txn.get(app, v)))
        stats["txn"] = txn
    if not record.get("dv_files"):
        stats.pop("dv_counts", None)
    if version % CHECKPOINT_EVERY:
        stats.pop("copy_into_registry", None)
    elif version > 0:
        reg = set((stats.get("copy_into") or {}).get("loaded") or [])
        v, st = version - 1, prev_stats
        while True:
            reg.update((st.get("copy_into") or {}).get("loaded") or [])
            prior = st.get("copy_into_registry")
            if prior is not None:
                reg.update(prior)
                break
            v -= 1
            if v < 0:
                break
            st = read_raw_at(v).get("stats") or {}
        stats["copy_into_registry"] = sorted(reg)
    rf: set[str] = set()
    wf: set[str] = set()
    for p in (prev.get("protocol"), record.get("protocol")):
        if p:
            rf |= set(p.get("reader_features") or [])
            wf |= set(p.get("writer_features") or [])
    if record.get("dv_files"):
        rf.add("deletion_vectors")
    if record["op"] in ("rename_column", "drop_column"):
        rf.add("column_mapping")
    if record["op"] == "widen_column" or _widens(prev.get("schema_json"), record):
        rf.add("type_widening")
    # every reader feature is implicitly a writer feature: a writer
    # republishes the snapshot, so it must understand them all
    wf |= metadata_features(md) | rf
    if md:
        wf.add("table_metadata")
    if rf or wf:
        record["protocol"] = {
            "min_reader": 2 if rf else 1,
            "min_writer": 2,
            "reader_features": sorted(rf),
            "writer_features": sorted(wf),
        }
    else:
        # base-protocol tables keep the pre-gate JSON shape
        record.pop("protocol", None)
    return record


def commit(log_dir: str, record: dict, where: str = "") -> None:
    """Publish ``record`` as the next commit — the one commit writer of
    both the native API and the DataSource writers. Gates on the
    predecessor (may this engine build on it at all?), completes the
    record with ``prepare``, delta-encodes it against the materialized
    parent and publishes it put-if-absent; raises CommitConflictError
    when another writer already owns the version."""
    version = record["version"]
    prev = None
    if version > 0:
        try:
            prev = read_raw(log_dir, version - 1)
        except FileNotFoundError:
            prev = {}
        check_write_protocol(prev, where)
        prev["metadata"] = metadata_of(log_dir, version - 1, prev)
    prepare(prev, record, lambda v: read_raw(log_dir, v))
    parent = None
    if version > 0 and version % CHECKPOINT_EVERY:
        # checkpoint versions store full lists — don't pay the
        # parent-chain walk for a parent encode() won't look at
        try:
            parent = read_record(log_dir, version - 1)
        except FileNotFoundError:
            parent = None
    publish_commit_file(log_dir, version, json.dumps(encode(record, parent)))
    _remember(
        _stamp(commit_path(log_dir, version)),
        {"metadata": copy.deepcopy(record["metadata"])},
    )
