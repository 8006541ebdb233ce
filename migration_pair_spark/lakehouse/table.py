"""LakeTable: a hash-bucketed, snapshot-committed parquet table.

Layout on disk (all paths relative to the table root):

    manifests/v00000001.json      -- one immutable manifest per snapshot
    data/tx-<version>-<uuid>/...  -- data files written by one commit

A manifest is the complete table state: schema history, bucket -> data-file
map, snapshot properties, lineage of the committing batch. The *latest*
snapshot is the manifest with the highest version number; commit = write
temp file (fsync) + exclusive ``os.link`` publish (+ directory fsync) —
EEXIST on the link IS the optimistic-concurrency conflict, like an Iceberg
commit conflict. A crash between data write and manifest publish leaves only
invisible orphan files — the table state is unchanged, and the CDC watermark
gate makes the retried batch idempotent.

Scale notes (the design target is a 1000-executor cluster over ~100 TB):

- ``n_buckets`` is the copy-on-write granularity. A micro-batch rewrites
  only the buckets its keys hash into; at scale you size n_buckets so one
  bucket ~ a few GB (e.g. 4096 buckets for 10 TB of hot key space). The
  driver-side manifest holds one file list per bucket — O(n_buckets), not
  O(rows).
- Reads prune by bucket: ``read_buckets([...])`` opens only the named
  buckets' files, so the MERGE join never scans the full table.
- All data movement is executor-side DataFrame work; the driver only lists
  file names and writes a small JSON manifest.

System columns stored physically alongside the user schema:
    _lsn     long    -- change_lsn of the writing event (cross-batch LWW)
    _deleted boolean -- tombstone flag (late-arrival correctness: a delete
                        must keep beating older events that arrive later)
"""

from __future__ import annotations

import glob
import json
import os
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SYSTEM_COLS = ["_lsn", "_deleted"]
#: bumped by every purge_keys commit; its PRESENCE is the zero-cost signal
#: the CDC apply path uses to know a suppression ledger exists
PURGE_EPOCH_PROP = "purge.epoch"
#: how many lost commits a recomputable operation absorbs before re-raising
COMMIT_RETRIES = 3


class CommitConflictError(RuntimeError):
    """Optimistic-concurrency conflict: another writer published this
    snapshot version first (Iceberg CommitFailedException analog). The
    transaction's data files are orphans (invisible; vacuum collects
    them) — the loser refreshes and retries its WHOLE operation against
    the new table state. Recomputable operations (CDC apply, compact,
    purge, view refresh) do that automatically, up to ``COMMIT_RETRIES``
    times."""


def retry_conflicts(fn, on_conflict):
    """The one optimistic-rebase loop every recomputable operation shares:
    run ``fn``; on CommitConflictError call ``on_conflict(error)`` (which
    must refresh whatever state ``fn`` recomputes from) and re-run, up to
    ``COMMIT_RETRIES`` times; then re-raise."""
    attempt = 0
    while True:
        try:
            return fn()
        except CommitConflictError as e:
            attempt += 1
            if attempt > COMMIT_RETRIES:
                raise
            on_conflict(e)
_SYSTEM_FIELDS = [
    T.StructField("_lsn", T.LongType(), True),
    T.StructField("_deleted", T.BooleanType(), True),
]

#: column types zone maps support (read_range): totally ordered scalars whose
#: parquet footer min/max round-trip through JSON. Binary and nested types
#: are refused at create; date is excluded only because nothing here uses it.
_STATS_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType,
    T.StringType, T.BooleanType, T.TimestampType, T.TimestampNTZType,
)

#: column types bloom filters support: the parquet physical types whose
#: parquet-mr bloom hash we can reproduce driver-side (INT32 / INT64 /
#: BINARY-utf8). Floats make no sense as point-lookup keys.
_BLOOM_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.StringType,
)


def _stats_encode(v):
    """A footer-stat or predicate-bound value as its JSON zone-map encoding.
    Timestamps become epoch MICROS (naive == UTC: session TZ is pinned);
    everything else is already JSON-scalar. Encodings are only ever compared
    to encodings of the SAME column, so cross-type ordering never arises."""
    import datetime

    if isinstance(v, datetime.datetime):
        us = datetime.timedelta(microseconds=1)
        if v.tzinfo is not None:
            epoch = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
        else:
            epoch = datetime.datetime(1970, 1, 1)
        return (v - epoch) // us  # exact integer micros
    if isinstance(v, bool):
        return int(v)
    return v


def _footer_stats(
    fp: str, stats_cols: list[str]
) -> tuple[dict[str, list], int]:
    """One written file's zone map from its parquet footer: {col: [min,
    max]} (encoded per :func:`_stats_encode`) plus the row count. A column
    is omitted when ANY row group lacks exact min/max for it (conservative:
    no stats => never pruned). Spark writes stats through parquet-mr, whose
    (rare) long-string truncation keeps min a valid lower bound and max a
    valid upper bound, so pruning on them stays sound."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(fp).metadata
    if md.num_row_groups == 0:
        return {}, 0
    name_to_idx = {
        md.row_group(0).column(j).path_in_schema: j
        for j in range(md.row_group(0).num_columns)
    }
    out: dict[str, list] = {}
    for c in stats_cols:
        j = name_to_idx.get(c)
        if j is None:
            continue
        lo = hi = None
        ok = True
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(j).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            mn, mx = _stats_encode(st.min), _stats_encode(st.max)
            lo = mn if lo is None or mn < lo else lo
            hi = mx if hi is None or mx > hi else hi
        if ok and lo is not None:
            out[c] = [lo, hi]
    return out, md.num_rows


@dataclass(frozen=True)
class AddColumn:
    name: str
    type: str  # Spark DDL type string, e.g. "int"


@dataclass(frozen=True)
class RenameColumn:
    old: str
    new: str


@dataclass(frozen=True)
class WidenColumn:
    name: str
    new_type: str


@dataclass(frozen=True)
class AddStructField:
    """Add a field INSIDE a struct column (multimodal metadata structs grow
    fields far more often than tables grow columns). Metadata-only like
    every evolution op; old rows read the field as null."""

    column: str
    name: str
    type: str  # Spark DDL type string


@dataclass(frozen=True)
class RenameStructField:
    """Rename a field inside a struct column; old files reconcile on read
    through the struct-rename history, like top-level renames."""

    column: str
    old: str
    new: str


@dataclass(frozen=True)
class DropColumn:
    """Drop a top-level column — metadata-only, like Iceberg's drop: old
    data files keep the bytes but reads project onto the current schema so
    the column disappears everywhere. The DROP HISTORY makes replays no-op
    and — crucially — fences old incarnations: a later re-ADD of the same
    name reads as NULL from files written before the re-add (Iceberg gets
    this from field ids; here the add/drop histories carry the same
    information as version ordinals)."""

    name: str


@dataclass(frozen=True)
class WidenStructField:
    """Widen a field inside a struct (or array<struct>) column, same
    promotion lattice as top-level WidenColumn. Metadata-only: old files'
    narrow struct fields are cast up on read by the recursive struct
    conform (``_conform`` rebuilds structs field-by-field and casts
    leaves)."""

    column: str
    name: str
    new_type: str


# the widen promotion lattice: (from, to) type pairs every reader casts up
_WIDEN_OK = frozenset(
    {
        ("int", "bigint"),
        ("smallint", "int"),
        ("smallint", "bigint"),
        ("tinyint", "smallint"),
        ("tinyint", "int"),
        ("tinyint", "bigint"),
        ("float", "double"),
        ("int", "double"),
        ("bigint", "double"),
    }
)


def _phases(t_exec: float, t_commit: float) -> dict[str, int]:
    """One bucket write's wall split (``LakeTable.last_write_phases``)."""
    return {
        "write_exec_ms": int((t_commit - t_exec) * 1000),
        "commit_ms": int((time.monotonic() - t_commit) * 1000),
    }


def _schema_from_json(s: str) -> T.StructType:
    return T.StructType.fromJson(json.loads(s))


def _chase(renames: list[dict], name: str, after: int = 0) -> str:
    """A column name chased FORWARD through the rename history, applying
    only the renames made after schema version ``after`` (0: all of them,
    giving the current spelling). A version-aware chase lets a history
    entry recorded under a since-reused name resolve to the column it
    described at the time."""
    for r in renames:
        if r["at_schema_version"] > after and r["old"] == name:
            name = r["new"]
    return name


def _unchase(renames: list[dict], name: str, ver: int) -> str:
    """A current name as spelled at schema version ``ver``: the rename
    history walked BACKWARDS (a forward in-place walk collides when a later
    rename reuses a dropped or renamed-away name)."""
    for r in reversed(renames):
        if r["at_schema_version"] > ver and r["new"] == name:
            name = r["old"]
    return name


def _history(m: dict, kind: str, path: tuple[str, ...] = ()) -> list[dict]:
    """One container's ``kind`` history (``adds``/``renames``/``widens``/
    ``drops``). The table schema is the root struct (``path`` ``()``); a
    struct column (or the element struct of an ``array<struct>`` column) is
    the container ``(current column name,)``, whose history is the
    ``struct_<kind>`` entries whose column, named as of the entry's own
    epoch, chases to it. Ops address no deeper container."""
    if not path:
        return m.get(kind, [])
    if len(path) > 1:
        return []
    return [
        e
        for e in m.get("struct_" + kind, [])
        if _chase(m["renames"], e["column"], e["at_schema_version"] - 1) == path[0]
    ]


def _write_name(m: dict, path: tuple[str, ...], name: str, ver: int) -> str | None:
    """The field now called ``name`` in container ``path`` as spelled in
    files written at schema version ``ver``, or None when the field was
    (re-)added after ``ver``: a same-named field in those files is a
    retired incarnation (dropped, or renamed away), which must read as
    NULL. Iceberg fences this with field ids; the add history and version
    ordinals carry the same information."""
    renames = _history(m, "renames", path)
    if any(
        a["at_schema_version"] > ver
        and _chase(renames, a["name"], a["at_schema_version"]) == name
        for a in _history(m, "adds", path)
    ):
        return None
    return _unchase(renames, name, ver)


class LakeTable:
    """One keyed, bucketed, snapshot-committed table."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._manifest: dict | None = None
        self._last_write_phases: dict | None = None
        # (start, end) of the Spark write awaiting its publish (_write_tx)
        self._tx_clock: tuple[float, float] | None = None

    # ------------------------------------------------------------- lifecycle

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        key_col: str,
        n_buckets: int = 16,
        properties: dict[str, str] | None = None,
        lww_order: tuple[str, ...] = ("warc_ts", "_lsn"),
        stats_cols: tuple[str, ...] = (),
        bloom_filter_cols: tuple[str, ...] = (),
        bloom_ndv: int = 1_000_000,
    ) -> "LakeTable":
        os.makedirs(os.path.join(path, "manifests"), exist_ok=True)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)
        phys = {f.name: f.dataType for f in schema.fields}
        phys.update({f.name: f.dataType for f in _SYSTEM_FIELDS})
        for c in stats_cols:
            if c not in phys:
                raise ValueError(f"stats_cols: unknown column {c!r}")
            if not isinstance(phys[c], _STATS_TYPES):
                raise ValueError(
                    f"stats_cols: unsupported type {phys[c].simpleString()} "
                    f"for {c!r} (numeric/string/boolean/timestamp only)"
                )
        for c in bloom_filter_cols:
            if c not in phys:
                raise ValueError(f"bloom_filter_cols: unknown column {c!r}")
            if not isinstance(phys[c], _BLOOM_TYPES):
                raise ValueError(
                    f"bloom_filter_cols: unsupported type "
                    f"{phys[c].simpleString()} for {c!r} "
                    f"(integer/long/string only)"
                )
        t = cls(spark, path)
        manifest = {
            "format_version": 1,
            "version": 1,
            "parent": None,
            "key_col": key_col,
            "n_buckets": n_buckets,
            "schema_version": 1,
            "schemas": {"1": schema.jsonValue()},
            "renames": [],  # [{"old":..., "new":..., "at_schema_version": v}]
            "buckets": {},  # bucket id (str) -> [{"path":..., "schema_version": v}]
            "properties": dict(properties or {}),
            "lineage": None,
            # merge-on-read state: the bucket ids holding delta files whose
            # rows must be LWW-resolved at read time by lww_order
            "mor_buckets": [],
            "lww_order": list(lww_order),
            # zone maps: per-file min/max recorded for these columns at every
            # commit (parquet footer stats — no data scan); read_range prunes
            # files by them. Empty = zero overhead.
            "stats_cols": list(stats_cols),
            # bloom filters: parquet-native per-column-chunk blooms written
            # inline by every data write (parquet.bloom.filter.enabled#col).
            # Point predicates prune FILES by them (bloom_prune_entries /
            # lookup) and pushed IN-lists skip ROW GROUPS by them inside
            # parquet-mr — the data-skipping rung zone maps can't reach on
            # hash-distributed keys (min/max of a uniform key never prunes).
            "bloom_cols": list(bloom_filter_cols),
            "bloom_ndv": int(bloom_ndv),
        }
        t._publish(manifest)
        return t

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "LakeTable":
        t = cls(spark, path)
        t.refresh()
        if t._manifest is None:
            raise FileNotFoundError(f"no manifest under {path}")
        return t

    @staticmethod
    def exists(path: str) -> bool:
        return bool(glob.glob(os.path.join(path, "manifests", "v*.json")))

    def refresh(self) -> None:
        versions = self.snapshot_versions()
        if versions:
            self._manifest = self.manifest_at(versions[-1])

    # ------------------------------------------------------------- metadata

    @property
    def manifest(self) -> dict:
        if self._manifest is None:
            self.refresh()
        assert self._manifest is not None
        return self._manifest

    @property
    def version(self) -> int:
        return self.manifest["version"]

    @property
    def key_col(self) -> str:
        return self.manifest["key_col"]

    @property
    def n_buckets(self) -> int:
        return self.manifest["n_buckets"]

    @property
    def schema(self) -> T.StructType:
        m = self.manifest
        return _schema_from_json(json.dumps(m["schemas"][str(m["schema_version"])]))

    @property
    def properties(self) -> dict[str, str]:
        return dict(self.manifest["properties"])

    @property
    def lineage(self) -> dict | None:
        return self.manifest["lineage"]

    @property
    def lww_order(self) -> tuple[str, ...]:
        """The table's persisted last-writer-wins ordering (stored-row
        column names); the single source of truth for every resolve path
        (COW merge, MOR read, compaction)."""
        return tuple(self.manifest.get("lww_order", ["warc_ts", "_lsn"]))

    @property
    def is_merge_on_read(self) -> bool:
        """True while any bucket holds unresolved delta files (reads of it
        LWW-resolve; compaction folds them). Iceberg analog: v2 table with
        outstanding delete files / write.merge.mode=merge-on-read."""
        return bool(self.mor_buckets)

    @property
    def mor_buckets(self) -> set[int]:
        """Buckets with unresolved deltas — the table's only merge-on-read
        state."""
        return {int(b) for b in self.manifest["mor_buckets"]}

    def files_per_bucket(self) -> dict[int, int]:
        """Data-file count per bucket — the maintenance metric the
        auto-compaction policy reads (format-neutral: Iceberg derives it
        from the snapshot's manifest entries per bucket partition)."""
        return {
            int(b): len(files)
            for b, files in self.manifest["buckets"].items()
        }

    def snapshot_versions(self) -> list[int]:
        files = sorted(glob.glob(os.path.join(self.path, "manifests", "v*.json")))
        return [int(os.path.basename(p)[1:-5]) for p in files]

    # ------------------------------------------------------------- commit

    def _write_manifest(self, manifest: dict) -> None:
        """Atomic EXCLUSIVE publish. POSIX ``os.rename`` silently REPLACES an
        existing target, so rename alone (plus an exists() pre-check) is a
        TOCTOU race: two concurrent committers could both publish the same
        version and one snapshot's files + watermark would be silently lost.
        ``os.link`` fails with EEXIST if the target exists — that failure IS
        the optimistic-concurrency conflict (Iceberg commit-conflict analog);
        the loser must refresh and retry its whole batch."""
        mdir = os.path.join(self.path, "manifests")
        final = os.path.join(mdir, f"v{manifest['version']:08d}.json")
        tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex}.json")
        # commit wall clock for the history() metadata view (Iceberg
        # snapshots.committed_at analog); absent on pre-existing manifests
        manifest["committed_at_ms"] = int(time.time() * 1000)
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, final)  # atomic + exclusive (EEXIST on conflict)
            # fsync the DIRECTORY too: without it a power loss after commit
            # returned success can lose the dirent while the streaming
            # checkpoint (separately persisted) has already marked the batch
            # done — the one ordering that breaks exactly-once
            # (review-caught)
            dfd = os.open(mdir, os.O_DIRECTORY)
            try:
                os.fsync(dfd)
            finally:
                os.close(dfd)
        except FileExistsError:
            raise CommitConflictError(
                f"commit conflict: snapshot v{manifest['version']} already exists"
            ) from None
        finally:
            try:
                os.unlink(tmp)
            except FileNotFoundError:  # pragma: no cover
                pass

    def _table_write(
        self,
        df_with_bucket: DataFrame,
        tx_dir: str,
        max_rows_per_file: int | None = None,
    ) -> None:
        """The bucket-partitioned data write of every data commit.

        Committer v2 + no _SUCCESS, scoped to TABLE writes only (per-write
        Hadoop options, not session config): v2 commits task files straight
        into the tx dir at task-commit time, removing the driver-side
        sequential rename of every file at job commit — safe HERE because
        visibility is governed by the MANIFEST, so a mid-job crash leaves
        only unreferenced (invisible) files, and _SUCCESS is meaningless.
        Plain parquet outputs elsewhere (e.g. curate's corpus export) keep
        the default v1 + _SUCCESS, whose staging-dir invisibility and
        completeness marker they DO rely on (review-caught, round 3)."""
        w = (
            df_with_bucket.write.partitionBy("_bucket")
            .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
            .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        )
        # parquet-native bloom filters, computed inline by the write tasks
        # (no extra pass over the data; ~1.2 MB/column chunk at the default
        # NDV). Written under CURRENT column names, like footer stats.
        ndv = str(self.manifest.get("bloom_ndv") or 1_000_000)
        for c in self.manifest.get("bloom_cols") or []:
            cur = self._current_name(c)
            w = w.option(f"parquet.bloom.filter.enabled#{cur}", "true").option(
                f"parquet.bloom.filter.expected.ndv#{cur}", ndv
            )
        if max_rows_per_file:
            # bounded sorted runs (clustered compaction): each output file
            # covers a narrow slice of the sort key, so zone maps get tight
            w = w.option("maxRecordsPerFile", max_rows_per_file)
        w.parquet(tx_dir, mode="errorifexists")

    def _next_manifest(self) -> dict:
        m = json.loads(json.dumps(self.manifest))  # deep copy
        m["parent"] = m["version"]
        m["version"] = m["version"] + 1
        return m

    def _write_tx(
        self,
        m: dict,
        df_with_bucket: DataFrame,
        touched_buckets: "set[int] | list[int] | None" = None,
        max_rows_per_file: int | None = None,
    ) -> dict[int, list[dict]]:
        """Write one commit's rows into its own ``data/tx-<version>-<uuid>``
        directory and map the files back to manifest entries ({bucket id:
        [entry, ...]}). With ``touched_buckets`` given, rows landing in any
        other bucket refuse the commit: the caller would not reference
        their files, so the rows would be silently orphaned. The Spark
        write's wall clock waits for :meth:`_publish`
        (:attr:`last_write_phases`)."""
        txid = f"tx-{m['version']:08d}-{uuid.uuid4().hex[:8]}"
        tx_dir = os.path.join(self.path, "data", txid)
        t_exec = time.monotonic()
        self._table_write(df_with_bucket, tx_dir, max_rows_per_file)
        t_written = time.monotonic()
        written = self._collect_written_files(tx_dir, m["schema_version"])
        if touched_buckets is not None:
            stray = set(written) - set(touched_buckets)
            if stray:
                raise ValueError(
                    f"rows landed in buckets {sorted(stray)} outside "
                    f"touched_buckets {sorted(touched_buckets)} — refusing "
                    f"to commit (the stray rows would be silently orphaned)"
                )
        self._tx_clock = (t_exec, t_written)
        return written

    def _publish(
        self, m: dict, properties: dict | None = None, lineage: dict | None = None
    ) -> int:
        """The one commit path, for data and metadata-only commits alike:
        merge ``properties`` into the next manifest ``m``, give it its own
        ``lineage``, publish it exclusively (:meth:`_write_manifest`) and
        make it this handle's state. Returns the new version.

        The lineage is stamped as a deep copy, in its on-disk (JSON) form:
        the caller keeps adding to its own record after the commit
        (counters, timings), and the in-memory manifest must stay the file
        on disk."""
        clock, self._tx_clock = self._tx_clock, None
        if properties:
            m["properties"].update(properties)
        m["lineage"] = None if lineage is None else json.loads(json.dumps(lineage))
        self._write_manifest(m)
        self._manifest = m
        if clock is not None:
            self._last_write_phases = _phases(*clock)
        return m["version"]

    def _resolve_mor(self, m: dict, buckets: list[int]) -> None:
        """Mark ``buckets`` resolved in the next manifest ``m``: their new
        content holds one row per key, so reads of them need no LWW
        resolve."""
        m["mor_buckets"] = sorted(set(m["mor_buckets"]) - set(buckets))

    def commit_properties(
        self, properties: dict[str, str], lineage: dict | None = None
    ) -> int:
        """Metadata-only commit: a new version with the same data files and
        ``properties`` merged in. Returns the new version."""
        return self._publish(self._next_manifest(), properties, lineage)

    @property
    def last_write_phases(self) -> dict | None:
        """Wall split of this handle's last data-writing commit:
        ``write_exec_ms`` for the Spark write job, ``commit_ms`` for the
        driver-side file listing, footer stats and manifest publish."""
        return self._last_write_phases

    def _collect_written_files(
        self, tx_dir: str, schema_version: int
    ) -> dict[int, list[dict]]:
        """Map one transaction directory's output back to manifest entries:
        {bucket id: [{path, schema_version}, ...]} — the single place the
        file-entry format lives (every data commit shares it). When the table
        declares ``stats_cols``, each entry also carries that file's zone
        map ({"stats": {col: [min, max]}, "rows": n}) read from the parquet
        FOOTER — no data scan. Footer reads here are driver-side and O(new
        files); on a real cluster the same stats would ride back from the
        write tasks, but either way the input is metadata the writer
        already produced."""
        out: dict[int, list[dict]] = {}
        # manifest stats_cols are creation-time names; files are written
        # under CURRENT names — chase the rename history forward so stats
        # keep being recorded across renames (read maps back per entry via
        # _name_at_version)
        stats_cols = [
            self._current_name(c) for c in self.manifest.get("stats_cols") or []
        ]
        for bdir in glob.glob(os.path.join(tx_dir, "_bucket=*")):
            b = int(os.path.basename(bdir).split("=", 1)[1])
            for fp in sorted(glob.glob(os.path.join(bdir, "*.parquet"))):
                entry = {
                    "path": os.path.relpath(fp, self.path),
                    "schema_version": schema_version,
                }
                if stats_cols:
                    st, rows = _footer_stats(fp, stats_cols)
                    entry["rows"] = rows
                    if st:
                        entry["stats"] = st
                out.setdefault(b, []).append(entry)
        return out

    # ------------------------------------------------------------- read path

    def _physical_schema(self, schema_version: int) -> T.StructType:
        base = _schema_from_json(
            json.dumps(self.manifest["schemas"][str(schema_version)])
        )
        return T.StructType(list(base.fields) + _SYSTEM_FIELDS)

    def _empty_df(self) -> DataFrame:
        return self.spark.createDataFrame(
            [], self._physical_schema(self.manifest["schema_version"])
        )

    def _conform(
        self,
        expr: F.Column,
        have: T.DataType,
        want: T.DataType,
        ver: int,
        path: tuple[str, ...],
    ) -> F.Column:
        """Cast ``expr`` (of type ``have``, written at schema version
        ``ver``) to ``want``, rebuilding structs field-by-field: Spark's
        struct cast requires matching field counts, but evolution ADDS
        fields — missing ones become nulls, extras drop, nested structs
        recurse (:meth:`_fields`, with ``path`` naming the container whose
        history the struct's fields resolve through). The isNull guard
        matters: ``F.struct`` of children from a NULL parent yields a
        non-null struct of nulls."""
        if have == want:
            return expr
        null = F.lit(None).cast(want)
        if isinstance(want, T.ArrayType):
            # array-of-struct evolution: conform each element, whose fields
            # live in the column's container (transform is a Catalyst HOF —
            # per-row JVM work, no Python stage)
            if not isinstance(have, T.ArrayType):
                return null
            return F.when(expr.isNull(), null).otherwise(
                F.transform(
                    expr,
                    lambda x: self._conform(
                        x, have.elementType, want.elementType, ver, path
                    ),
                )
            )
        if isinstance(want, T.StructType):
            if not isinstance(have, T.StructType):
                return null
            return F.when(expr.isNull(), null).otherwise(
                F.struct(*self._fields(expr.getField, have, want, ver, path))
            )
        return expr.cast(want)

    def _fields(
        self,
        get,
        have: T.StructType,
        want: T.StructType,
        ver: int,
        path: tuple[str, ...] = (),
    ) -> list[F.Column]:
        """``want``'s fields read from a struct of type ``have`` written at
        schema version ``ver`` (``get`` fetches one by name): each field of
        container ``path`` finds its write-time name through the
        container's history (:func:`_write_name`), at any depth, and reads
        as NULL when that struct lacks it or holds a retired incarnation."""
        have_types = {f.name: f.dataType for f in have.fields}
        out = []
        for f in want.fields:
            phys = _write_name(self.manifest, path, f.name, ver)
            if phys in have_types:
                out.append(
                    self._conform(
                        get(phys), have_types[phys], f.dataType, ver, (*path, f.name)
                    ).alias(f.name)
                )
            else:
                out.append(F.lit(None).cast(f.dataType).alias(f.name))
        return out

    def _reconcile(self, df: DataFrame, from_version: int) -> DataFrame:
        """Map a DataFrame written at an older schema version onto the
        current schema (Iceberg name-mapping lite): the table schema is the
        root struct, so its columns and their struct fields resolve by one
        rule (:meth:`_fields`); renamed fields read their write-time names,
        added ones read as nulls, widened types cast up."""
        cols = self._fields(F.col, df.schema, self.schema, from_version)
        return df.select(*cols, *(F.col(sc) for sc in SYSTEM_COLS))

    def _read_files(self, entries: list[dict]) -> DataFrame | None:
        """Read a set of manifest file entries, reconciling schema versions."""
        if not entries:
            return None
        by_ver: dict[int, list[str]] = {}
        for e in entries:
            by_ver.setdefault(e["schema_version"], []).append(
                os.path.join(self.path, e["path"])
            )
        parts = []
        for ver, files in sorted(by_ver.items()):
            raw = (
                self.spark.read.schema(self._physical_schema(ver))
                # explicit leaf files; disable partition-dir inference
                .option("recursiveFileLookup", "true")
                .parquet(*files)
            )
            parts.append(self._reconcile(raw, ver))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _lww_resolve(self, df: DataFrame) -> DataFrame:
        """Merge-on-read resolution: one surviving row per key, the max by
        the table's lww_order (same max_by aggregate as the CDC hot path —
        duplicated here rather than imported to keep the lakehouse layer
        free of cdc dependencies)."""
        key = self.key_col
        order = self.lww_order
        payload = [c for c in df.columns if c != key]
        out = df.groupBy(key).agg(
            F.max_by(
                F.struct(*[F.col(c) for c in payload]),
                F.struct(*[F.col(c) for c in order]),
            ).alias("_w")
        )
        return out.select(key, *[F.col(f"_w.{c}").alias(c) for c in payload])

    def _scan(
        self,
        buckets: "set[int] | None" = None,
        prune=None,
        resolve: bool = True,
    ) -> DataFrame:
        """The one read planner: the rows of ``buckets`` (default: all),
        with system columns and tombstones. ``prune`` (a function from a
        bucket's file entries to the ones worth reading) applies only to
        resolved buckets: a merge-on-read bucket's winner is known only
        after ALL its deltas are read, so dropping one by value could
        resurrect an older row. With ``resolve``, the rows are LWW-resolved
        exactly when a scanned bucket with files is in :attr:`mor_buckets`
        (resolved buckets already hold one row per key)."""
        mor = self.mor_buckets
        entries: list[dict] = []
        unresolved = False
        for b, files in self.manifest["buckets"].items():
            if buckets is not None and int(b) not in buckets:
                continue
            if int(b) in mor and files:
                unresolved = True
                entries.extend(files)
            else:
                entries.extend(prune(files) if prune else files)
        df = self._read_files(entries)
        if df is None:
            return self._empty_df()
        return self._lww_resolve(df) if resolve and unresolved else df

    @staticmethod
    def _visible(df: DataFrame) -> DataFrame:
        """Rows that are not tombstones, in the user schema."""
        return df.filter(~F.coalesce(F.col("_deleted"), F.lit(False))).drop(
            *SYSTEM_COLS
        )

    def read(self, include_tombstones: bool = False) -> DataFrame:
        """Current snapshot as a DataFrame (user schema; tombstones filtered;
        delta files LWW-resolved when the table is in merge-on-read state)."""
        df = self._scan()
        return df if include_tombstones else self._visible(df)

    def manifest_at(self, version: int) -> dict:
        """The committed manifest of a snapshot (manifests are immutable
        and retained — this IS the time-travel metadata). The one manifest
        reader: a manifest without ``mor_buckets`` keeps only a table-wide
        merge-on-read flag, a layout no reader here resolves, so it is
        refused."""
        p = os.path.join(self.path, "manifests", f"v{version:08d}.json")
        with open(p) as f:
            m = json.load(f)
        if "mor_buckets" not in m:
            raise ValueError(
                f"table {self.path} v{version} uses the legacy merge-on-read "
                "layout (no mor_buckets) — its unresolved buckets are "
                "unknown; re-create the table from its source data"
            )
        return m

    def at_version(self, version: int, schema_from: "dict | None" = None) -> "LakeTable":
        """Time travel: a read-only view of the table at ``version``.

        ``schema_from``: optionally borrow a NEWER manifest's schema registry
        and rename history while keeping ``version``'s file lists — that
        reads the old snapshot's rows RECONCILED ONTO the newer schema
        (nulls for later-added columns, later renames applied), which is what
        a cross-version diff needs to compare rows by name. Iceberg analog:
        reading an old snapshot with the table's current schema.
        """
        m_old = self.manifest_at(version)
        m = m_old
        if schema_from is not None:
            # the MOR state tracks the OLD file lists: the newer manifest's
            # mor_buckets would misreport the old snapshot's resolve needs
            m = {
                **schema_from,
                "buckets": m_old["buckets"],
                "mor_buckets": m_old["mor_buckets"],
                "version": m_old["version"],
                "properties": m_old["properties"],
            }
        snap = LakeTable(self.spark, self.path)
        snap._manifest = m
        return snap

    def read_buckets(self, bucket_ids: list[int], resolve: bool = False) -> DataFrame:
        """Scan ONLY the named buckets (with system columns + tombstones) —
        the bucket-pruned side of the MERGE. ``resolve=True`` LWW-resolves
        when any named bucket is in :attr:`mor_buckets` (raw duplicates
        otherwise; the COW merge resolves in its own aggregate anyway)."""
        return self._scan(set(bucket_ids), resolve=resolve)

    def _current_name(self, name: str) -> str:
        """A column name chased forward through the rename history to its
        current spelling."""
        return _chase(self.manifest["renames"], name)

    # ---------------------------------------------------------- metadata views

    def history(self) -> DataFrame:
        """Metadata view, one row per committed snapshot (Iceberg
        ``history``/``snapshots`` analog): version chain, commit wall
        clock, file/row counts, and the commit's lineage record. Built
        from the retained manifests — metadata only, no data scan. Row
        counts are exact when the table records zone maps (entries carry
        ``rows``), null otherwise."""
        rows = []
        for v in self.snapshot_versions():
            m = self.manifest_at(v)
            lin = m.get("lineage") or {}
            entries = [e for fs in m["buckets"].values() for e in fs]
            n_rows = (
                sum(e["rows"] for e in entries)
                if entries and all("rows" in e for e in entries)
                else None
            )
            if not lin:
                op = "create" if m.get("parent") is None else "commit"
            elif lin.get("compaction"):
                op = "compact"
            elif "rescale_parents" in lin or "rescale_finalized" in lin:
                op = "rescale"
            elif lin.get("purge"):
                op = "purge"
            elif "schema_evolution" in lin:
                op = "evolve"
            elif lin.keys() & {"dedup_ingest", "emb_ingest", "chunk_ingest"}:
                op = "dedup-ingest"
            elif lin.keys() & {"dedup_heal", "emb_heal", "chunk_heal"}:
                op = "dedup-heal"
            elif "batch_id" in lin:
                op = "cdc-apply"
            else:
                op = "commit"
            rows.append(
                (
                    v,
                    m.get("parent"),
                    m.get("committed_at_ms"),
                    m.get("schema_version"),
                    len(entries),
                    n_rows,
                    bool(m["mor_buckets"]),
                    op,
                    json.dumps(lin) if lin else None,
                )
            )
        return self.spark.createDataFrame(
            rows,
            "version int, parent int, committed_at_ms long, "
            "schema_version int, n_files int, n_rows long, mor boolean, "
            "operation string, lineage_json string",
        )

    def files(self, version: int | None = None) -> DataFrame:
        """Metadata view, one row per data file of a snapshot (Iceberg
        ``files`` analog): bucket, relative path, write-time schema
        version, row count and zone-map stats (JSON) when recorded.
        Metadata only — the scan-planning facts read_range prunes with,
        exposed for inspection."""
        m = self.manifest if version is None else self.manifest_at(version)
        rows = []
        for b, fs in sorted(m["buckets"].items(), key=lambda kv: int(kv[0])):
            for e in fs:
                rows.append(
                    (
                        int(b),
                        e["path"],
                        e["schema_version"],
                        e.get("rows"),
                        json.dumps(e["stats"]) if e.get("stats") else None,
                    )
                )
        return self.spark.createDataFrame(
            rows,
            "bucket int, path string, schema_version int, n_rows long, "
            "stats_json string",
        )

    def _name_at_version(self, current: str, ver: int) -> str:
        """A CURRENT column name as it was spelled at schema version
        ``ver`` (walks the rename history backwards; zone-map stats are
        recorded under write-time names)."""
        return _unchase(self.manifest["renames"], current, ver)

    def prune_entries(
        self, entries: list[dict], col: str, lo=None, hi=None
    ) -> tuple[list[dict], int]:
        """Zone-map file pruning: drop entries whose recorded [min, max]
        for ``col`` provably misses [lo, hi] (either bound may be None =
        unbounded). Entries without stats for the column are KEPT — pruning
        is only ever an optimization. Returns (kept, n_skipped)."""
        lo_e = _stats_encode(lo) if lo is not None else None
        hi_e = _stats_encode(hi) if hi is not None else None
        kept: list[dict] = []
        skipped = 0
        for e in entries:
            st = (e.get("stats") or {}).get(
                self._name_at_version(col, e["schema_version"])
            )
            try:
                miss = st is not None and (
                    (hi_e is not None and st[0] > hi_e)
                    or (lo_e is not None and st[1] < lo_e)
                )
            except TypeError:
                # bound type doesn't order against the stored encoding
                # (e.g. a string bound on a timestamp column) — pruning is
                # an optimization, so KEEP the file; the DataFrame filter
                # will raise/compare per SQL semantics downstream
                miss = False
            if miss:
                skipped += 1
                continue
            kept.append(e)
        return kept, skipped

    def _bloom_might_contain(self, fp: str, col_name: str, value) -> bool | None:
        """One file's parquet bloom-filter verdict for ``col_name == value``:
        False means the value is PROVABLY absent (safe to skip the file),
        True means it may be present, None means no determination (a row
        group without a bloom — e.g. a fully dictionary-encoded chunk, where
        parquet-mr drops the bloom because dictionary filtering is already
        exact — an unsupported physical type, or a read error).

        Driver-side via the running JVM's parquet-mr (the same classes the
        executor-side reader uses for bloom row-group skipping): only the
        footer and the bloom bytes are read, never data pages. The hash is
        parquet-mr's own (xxhash64 seed 0 over the PLAIN encoding),
        dispatched on the FILE's physical type so widened columns (int32
        files under a now-bigint schema) still test correctly.

        The hash is computed through parquet's shaded openhft
        ``LongHashFunction`` (width-named methods: hashLong/hashInt/
        hashBytes) and NEVER through ``bloom.hash(...)``: py4j auto-unboxes
        java.lang.Long returns to Python ints and re-converts small ints as
        java ``int``, silently selecting the ``hash(int)`` overload — an
        INT64 value below 2^31 then hashes as 4 bytes instead of 8 and
        every membership test false-negatives (found the hard way; pinned
        in tests/test_bloom.py with planted SMALL keys)."""
        jvm = self.spark._jvm
        try:
            hasher = jvm.shaded.parquet.net.openhft.hashing.LongHashFunction.xx(0)
        except Exception:
            return None
        try:
            reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
                jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                    jvm.org.apache.hadoop.fs.Path(fp),
                    self.spark._jsc.hadoopConfiguration(),
                )
            )
        except Exception:
            return None
        try:
            blocks = reader.getFooter().getBlocks()
            hit = False
            for gi in range(blocks.size()):
                cols = blocks.get(gi).getColumns()
                meta = None
                for ci in range(cols.size()):
                    c = cols.get(ci)
                    if c.getPath().toDotString() == col_name:
                        meta = c
                        break
                if meta is None:
                    return None
                bloom = reader.readBloomFilter(meta)
                if bloom is None:
                    return None
                phys = meta.getPrimitiveType().getPrimitiveTypeName().toString()
                if phys == "INT64":
                    h = hasher.hashLong(int(value))
                elif phys == "INT32":
                    iv = int(value)
                    if not (-(2**31) <= iv < 2**31):
                        continue  # out of int32 range: absent from this chunk
                    h = hasher.hashInt(iv)
                elif phys == "BINARY" and isinstance(value, str):
                    h = hasher.hashBytes(bytearray(value.encode("utf-8")))
                else:
                    return None
                if bloom.findHash(h):
                    hit = True
            return hit
        except Exception:
            return None
        finally:
            try:
                reader.close()
            except Exception:  # pragma: no cover
                pass

    def bloom_prune_entries(
        self, entries: list[dict], col: str, value
    ) -> tuple[list[dict], int]:
        """Bloom-filter FILE pruning for a point predicate ``col == value``:
        drop entries whose blooms prove the value absent from every row
        group. The complement of zone-map pruning: min/max never prunes a
        hash-distributed key (every file spans the keyspace), a bloom
        prunes exactly there. Entries are KEPT on any doubt — pruning is
        only ever an optimization. Returns (kept, n_skipped)."""
        if value is None:
            return entries, 0
        kept: list[dict] = []
        skipped = 0
        for e in entries:
            name = self._name_at_version(col, e["schema_version"])
            verdict = self._bloom_might_contain(
                os.path.join(self.path, e["path"]), name, value
            )
            if verdict is False:
                skipped += 1
            else:
                kept.append(e)
        return kept, skipped

    def read_range(
        self, col: str, lo=None, hi=None, include_tombstones: bool = False
    ) -> DataFrame:
        """``read()`` restricted to ``lo <= col <= hi`` (either bound may
        be None), with manifest-level FILE pruning by the table's zone maps
        before the scan plans — the beyond-bucket-pruning scan path for
        range predicates the bucket hash can't help with (time windows over
        ``warc_ts``, incremental ``_lsn`` sweeps). Semantically identical
        to ``read().filter(col BETWEEN lo AND hi)`` (pinned in
        tests/test_zonemaps.py): surviving files still apply the predicate
        (parquet row-group pushdown inside them), null values never match,
        and merge-on-read buckets skip file pruning (:meth:`_scan`: the
        filter applies after their LWW resolve)."""
        if col not in {f.name for f in self.schema.fields} | set(SYSTEM_COLS):
            raise ValueError(f"read_range: unknown column {col!r}")
        pred = F.lit(True)
        if lo is not None:
            pred = pred & (F.col(col) >= F.lit(lo))
        if hi is not None:
            pred = pred & (F.col(col) <= F.lit(hi))
        df = self._scan(
            prune=lambda files: self.prune_entries(files, col, lo, hi)[0]
        ).filter(pred)
        return df if include_tombstones else self._visible(df)

    def bucket_expr(self, col: str | None = None) -> F.Column:
        """The bucket id of a key value: pmod(xxhash64(key), n_buckets)."""
        return F.pmod(F.xxhash64(F.col(col or self.key_col)), F.lit(self.n_buckets))

    # ------------------------------------------------------------- write path

    def replace_buckets(
        self,
        df_with_bucket: DataFrame,
        touched_buckets: list[int],
        properties: dict[str, str] | None = None,
        lineage: dict | None = None,
        max_rows_per_file: int | None = None,
    ) -> int:
        """Copy-on-write commit: ``df_with_bucket`` (physical schema + a
        ``_bucket`` int column) becomes the new content of ``touched_buckets``;
        all other buckets carry over untouched. Returns the new version.
        ``max_rows_per_file`` bounds output file size (sorted-compaction
        path — see :meth:`compact`). The touched buckets leave the
        merge-on-read set in the same commit: their new content is whole
        and one row per key, so a compaction is one snapshot."""
        m = self._next_manifest()
        # The writer partitions by _bucket inside each task, so a task adds
        # one file to every bucket it holds rows of. Callers that want one
        # file per touched bucket route the rows by _bucket first (the CDC
        # apply does: file creation, not data, is its per-batch cost);
        # compact() does the same for the buckets it folds.
        written = self._write_tx(
            m, df_with_bucket, touched_buckets, max_rows_per_file
        )
        for b in touched_buckets:
            m["buckets"][str(b)] = written.get(b, [])
        self._resolve_mor(m, touched_buckets)
        return self._publish(m, properties, lineage)

    def append_delta_buckets(
        self,
        df_with_bucket: DataFrame,
        touched_buckets: list[int],
        properties: dict[str, str] | None = None,
        lineage: dict | None = None,
    ) -> tuple[int, list[str]]:
        """Merge-on-read commit: APPEND the rows as delta files to the
        touched buckets (no read, no rewrite — write cost is O(batch), not
        O(bucket)). Readers LWW-resolve per key until :meth:`compact` folds
        the deltas. Returns (new version, relpaths of the added files)."""
        m = self._next_manifest()
        written = self._write_tx(m, df_with_bucket)
        added: list[str] = []
        for b, entries in written.items():
            m["buckets"].setdefault(str(b), []).extend(entries)
            added.extend(e["path"] for e in entries)
        m["mor_buckets"] = sorted(set(m["mor_buckets"]) | set(written))
        return self._publish(m, properties, lineage), added

    def append_buckets(
        self,
        df_with_bucket: DataFrame,
        properties: dict[str, str] | None = None,
        lineage: dict | None = None,
    ) -> int:
        """APPEND-ONLY commit: add the rows as new files to their buckets
        with NO merge-on-read marking — for tables whose key is a ROUTING
        key rather than a unique row key (e.g. the dedup signature index:
        many (bucket_key, doc_id) rows share one LSH bucket, so MOR's
        per-key LWW resolution would silently collapse them). The caller
        owns row-level uniqueness (the deduper's batch gate guarantees each
        batch lands exactly once); ``compact`` folds files without
        resolution on a non-MOR table. Write cost is O(batch) like the MOR
        path. Returns the new version."""
        m = self._next_manifest()
        for b, entries in self._write_tx(m, df_with_bucket).items():
            m["buckets"].setdefault(str(b), []).extend(entries)
        return self._publish(m, properties, lineage)

    def append_bucketed(
        self,
        df: DataFrame,
        properties: dict[str, str] | None = None,
        lineage: dict | None = None,
    ) -> int:
        """Bulk load (pristine initial snapshot): bucket the rows and write
        every bucket. ``df`` is in user schema; system columns defaulted."""
        full = df
        if "_lsn" not in full.columns:
            full = full.withColumn("_lsn", F.lit(0).cast("long"))
        if "_deleted" not in full.columns:
            full = full.withColumn("_deleted", F.lit(False))
        full = full.withColumn("_bucket", self.bucket_expr())
        return self.replace_buckets(
            full, list(range(self.n_buckets)), properties, lineage
        )

    def compact(
        self,
        bucket_ids: list[int] | None = None,
        sort_by: list[str] | None = None,
        max_rows_per_file: int | None = None,
    ) -> int:
        """Maintenance: fold each chosen bucket into one file per bucket —
        LWW-resolving merge-on-read deltas (one surviving row per key) and
        bounding the read amplification both write paths accumulate. A full
        compaction clears the table's merge-on-read state.

        CLUSTERED compaction (the OPTIMIZE ... ZORDER-lite this table
        format supports): ``sort_by`` orders rows by those columns within
        each bucket (a per-partition sort — no extra shuffle beyond the
        bucket repartition that's already here), and ``max_rows_per_file``
        splits each bucket into bounded sorted runs. Together with
        ``stats_cols`` zone maps this makes every output file cover a
        NARROW slice of the sort key, so ``read_range`` on that key prunes
        most of a bucket instead of reading all of it — the way a 100-TB
        table keeps time-window scans O(window), not O(table). Row order
        inside a snapshot is semantically free (reads LWW-resolve or are
        already one-row-per-key), so clustering never changes results
        (pinned in tests/test_sorted_compaction.py).

        CONCURRENCY: compaction racing a live writer (a maintenance CLI
        against a running cdc-run) loses the optimistic commit and, being
        a pure content-preserving fold, simply refreshes and recomputes —
        up to ``COMMIT_RETRIES`` times (Iceberg's rewrite_data_files
        retry analog). The losing attempt's files are invisible orphans
        (vacuum collects them). tests/test_conflicts.py."""
        return retry_conflicts(
            lambda: self._compact_once(bucket_ids, sort_by, max_rows_per_file),
            lambda _e: self.refresh(),
        )

    def _compact_once(
        self,
        bucket_ids: list[int] | None,
        sort_by: list[str] | None,
        max_rows_per_file: int | None,
    ) -> int:
        buckets = bucket_ids if bucket_ids is not None else [
            int(b) for b, files in self.manifest["buckets"].items() if files
        ]
        if not buckets:
            return self.version
        df = self.read_buckets(buckets, resolve=True).withColumn(
            "_bucket", self.bucket_expr()
        )
        compacted = df.repartition(len(buckets), F.col("_bucket"))
        if sort_by:
            compacted = compacted.sortWithinPartitions("_bucket", *sort_by)
        return self.replace_buckets(
            compacted,
            buckets,
            lineage={
                "compaction": True,
                "buckets": buckets,
                **({"sort_by": sort_by} if sort_by else {}),
            },
            max_rows_per_file=max_rows_per_file,
        )

    def rescale(
        self, target_n_buckets: int, parents_per_commit: int | None = None
    ) -> int:
        """Maintenance: grow ``n_buckets`` to ``target_n_buckets`` (an exact
        multiple of the current count) — the missing migration path when the
        "one bucket ~ a few GB" sizing rule breaks at 10x data growth.

        ``pmod(h, n*k) mod n == pmod(h, n)``, so each parent bucket p's keys
        land exactly in child buckets {p, p+n, ..., p+(k-1)n}: the rewrite
        is per-parent local (no cross-parent shuffle of the whole table) and
        proceeds in CHUNKS of parents, one commit per chunk:

        - phase 1 (per chunk): read the parent buckets (LWW-resolving
          merge-on-read deltas like :meth:`compact` — a rescaled parent
          leaves MOR state), rewrite their rows into child-tagged files,
          and commit a manifest that still keys them under the PARENT id
          with a ``child_bucket`` tag per entry. Every intermediate
          manifest is fully consistent — ``n_buckets`` is unchanged, a
          parent's file set is the union of its child files — so the table
          stays readable (and even bucket-pruned-readable) THROUGHOUT.
        - phase 2: one metadata-only commit flips ``n_buckets`` and re-keys
          every entry by its child tag. Atomic like every commit.

        Idempotent on crash-retry: re-running ``rescale(target)`` resumes
        from the manifest's progress state (parents whose entries all carry
        child tags are done; a concurrent COW merge that rewrote a parent
        mid-migration strips its tags, and that parent is simply migrated
        again — self-healing). A completed rescale re-run is a no-op.
        Like ``compact``, run it without concurrent writers for efficiency;
        correctness survives interleaving because visibility is manifest-
        atomic either way."""
        n_old = self.n_buckets
        if target_n_buckets == n_old and "rescale" not in self.manifest:
            return self.version  # completed (or never needed) — no-op replay
        state = self.manifest.get("rescale")
        if state is not None and state["target"] != target_n_buckets:
            raise ValueError(
                f"rescale to {target_n_buckets} conflicts with in-progress "
                f"rescale to {state['target']}"
            )
        if state is None:
            if target_n_buckets <= n_old or target_n_buckets % n_old != 0:
                raise ValueError(
                    f"target_n_buckets must be a multiple of {n_old} "
                    f"greater than it (got {target_n_buckets})"
                )

        def done_parents(m: dict) -> set[int]:
            listed = set(m.get("rescale", {}).get("migrated", []))
            return {
                p
                for p in listed
                if all(
                    "child_bucket" in e for e in m["buckets"].get(str(p), [])
                )
            }

        todo = sorted(
            int(b)
            for b, files in self.manifest["buckets"].items()
            if files and int(b) not in done_parents(self.manifest)
        )
        chunk = parents_per_commit or max(len(todo), 1)
        while todo:
            batch, todo = todo[:chunk], todo[chunk:]
            df = self.read_buckets(batch, resolve=True)
            child = F.pmod(F.xxhash64(F.col(self.key_col)), F.lit(target_n_buckets))
            dfb = df.withColumn("_bucket", child).repartition(
                max(len(batch) * (target_n_buckets // n_old), 1), F.col("_bucket")
            )
            m = self._next_manifest()
            parents = set(batch)
            children = [c for c in range(target_n_buckets) if c % n_old in parents]
            new_files: dict[int, list[dict]] = {p: [] for p in batch}
            for c, entries in self._write_tx(m, dfb, children).items():
                new_files[c % n_old].extend({**e, "child_bucket": c} for e in entries)
            for p in batch:
                m["buckets"][str(p)] = new_files[p]
            m["rescale"] = {
                "target": target_n_buckets,
                "migrated": sorted(
                    set(m.get("rescale", {}).get("migrated", [])) | parents
                ),
            }
            self._resolve_mor(m, batch)
            self._publish(
                m, lineage={"rescale_parents": batch, "target": target_n_buckets}
            )
        # phase 2: metadata-only cutover
        m = self._next_manifest()
        new_buckets: dict[str, list[dict]] = {}
        for _b, files in m["buckets"].items():
            for e in files:
                c = e["child_bucket"]  # all parents migrated by construction
                new_buckets.setdefault(str(c), []).append(
                    {k: v for k, v in e.items() if k != "child_bucket"}
                )
        m["buckets"] = new_buckets
        m["n_buckets"] = target_n_buckets
        m.pop("rescale", None)
        return self._publish(
            m, lineage={"rescale_finalized": {"from": n_old, "to": target_n_buckets}}
        )

    # ----------------------------------------------------------- retention

    def expire_snapshots(self, keep_last: int = 10) -> list[int]:
        """Delete manifests older than the newest ``keep_last`` snapshots
        (Iceberg ``expire_snapshots`` analog). Time travel, changelog spans
        and IVM feeds reaching past the horizon fail loudly afterwards —
        run retention BEHIND the changelog's emission point (the feed
        directory's markers name it). The current snapshot is never
        expired. Returns the expired version numbers.

        Crash-safe: manifests are self-contained immutable files, so
        deletion order doesn't matter and a re-run just deletes less."""
        versions = self.snapshot_versions()
        expired = versions[:-keep_last] if keep_last > 0 else versions[:-1]
        for v in expired:
            try:
                os.unlink(os.path.join(self.path, "manifests", f"v{v:08d}.json"))
            except FileNotFoundError:  # pragma: no cover - concurrent expire
                pass
        return expired

    def vacuum(self, older_than_s: float = 3600.0) -> list[str]:
        """Delete data files no RETAINED manifest references (Iceberg
        ``remove_orphan_files`` analog). Orphans come from two places, both
        invisible by construction: crashes between data write and manifest
        publish (incl. committer-v2 partial task output), and
        :meth:`expire_snapshots` dropping the last manifest that referenced
        a file. ``older_than_s`` is the safety horizon: files younger than
        it are kept even when unreferenced, because a CONCURRENT writer's
        uncommitted transaction looks exactly like an orphan until its
        manifest publishes (Iceberg's remove_orphan_files has the same
        guard for the same reason). Returns deleted relpaths."""
        import time as _time

        referenced: set[str] = set()
        for v in self.snapshot_versions():
            m = self.manifest_at(v)
            for files in m["buckets"].values():
                for e in files:
                    referenced.add(e["path"])
                    # Hadoop LocalFS writes a `.{name}.crc` checksum twin
                    # next to each data file; it lives and dies with it
                    d, base = os.path.split(e["path"])
                    referenced.add(os.path.join(d, f".{base}.crc"))
        deleted: list[str] = []
        cutoff = _time.time() - older_than_s
        data_root = os.path.join(self.path, "data")
        # Snapshot every directory's mtime BEFORE deleting anything: our own
        # unlinks bump the containing dir's mtime and a child rmdir bumps
        # the parent's, which would make stale trees look fresh and strand
        # empty tx directories across runs (review-caught, round 3).
        dir_mtimes: dict[str, float] = {}
        for dirpath, _dirs, _files in os.walk(data_root):
            try:
                dir_mtimes[dirpath] = os.path.getmtime(dirpath)
            except OSError:  # pragma: no cover - racer
                pass
        pruned_dirs: set[str] = set()
        for dirpath, _dirs, files in os.walk(data_root, topdown=False):
            dir_was_stale = dir_mtimes.get(dirpath, cutoff + 1) <= cutoff
            deleted_here = 0
            for fn in files:
                fp = os.path.join(dirpath, fn)
                rel = os.path.relpath(fp, self.path)
                if rel in referenced:
                    continue
                try:
                    if os.path.getmtime(fp) > cutoff:
                        continue
                    os.unlink(fp)
                    deleted.append(rel)
                    deleted_here += 1
                except FileNotFoundError:  # pragma: no cover - racer
                    continue
            # prune now-empty transaction directories when the dir was
            # already stale OR we just emptied it of stale content (files
            # or child dirs of a dead transaction). A freshly created
            # EMPTY staging dir is neither — a concurrent writer's
            # in-flight output stays untouched; rmdir's ENOTEMPTY guards
            # against files landing between the unlink and the prune.
            emptied_children = any(
                os.path.dirname(d) == dirpath for d in pruned_dirs
            )
            if dirpath != data_root and (
                dir_was_stale or deleted_here or emptied_children
            ):
                try:
                    os.rmdir(dirpath)
                    pruned_dirs.add(dirpath)
                except OSError:
                    pass
        return deleted

    # ---------------------------------------------------------------- purge

    def _purge_keys_df(self, keys) -> DataFrame:
        """Normalize a purge key set (list or one-column DataFrame) into a
        distinct one-column DataFrame named/typed like the key column."""
        return self._values_df(self.key_col, keys)

    def _append_suppression(self, keys_df: DataFrame) -> None:
        """Append keys to the table's suppression ledger (parquet files
        under ``<root>/suppression/``; duplicates are harmless — readers
        distinct). Written BEFORE the purge rewrite commits so a crash
        between the two leaves suppression ACTIVE-pending (rows remain but
        a purge re-run heals) rather than rows-gone-but-resurrectable."""
        import shutil

        d = os.path.join(self.path, "suppression")
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(self.path, f".tmp-suppress-{uuid.uuid4().hex[:8]}")
        keys_df.coalesce(1).write.mode("overwrite").parquet(tmp)
        try:
            for fp in sorted(glob.glob(os.path.join(tmp, "*.parquet"))):
                os.replace(
                    fp, os.path.join(d, f"purge-{uuid.uuid4().hex[:12]}.parquet")
                )
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def suppressed_keys(self) -> "DataFrame | None":
        """Distinct keys in the suppression ledger, or None when the table
        has never been purged. The existence probe is one driver-side
        glob — tables that never purge pay nothing on the CDC hot path."""
        files = glob.glob(os.path.join(self.path, "suppression", "*.parquet"))
        if not files:
            return None
        return (
            self.spark.read.parquet(*files).select(self.key_col).distinct()
        )

    def _purge_candidates(
        self, entries: list[dict], values: list, col: "str | None" = None
    ) -> tuple[list[dict], list[dict]]:
        """Split file entries into (may contain ANY of ``values``, provably
        clean) for ``col`` (default: the key column) — zone maps first,
        then parquet blooms, kept on any doubt. Each file is probed
        against at most one value once it's known hit (hits move out of
        the probe set)."""
        col = col or self.key_col
        remaining = list(entries)
        hits: list[dict] = []
        for v in values:
            if not remaining:
                break
            kz, _ = self.prune_entries(remaining, col, lo=v, hi=v)
            if col in (self.manifest.get("bloom_cols") or []):
                kz, _ = self.bloom_prune_entries(kz, col, v)
            hit_paths = {e["path"] for e in kz}
            if hit_paths:
                hits.extend(e for e in remaining if e["path"] in hit_paths)
                remaining = [e for e in remaining if e["path"] not in hit_paths]
        return hits, remaining

    def purge_keys(self, keys, record_suppression: bool = True) -> int:
        """Right-to-be-forgotten erasure (takedowns, robots revocations):
        physically REMOVE every stored row — tombstones and merge-on-read
        delta versions included — whose key is in ``keys`` from the current
        snapshot, and record the keys in the suppression ledger so future
        change events for them are dropped at the apply gate (the CDC layer
        reads :meth:`suppressed_keys`; see cdc/apply.py). One atomic
        commit: rewritten buckets + the bumped ``purge.epoch`` property.

        Scale shape: keys hash to buckets, and within each touched bucket
        only the files whose zone maps / parquet blooms cannot rule the key
        out are rewritten — on a bloom-indexed key a purge of k URLs
        rewrites ~k files out of a 100-TB table, never the buckets
        wholesale. The key list is collected driver-side to drive file
        pruning (bounded: purge sets are takedown-scale).

        Erasure across RETAINED HISTORY is completed by retention, exactly
        as in Iceberg/Delta: older snapshots still reference the pre-purge
        files until ``expire_snapshots`` + ``vacuum`` drop them —
        :meth:`verify_purged` reports which retained versions still hold
        matching rows. Key RENAME evolution after rows were written is not
        supported under purge (keys are located by current name).

        CONCURRENCY: a purge racing a live writer loses the optimistic
        commit, refreshes and recomputes (the anti-join rewrite is
        idempotent against any newer state; the ledger append happened
        once, before the first attempt) — up to ``COMMIT_RETRIES``
        times. tests/test_conflicts.py.

        ``record_suppression=False`` skips the ledger and the epoch bump —
        for tables whose keys are never re-submitted by construction (e.g.
        a dedup corpus behind a monotone-id gate), where suppression state
        would only accumulate dead weight.

        Returns the committed version."""
        kdf = self._purge_keys_df(keys)
        if record_suppression:
            self._append_suppression(kdf)
        return retry_conflicts(
            lambda: self._purge_once(
                kdf, self.key_col, arm_suppression=record_suppression
            ),
            lambda _e: self.refresh(),
        )

    def purge_matching(self, col: str, values) -> int:
        """Erasure by a NON-KEY column — the provenance variant of
        :meth:`purge_keys` (e.g. a dedup corpus whose rows carry the
        source url in a ``src_key`` column). Values can't route to
        buckets (they don't hash the key), so every bucket's files are
        PROBED — still file-pruned by the column's zone maps / blooms
        when recorded (create the table with ``bloom_filter_cols``
        including the column), so the rewrite stays ~O(files containing
        the values). No suppression ledger and no purge.epoch bump: those
        gate FUTURE key-routed events, which a non-key purge does not
        define. Same conflict-rebase loop as purge_keys."""
        if col not in self.schema.names:
            raise ValueError(f"purge_matching: unknown column {col!r}")
        kdf = self._values_df(col, values)
        return retry_conflicts(
            lambda: self._purge_once(kdf, col), lambda _e: self.refresh()
        )

    def _values_df(self, col: str, values) -> DataFrame:
        ctype = self.schema[col].dataType
        if isinstance(values, DataFrame):
            src = F.col(values.columns[0])
            # a key that NULLS OUT under the cast (e.g. a non-numeric
            # string against a long key column) would silently vanish
            # from the purge set — a right-to-be-forgotten request that
            # erases nothing, with no error and no lineage trace
            # (advisor-caught). One bounded count per purge (purges are
            # rare admin ops) buys the loud failure.
            cast_df = values.select(
                src.alias("_raw"), src.cast(ctype).alias(col)
            )
            n_bad = cast_df.where(
                F.col("_raw").isNotNull() & F.col(col).isNull()
            ).count()
            if n_bad:
                raise ValueError(
                    f"purge: {n_bad} key value(s) do not cast to {col!r}'s "
                    f"type {ctype.simpleString()} and would silently be "
                    "dropped from the purge set — fix the inputs"
                )
            vdf = cast_df.select(col)
        else:
            vdf = self.spark.createDataFrame(
                [(v,) for v in values], T.StructType([T.StructField(col, ctype)])
            )
        return vdf.where(F.col(col).isNotNull()).distinct()

    def _purge_once(
        self, kdf: DataFrame, col: str, arm_suppression: bool = False
    ) -> int:
        m = self._next_manifest()
        if col == self.key_col:
            # key values route to their buckets: probe only those
            rows = kdf.withColumn("_b", self.bucket_expr()).collect()
            by_bucket: dict[int, list] = {}
            for r in rows:
                by_bucket.setdefault(int(r["_b"]), []).append(r[col])
            n_keys = len(rows)
        else:
            # non-key purge: values can land in ANY bucket; every bucket's
            # files are probed (and zone/bloom-pruned per value)
            vals = [r[col] for r in kdf.collect()]
            by_bucket = {
                int(b): vals for b, fs in m["buckets"].items() if fs
            }
            n_keys = len(vals)

        candidates: list[dict] = []
        survivors: dict[int, list[dict]] = {}
        for b, vals in sorted(by_bucket.items()):
            entries = m["buckets"].get(str(b), [])
            if not entries:
                continue
            hit, clean = self._purge_candidates(entries, vals, col)
            if hit:
                candidates.extend(hit)
                survivors[b] = clean

        lineage = {
            "purge": True,
            "col": col,
            "n_keys": int(n_keys),
            "buckets": sorted(survivors),
            "files_rewritten": len(candidates),
        }
        props = None
        if arm_suppression:
            # ledger-recorded key purges arm apply-side suppression; non-key
            # and no-ledger purges gate nothing downstream
            epoch = int(m["properties"].get(PURGE_EPOCH_PROP, "0")) + 1
            props = {PURGE_EPOCH_PROP: str(epoch)}
        # with no candidates nothing stored matches: the metadata-only
        # commit still bumps purge.epoch (key purges) so suppression activates
        if candidates:
            # the key set was driver-collected above: broadcast it
            kept = (
                self._read_files(candidates)
                .join(F.broadcast(kdf), on=col, how="left_anti")
                .withColumn("_bucket", self.bucket_expr())
            )
            written = self._write_tx(m, kept, set(survivors))
            for b, clean in survivors.items():
                m["buckets"][str(b)] = clean + written.get(b, [])
        return self._publish(m, props, lineage)

    def verify_purged(self, keys) -> dict[int, int]:
        """Erasure audit: for each RETAINED snapshot version, the number of
        stored rows (tombstones included) whose key is in ``keys``. Empty
        dict == erasure is complete across retained history. Pre-purge
        versions holding rows are EXPECTED until ``expire_snapshots`` +
        ``vacuum`` run — this is the check that tells you when to run them
        (and that they worked). File-pruned per version via zone maps and
        blooms, so post-retention audits read ~no data."""
        kdf = self._purge_keys_df(keys)
        values = [r[self.key_col] for r in kdf.collect()]
        out: dict[int, int] = {}
        for v in self.snapshot_versions():
            snap = self.at_version(v)
            entries = [
                e for files in snap.manifest["buckets"].values() for e in files
            ]
            cand, _ = snap._purge_candidates(entries, values)
            if not cand:
                continue
            df = snap._read_files(cand)
            n = df.join(F.broadcast(kdf), on=self.key_col, how="left_semi").count()
            if n:
                out[v] = int(n)
        return out

    def lookup(self, key_value) -> DataFrame:
        """Point read: the current row(s) for one key, touching ONLY the
        bucket the key hashes into — at 100 TB this reads a few files, not
        the table. When the table records key zone maps (``stats_cols``
        includes the key) the bucket's files additionally prune by the
        key's [min, max] — on a key-clustered bucket
        (``compact(sort_by=[key])``) that is ONE file. Skipped for MOR
        buckets (all delta files participate in resolution). Returns 0 or
        1 rows (post LWW-resolution, tombstones filtered)."""
        # cast the literal to the KEY COLUMN's type before hashing: Spark's
        # xxhash64 hashes int and bigint differently, so an uncast Python int
        # literal would land in the wrong bucket for a bigint key
        # (review-caught)
        key_type = self.schema[self.key_col].dataType
        bucket = (
            self.spark.range(1)
            .select(
                F.pmod(
                    F.xxhash64(F.lit(key_value).cast(key_type)),
                    F.lit(self.n_buckets),
                ).alias("b")
            )
            .collect()[0]["b"]
        )
        key = self.key_col

        def prune(files: list[dict]) -> list[dict]:
            files, _ = self.prune_entries(files, key, key_value, key_value)
            # bloom pruning after zone maps: on an unclustered table the
            # key's [min, max] spans the keyspace in every file, so the
            # bloom is the only metadata that can prove absence. O(bucket
            # files) footer+bloom reads, no data pages.
            if key in (self.manifest.get("bloom_cols") or []):
                files, _ = self.bloom_prune_entries(files, key, key_value)
            return files

        df = self._scan({int(bucket)}, prune=prune)
        return self._visible(df.filter(F.col(key) == key_value))

    # ------------------------------------------------------------- evolution

    def evolve_schema(
        self,
        ops: "list[AddColumn | RenameColumn | WidenColumn | DropColumn | AddStructField | RenameStructField | WidenStructField]",
    ) -> int:
        """Apply schema-evolution ops as one metadata-only commit (no data
        rewrite); old files are reconciled on read. Reference analog: the
        reference's schema-compliance gate (``Tasks/EndToEnd.cs``), turned
        from a rejector into an evolver (SURVEY.md §1, O3).

        The table schema is the root struct. Each op resolves to a
        container — the root for column ops; for struct-field ops the
        struct of the named column, or the element struct of an
        ``array<struct>`` column — with its own add/rename/widen history,
        and each verb has ONE rule at every depth:

        - add: a no-op when the add history records it (a replay) or the
          field exists with the wanted type or a valid widening of it; any
          other existing type hard-fails;
        - rename: a no-op when the rename history records it or its effect
          is present; a target naming another field hard-fails;
        - widen: along the promotion lattice only; a no-op at the target
          type or when the widen history records the step;
        - drop: top-level columns only; merge key / LWW order columns
          refuse.

        IDEMPOTENT per op: evolution commits its own manifest BEFORE the
        epoch's data commit advances EPOCH_PROP; a crash in that window
        replays the same epoch's ops, which must re-apply cleanly instead
        of wedging every retry with 'already exists'. Ops and history
        entries name columns and fields as of their own epoch, and are
        matched after both are chased to current names. Returns the current
        version unchanged when every op was a no-op."""
        m = self._next_manifest()
        sv = m["schema_version"]
        fields = list(_schema_from_json(json.dumps(m["schemas"][str(sv)])).fields)
        new_sv = sv + 1
        # the list is live: renames this call applies join it
        renames = m["renames"]
        changed = False
        for op in ops:
            col = getattr(op, "column", None)
            if col is None:
                path, box, kind, where = (), fields, "column", ""
            else:
                col = _chase(renames, col)
                i = next((k for k, f in enumerate(fields) if f.name == col), None)
                if i is None:
                    raise ValueError(
                        f"cannot evolve fields of missing column {op.column}"
                    )
                dt = fields[i].dataType
                is_array = isinstance(dt, T.ArrayType)
                st = dt.elementType if is_array else dt
                if not isinstance(st, T.StructType):
                    raise ValueError(
                        f"cannot evolve fields of non-struct column {col} "
                        f"({dt.simpleString()})"
                    )
                path, box, kind, where = (col,), list(st.fields), "field", f"{col}."
            names = [f.name for f in box]
            crenames = _history(m, "renames", path)
            if isinstance(op, (AddColumn, AddStructField)):
                want = T._parse_datatype_string(op.type)
                ws = want.simpleString()
                # an add entry no longer marks a replay once a later DROP
                # retired that incarnation. DOCUMENTED LIMITATION: re-adding
                # a name that evolution added and a later rename retired
                # matches its own entry and no-ops — by state alone that is
                # a crash-replay, and wedging every replay is the worse
                # failure
                if any(
                    a["name"] == op.name
                    and a["type"] == ws
                    and not any(
                        d["name"]
                        == _chase(crenames, a["name"], a["at_schema_version"])
                        and d["at_schema_version"] > a["at_schema_version"]
                        for d in _history(m, "drops", path)
                    )
                    for a in _history(m, "adds", path)
                ):
                    continue
                if op.name in names:
                    have = box[names.index(op.name)].dataType
                    if have == want or (ws, have.simpleString()) in _WIDEN_OK:
                        continue  # effect present (pre-history manifests)
                    raise ValueError(
                        f"{kind} {where}{op.name} already exists with type "
                        f"{have.simpleString()} (wanted {ws})"
                    )
                box.append(T.StructField(op.name, want, True))
                key, entry = "adds", {"name": op.name, "type": ws}
            elif isinstance(op, (RenameColumn, RenameStructField)):
                # the history tells a replay (old re-added by a later epoch)
                # from a genuine rename onto another existing field, which
                # must hard-fail rather than strand the old one
                if any(
                    r["old"] == op.old and r["new"] == op.new for r in crenames
                ) or (op.new in names and op.old not in names):
                    continue
                if op.new in names:
                    raise ValueError(
                        f"cannot rename {where}{op.old} -> {op.new}: target "
                        f"{kind} already exists"
                    )
                if op.old not in names:
                    raise ValueError(f"cannot rename missing {kind} {where}{op.old}")
                j = names.index(op.old)
                box[j] = T.StructField(op.new, box[j].dataType, box[j].nullable)
                key, entry = "renames", {"old": op.old, "new": op.new}
            elif isinstance(op, (WidenColumn, WidenStructField)):
                name = _chase(crenames, op.name)
                if name not in names:
                    raise ValueError(f"cannot widen missing {kind} {where}{op.name}")
                j = names.index(name)
                old_t = box[j].dataType.simpleString()
                new_t = T._parse_datatype_string(op.new_type)
                nt = new_t.simpleString()
                # the history tells a replay (a later epoch may have widened
                # further) from a genuinely incompatible narrowing request
                if old_t == nt or any(
                    _chase(crenames, w["name"]) == name and w["to"] == nt
                    for w in _history(m, "widens", path)
                ):
                    continue
                if (old_t, nt) not in _WIDEN_OK:
                    raise ValueError(
                        f"incompatible widen {where}{op.name}: {old_t} -> {nt}"
                    )
                box[j] = T.StructField(name, new_t, True)
                key, entry = "widens", {"name": name, "from": old_t, "to": nt}
            elif isinstance(op, DropColumn):
                name = _chase(renames, op.name)
                if name not in names:
                    # replay iff the drop history records it: a drop of a
                    # column re-added by a LATER epoch cannot replay (that
                    # epoch proves this one's EPOCH_PROP advanced)
                    if any(d["name"] == name for d in m.get("drops", [])):
                        continue
                    raise ValueError(f"cannot drop missing column {op.name}")
                if name in {m["key_col"], *m.get("lww_order", [])}:
                    raise ValueError(
                        f"cannot drop {name}: merge key / LWW order "
                        f"columns are structural"
                    )
                del box[names.index(name)]
                # future commits must not look for the dropped column's
                # zone maps / blooms
                for k in ("stats_cols", "bloom_cols"):
                    kept = [c for c in m.get(k) or [] if _chase(renames, c) != name]
                    if m.get(k) and kept != m[k]:
                        m[k] = kept
                key, entry = "drops", {"name": name}
            else:  # pragma: no cover
                raise TypeError(f"unknown evolution op {op!r}")
            if path:
                st = T.StructType(box)
                fields[i] = T.StructField(
                    col,
                    T.ArrayType(st, dt.containsNull) if is_array else st,
                    fields[i].nullable,
                )
                key, entry = "struct_" + key, {"column": col, **entry}
            m.setdefault(key, []).append({**entry, "at_schema_version": new_sv})
            changed = True
        if not changed:
            return self.version  # full replay — nothing to commit
        m["schema_version"] = new_sv
        m["schemas"][str(new_sv)] = T.StructType(fields).jsonValue()
        return self._publish(
            m,
            lineage={
                "schema_evolution": [repr(op) for op in ops],
                "new_schema_version": new_sv,
            },
        )
