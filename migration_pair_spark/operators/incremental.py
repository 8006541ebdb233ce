"""Incremental deduplication against PERSISTED indexes: one gated index-pair
core and the three index families built on it.

Batch dedup (operators/dedup.py) recomputes every signature of the whole
corpus per run — fine for one-shot curation, wrong for the operational loop
at 100 TB: "1 TB of new documents arrives daily into an already-deduped
corpus". Each family here persists a (data, index) pair of LakeTables and
signs/probes ONLY the new batch.

Class map:

    _IndexPair                   the core. Loads/creates the table pair;
                                 runs the exactly-once gate, the ingest
                                 skeleton (sizing, AQE off, scoped shuffle
                                 width, persisted intermediates), the data
                                 commit, the index append (shared by ingest
                                 and heal), the bucket-pruned index probe and
                                 data fetch, auto-compaction, and the
                                 purge-time "index lags" refusal.
    IncrementalDeduper           text near-dups: MinHash LSH band rows, exact
                                 Jaccard verify, frozen-label keepers.
    IncrementalEmbeddingIndex    embedding near-dups: SRP bucket rows, exact
                                 quantized cosine verify.
    IncrementalChunkIndex        exact span dedup: newly seen chunk keys,
                                 docs rewritten to corpus-wide first
                                 occurrences.

A family supplies only its schemas, properties and bloom columns,
``index_rows(df)`` (what a batch of its data adds to the index, used by
heal) and ``_process`` (its probe/verify/resolve body). One ingest is:

    new rows -> gate                        one bounded stats job
             -> sign / chunk the batch      O(batch): narrow + 1 shuffle
             -> probe the index             new x index, bucket-pruned —
                                            NEVER index x index
             -> fetch candidate data        bucket-pruned data read
             -> verify / resolve            candidate pairs only
             -> data commit, index append   gated, idempotent commits

Driver state stays O(n_buckets): the only collects are bounded bucket-id
sets, one batch-stats row, the replay gate, and (below configurable caps)
the verified duplicate-edge set or the batch's chunk keys.

HOT-BUCKET GUARD (LSH and SRP): a web-scale boilerplate cluster of m
near-identical docs collapses into a single band bucket, and an uncapped
probe join emits O(m^2) candidates before any verify. Index-side buckets
holding more than ``max_bucket`` rows therefore contribute only ONE
exemplar row (the minimum seen id) to the probe join — new rows still meet
the cluster (via its exemplar) and are still collapsed into it, but
candidate volume stays linear in the batch. Recall contract: within an
over-cap bucket, pairwise candidate enumeration is reduced to exemplar
edges; a bucket that hot IS a near-identical cluster (every member agreed
on a full band), so cluster membership is preserved whenever the exemplar
verifies. The batch-side new x new join applies the same policy. Pinned on
a planted mega-cluster fixture in tests/test_hot_bucket.py.

Semantic contract (pinned by the two-sequential-runs == one-batch-run
tests):

- The index and data table keep EVERY seen row, accepted or rejected,
  because duplicate transitivity flows through rejected docs: if a~b
  rejected b, a later c~b (with c!~a) must still be rejected — exactly what
  one batch run over the union decides. Rejected rows are marked
  (keeper_doc_id != doc_id), not dropped; their text is retained because
  IT is what future candidates verify against.
- Ids must be MONOTONE across batches (each batch's min id > every seen id
  — the same LSN discipline as the CDC core) and UNIQUE within a batch: a
  duplicate id would multiply rows through the keeper join and permanently
  commit duplicate rows under the exactly-once gate.
- Keeper semantics are GREEDY FROZEN-LABEL: once a doc's keeper is
  committed it never changes. Under monotone ids this equals the batch
  connected-component minima EXCEPT when a new doc BRIDGES two
  previously-committed components: a batch run over the union would
  relabel one old cluster onto the other, which no incremental system can
  honor retroactively. Bridges are DETECTED and handled per the
  ``dedup.on_bridge`` policy: ``error`` (default) fails the batch before
  any commit; ``greedy`` proceeds — the batch joins the oldest bridged
  cluster and old clusters keep their labels. Pinned in
  tests/test_incremental_dedup.py::test_bridge_*.
- Exactly-once ingest: each table carries a ``dedup.applied`` id INTERVAL
  SET in its manifest properties (the same compacted-interval algebra as
  the CDC gate's ``engine.applied_lsn_ranges``), updated atomically WITH
  the data commit. Monotone contiguous ingest keeps the property at ONE
  interval forever (pinned by the 60-micro-batch test in
  tests/test_dedup_stream.py). A crash between the data commit and the
  index append leaves the two interval sets differing; the difference IS
  the pending work, and any later ingest (or a retry of the same batch)
  heals it by recomputing exactly those ranges' index rows from the data
  table. Signing and chunking are deterministic, so the healed index is
  byte-equal. ``batch_id`` labels lineage only — replay identity is the id
  range itself.
"""

from __future__ import annotations

import contextlib
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from migration_pair_spark.cdc.apply import (
    _aqe_disabled,
    covered_expr,
    merge_ranges,
    subtract_ranges,
)
from migration_pair_spark.lakehouse.table import LakeTable
from migration_pair_spark.operators import dedup as dd

APPLIED_PROP = "dedup.applied"

#: corpus property holding the CDC->dedup bridge's swept-LSN watermark
#: (operators/cdc_dedup.py advances it atomically with each sweep's corpus
#: commit). Stamped "0" at chunk-index CREATE so the watermark is always
#: property-backed on new indexes — deriving it from applied doc-id
#: intervals conflates seed ids with LSNs; only indexes predating the
#: property fall back to the derived value.
SWEEP_PROP = "sweep.lsn"
DEFAULT_MAX_BUCKET = 1000

_CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("keeper_doc_id", T.LongType(), True),
    ]
)
#: LSH and SRP index rows: doc_id names the id column in both families
_INDEX_SCHEMA = T.StructType(
    [
        T.StructField("bucket_key", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
    ]
)


@contextlib.contextmanager
def _scoped_shuffle_partitions(spark, n: int):
    """Temporarily size spark.sql.shuffle.partitions DOWN to ``n`` for one
    ingest's jobs (saved/restored; never raises the value). The ingest
    pipelines shuffle O(batch) rows — at the session default (cluster
    width) a small batch pays a full wave of near-empty reduce tasks per
    shuffle stage, pure scheduler overhead across the ~10 stages of an
    ingest. ``n`` derives from the batch's ROW COUNT, so a cluster-scale
    batch keeps the session value — data-adaptive, not a tuning constant."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    if int(prev) <= n:
        yield
        return
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _with_system(df: DataFrame, bucket: F.Column) -> DataFrame:
    return (
        df.withColumn("_lsn", F.lit(0).cast("long"))
        .withColumn("_deleted", F.lit(False))
        .withColumn("_bucket", bucket)
    )


def _live(table: LakeTable, buckets: list[int]) -> DataFrame:
    """The rows of ``table``'s given lake buckets, tombstones dropped."""
    return table.read_buckets(buckets).filter(
        ~F.coalesce(F.col("_deleted"), F.lit(False))
    )


def _lake_buckets(table: LakeTable, rows: DataFrame, col: str) -> list[int]:
    """The lake buckets of ``table`` that ``rows[col]`` hashes into: one
    bounded driver collect (<= table.n_buckets values) — the same shape as
    the CDC gate's touched-bucket set."""
    got = rows.select(table.bucket_expr(col).alias("b")).distinct().collect()
    return sorted(int(r["b"]) for r in got)


def applied_ranges(table: LakeTable) -> list[tuple[int, int]]:
    """The committed applied id intervals of a dedup table.

    Tables written by the retired per-batch gate carry ``dedup.batches``
    instead of the interval set. Loading one as "nothing applied" would
    silently disable the exactly-once and monotone gates (a replayed batch
    would re-commit duplicate rows forever), so such a table is refused."""
    p = table.properties
    if APPLIED_PROP in p:
        return [(int(lo), int(hi)) for lo, hi in json.loads(p[APPLIED_PROP])]
    if "dedup.batches" in p:
        raise ValueError(
            f"table {table.path} uses the legacy dedup batch gate "
            "(dedup.batches without dedup.applied) — its applied intervals "
            "are unknown; re-create the index from its source data"
        )
    return []


class _IndexPair:
    """A persisted (data, index) LakeTable pair with exactly-once batch
    ingest — the core every incremental index family shares.

    A family declares:

    - ``_data_name``: the data table's directory, also the name of the
      family's attribute for it (``corpus`` / ``vectors``);
    - ``_data_schema`` / ``_index_schema``: the first field of each is the
      table's key (the data id column / the index routing key); the data
      table's first two fields (id, text or embedding) are what
      ``index_rows`` reads;
    - ``_tag``: lineage key prefix (``{_tag}_ingest`` / ``{_tag}_heal``);
    - ``_nothing``: the family's result keys of an empty batch — None
      values are the DataFrames, also None on a replay;
    - ``rows_per_task`` and ``_fanout`` (index rows per item): the sizing
      of the signing repartition and of the scoped shuffle width;

    and implements ``index_rows`` and ``_process``."""

    _data_name: str
    _data_schema: T.StructType
    _index_schema: T.StructType
    _tag: str
    _nothing: dict
    _fanout: int
    rows_per_task: int

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.data = LakeTable.load(spark, os.path.join(root, self._data_name))
        self.index = LakeTable.load(spark, os.path.join(root, "index"))

    @classmethod
    def _create(
        cls,
        spark: SparkSession,
        root: str,
        data_buckets: int,
        index_buckets: int,
        properties: dict,
        data_blooms: tuple[str, ...] = (),
        index_blooms: tuple[str, ...] = (),
    ):
        for name, schema, n, props, blooms in (
            (cls._data_name, cls._data_schema, data_buckets, properties, data_blooms),
            ("index", cls._index_schema, index_buckets, {}, index_blooms),
        ):
            LakeTable.create(
                spark,
                os.path.join(root, name),
                schema,
                key_col=schema.names[0],
                n_buckets=n,
                properties={**props, APPLIED_PROP: "[]"},
                bloom_filter_cols=blooms,
            )
        return cls(spark, root)

    @property
    def _id(self) -> str:
        return self._data_schema.names[0]

    def _lineage(self, kind: str, value: str, n: int) -> dict:
        """``{"dedup_ingest": batch_id, "n_docs": n}``-shaped commit lineage
        (``{_tag}_{kind}``, and ``n_docs`` / ``n_vecs`` from the id column)."""
        return {f"{self._tag}_{kind}": value, "n_" + self._id.replace("_id", "s"): n}

    def index_rows(self, df: DataFrame) -> DataFrame:
        """The index rows a batch of data rows adds (heal's recompute)."""
        raise NotImplementedError

    def _process(self, rows: DataFrame, gate: dict, keep, batch_id: str):
        """The family body of one ingest: probe, verify and resolve the
        batch. Returns (result fields, data rows to commit, index rows)."""
        raise NotImplementedError

    # ------------------------------------------------------------------ gate

    def pending_ranges(self) -> list[tuple[int, int]]:
        """Id intervals committed to the data table but not the index — the
        exact recovery work a crash between the two commits leaves behind."""
        return subtract_ranges(
            applied_ranges(self.data), applied_ranges(self.index)
        )

    def _gate(self, new_rows: DataFrame, batch_id: str) -> dict:
        """The exactly-once batch gate: one bounded stats job (id range +
        count + uniqueness), the replay/heal decision from the two
        applied-interval sets, the monotone check, pre-probe healing of any
        pending interval (an index missing committed entries would accept
        what it should reject — never retractable), and the gap-absorbed
        committed range.

        Returns one of
          {"status": "empty"}
          {"status": "replayed", "healed": bool}   (fully-covered batch)
          {"status": "ok", "lo", "hi", "n_new", "rng", "applied"}
        and raises ValueError on duplicate or non-monotone ids."""
        id_col = self._id
        noun = id_col.replace("_id", " ids")
        stats = new_rows.agg(
            F.min(id_col).alias("lo"),
            F.max(id_col).alias("hi"),
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(id_col).alias("nd"),
        ).collect()[0]
        if stats["lo"] is None:
            return {"status": "empty"}
        lo, hi, n_new = int(stats["lo"]), int(stats["hi"]), int(stats["n"])
        if int(stats["nd"]) != n_new:
            raise ValueError(
                f"batch {batch_id}: {noun} must be unique within a batch "
                f"({n_new - int(stats['nd'])} duplicated) — a duplicate id "
                "would commit duplicate rows under the exactly-once gate"
            )
        applied = applied_ranges(self.data)
        idx_applied = applied_ranges(self.index)
        pending = subtract_ranges(applied, idx_applied)
        if not subtract_ranges([(lo, hi)], applied):
            # a fully covered batch: a redelivery (or never-committed gap
            # ids — under the monotone contract already a violation). If
            # the index lacks part of it, heal the FULL data-vs-index
            # difference: committed intervals are gap-absorbed, so the
            # pending span may start below the batch's min id
            healed = bool(subtract_ranges([(lo, hi)], idx_applied))
            if healed:
                self._heal_index(pending)
            return {"status": "replayed", "healed": healed}
        # None, not -1, as the nothing-applied sentinel: ids are arbitrary
        # longs (snapshot seeds deliberately use NEGATIVE ids to stay below
        # the LSN space)
        seen_max = applied[-1][1] if applied else None
        if seen_max is not None and lo <= seen_max:
            raise ValueError(
                f"batch {batch_id}: {noun} must be monotone across batches "
                f"(batch min {lo} <= seen max {seen_max})"
            )
        if pending:
            self._heal_index(pending)
        # the committed interval extends DOWN to the watermark: the monotone
        # gate guarantees ids in (seen_max, lo) can never legitimately arrive
        # later, so absorbing the gap keeps the applied set at exactly ONE
        # interval forever — O(1) manifest state, not O(batch history)
        return {
            "status": "ok",
            "lo": lo,
            "hi": hi,
            "n_new": n_new,
            "rng": (seen_max + 1 if seen_max is not None else lo, hi),
            "applied": applied,
        }

    # ---------------------------------------------------------------- ingest

    def _ingest(self, rows: DataFrame, batch_id: str, data_props=None) -> dict:
        """The ingest skeleton around the family's ``_process``: gate,
        session toggles, sizing, persisted intermediates, then the two
        gated commits. ``data_props`` (a dict, or ``(lo, hi) -> dict`` of
        the batch's id range) ride the data commit."""
        # every toggle and cache below is entered on ONE stack, so any
        # exception (the gate's included) leaves the session config as it
        # found it
        with contextlib.ExitStack() as stack:
            # AQE off for the ingest's own jobs, the gate's first (the same
            # refcounted per-session toggle as the CDC apply): the
            # pipelines are fixed-shape — explicit broadcasts, known
            # partition counts and the exemplar-star cap for skew — so
            # AQE's per-stage materialization barrier is pure overhead
            # (~20% of ingest wall at sf0.1, and one extra job per shuffle
            # stage: the gate's two-shuffle countDistinct runs as 3 jobs
            # with AQE on, 1 with it off)
            stack.enter_context(_aqe_disabled(self.spark))
            g = self._gate(rows, batch_id)
            if g["status"] == "empty":
                # quiet-day case: nothing arrived — clean no-op, no commits
                return {
                    "replayed": False, "empty": True, "n_new": 0,
                    **self._nothing,
                }
            if g["status"] == "replayed":
                out = {"replayed": True}
                out.update((k, v) for k, v in self._nothing.items() if v is None)
                if g["healed"]:
                    out["healed"] = "index"
                return out
            n_new, rng = g["n_new"], g["rng"]
            # Parallelize the narrow signing chain: a small batch often
            # arrives as ONE file -> one input partition, and the heavy map
            # then runs single-threaded. The partition count is sized by
            # the batch's ROW count (known from the gate's stats job) — a
            # tiny batch must not fan out to full cluster width and pay
            # scheduler overhead per near-empty task; a large multi-file
            # batch keeps its natural partitioning and pays no shuffle. The
            # SHUFFLE width is sized by the derived index-row volume
            # (``_fanout`` rows per item), not the raw count, so a small
            # batch never collapses the verify stages to one task.
            cap = self.spark.sparkContext.defaultParallelism
            par = min(cap, max(1, n_new // self.rows_per_task))
            width = min(cap, max(1, (n_new * self._fanout) // self.rows_per_task))
            stack.enter_context(_scoped_shuffle_partitions(self.spark, width))

            # reused intermediates are persist()ed (lazy, materialized inside
            # their first consumer job) rather than localCheckpoint()ed
            # (eager: one extra job each)
            def keep(df: DataFrame) -> DataFrame:
                stack.callback(df.unpersist)
                return df.persist()

            if 1 < par and rows.rdd.getNumPartitions() < par:
                rows = keep(rows.repartition(par, self._id))
            out, data_rows, index_rows = self._process(rows, g, keep, batch_id)
            # commit 1: the data rows, with the applied interval riding the
            # same manifest
            props = {APPLIED_PROP: json.dumps(merge_ranges(g["applied"] + [rng]))}
            if data_props:
                props.update(
                    data_props(*rng) if callable(data_props) else dict(data_props)
                )
            lineage = self._lineage("ingest", batch_id, n_new)
            self.data.append_buckets(
                _with_system(data_rows, self.data.bucket_expr()),
                properties=props,
                lineage=dict(lineage),
            )
            # commit 2: the index rows of ALL new rows (rejected ones carry
            # transitivity). A crash here is healed by the next gate.
            self._append_index(index_rows, [rng], lineage)
        return {
            "replayed": False,
            "n_new": n_new,
            **out,
            f"{self._data_name}_version": self.data.version,
            "index_version": self.index.version,
        }

    def _append_index(
        self, rows: DataFrame, ranges: list[tuple[int, int]], lineage: dict
    ) -> None:
        """Append index rows and mark ``ranges`` applied on the index in the
        same commit — the one index write of both ingest and heal."""
        self.index.append_buckets(
            _with_system(
                rows.select(*self._index_schema.names), self.index.bucket_expr()
            ),
            properties={
                APPLIED_PROP: json.dumps(
                    merge_ranges(applied_ranges(self.index) + list(ranges))
                )
            },
            lineage=lineage,
        )

    def _heal_index(self, ranges: list[tuple[int, int]]) -> None:
        """Crash-retry path: the data table committed id ranges the index
        lacks. Recompute exactly those ranges' index rows and complete the
        index append. A full data scan filtered by the ranges — the rare
        recovery path pays one scan (persisted: the lineage count and the
        index rows both read it); the hot path never does."""
        rows = (
            self.data.read()
            .filter(covered_expr(F.col(self._id), ranges))
            .select(*self._data_schema.names[:2])
            .persist()
        )
        try:
            lineage = self._lineage("heal", json.dumps(list(ranges)), rows.count())
            self._append_index(self.index_rows(rows), ranges, lineage)
        finally:
            rows.unpersist()

    # ----------------------------------------------------------------- probe

    def probe_lake_buckets(self, rows: DataFrame) -> list[int]:
        """The index lake buckets a probe with ``rows`` must open: distinct
        pmod(xxhash64(key), n_buckets) over the NEW batch's index keys."""
        return _lake_buckets(self.index, rows, self._index_schema.names[0])

    def _probe_index(
        self, rows: DataFrame, keep=lambda df: df
    ) -> tuple[DataFrame, list[int]]:
        """The LSH and SRP probe (index rows (bucket_key, doc_id), hot
        buckets capped at ``max_bucket``): a bucket-pruned index scan joined
        to the new batch's index rows, giving candidate ({p}_a, {p}_b,
        seen_id) pairs, p the id prefix (doc / vec). The
        index side reads ONLY the probe buckets' files (new x index — the
        index never self-joins), and over-cap buckets contribute only their
        exemplar (module docstring). ``keep`` persists the pruned scan: the
        hot-bucket cap consumes it twice (per-bucket aggregate + join back),
        and without the cache each consumer would re-read the files."""
        prefix = self._id.split("_")[0]
        lake_buckets = self.probe_lake_buckets(rows)
        idx = _live(self.index, lake_buckets).select(
            "bucket_key", F.col("doc_id").alias("seen_id")
        )
        if self.max_bucket:
            idx = keep(idx)
        idx = dd.cap_exemplar_star(idx, ["bucket_key"], "seen_id", self.max_bucket)
        cand = (
            rows.select("bucket_key", F.col("doc_id").alias("new_id"))
            .join(idx, "bucket_key")
            .filter(F.col("seen_id") != F.col("new_id"))
            .select(
                F.least("seen_id", "new_id").alias(f"{prefix}_a"),
                F.greatest("seen_id", "new_id").alias(f"{prefix}_b"),
                "seen_id",
            )
            .distinct()
        )
        return cand, lake_buckets

    def _fetch_data(self, ids: DataFrame, *cols: str) -> DataFrame:
        """``cols`` of the candidate SEEN rows only, via a bucket-pruned
        data read: collect the bounded set of lake buckets the candidate
        ids hash into, open only those, semi-join down to the candidates."""
        buckets = _lake_buckets(self.data, ids, self._id)
        return (
            _live(self.data, buckets)
            .select(*cols)
            .join(F.broadcast(ids), self._id, "left_semi")
        )

    # ----------------------------------------------------------- maintenance

    def _require_index_current(self, op: str) -> None:
        """Purges refuse while the index lags the data table: heal
        recomputes pending ranges FROM the data rows, and a purge hole there
        would heal an index missing committed entries."""
        self.data.refresh()
        self.index.refresh()
        pending = self.pending_ranges()
        if pending:
            raise ValueError(
                f"{op}: index lags the {self._data_name} (pending id ranges "
                f"{pending}) — run any ingest first (it heals "
                f"automatically), then purge"
            )

    def auto_compact(self, files_per_bucket: int) -> dict:
        """Fold any lake bucket of either table holding more than
        ``files_per_bucket`` data files back to one file (LakeTable.compact
        on exactly those buckets). A months-long streaming ingest or sweep
        loop otherwise accumulates one file per (batch x touched bucket)
        without bound — probe cost then grows with BATCH HISTORY, not data
        volume. Same metric and trigger as the CDC follow loop's
        auto_compact_files_per_bucket. Returns {table name: {"buckets":
        [...], "version": v}} for the tables actually compacted."""
        done: dict = {}
        for name, table in ((self._data_name, self.data), ("index", self.index)):
            over = sorted(
                b
                for b, n in table.files_per_bucket().items()
                if n > files_per_bucket
            )
            if over:
                done[name] = {"buckets": over, "version": table.compact(bucket_ids=over)}
        return done


class IncrementalDeduper(_IndexPair):
    """Text near-dups: a (corpus, LSH signature index) pair. ``corpus`` is
    keyed by doc_id (bucket-pruned candidate text fetch); ``index`` holds
    (bucket_key = "band|bucket", doc_id) band rows keyed by bucket_key
    (bucket-pruned probe)."""

    _data_name = "corpus"
    _data_schema = _CORPUS_SCHEMA
    _index_schema = _INDEX_SCHEMA
    _tag = "dedup"
    _nothing = {"pairs": None, "keepers": None, "n_accepted": 0, "n_rejected": 0}

    #: duplicate-edge sets at or below this size resolve components with a
    #: driver union-find (one bounded collect) instead of the distributed
    #: label-propagation loop — pure execution tuning, identical results
    #: (equivalence pinned in tests); the fallback keeps the path unbounded.
    driver_cc_max_edges = dd.DRIVER_CC_MAX_EDGES

    #: shingling is the heavy map (k-gram explode per doc), so the per-task
    #: quantum of the signing repartition is small
    rows_per_task = 256

    corpus = property(lambda self: self.data)

    def __init__(self, spark: SparkSession, root: str):
        super().__init__(spark, root)
        p = self.corpus.properties
        self.threshold = float(p["dedup.threshold"])
        self.bands = tuple(tuple(b) for b in json.loads(p["dedup.bands"]))
        self.max_bucket = int(p.get("dedup.max_bucket", "0")) or None
        self.on_bridge = p.get("dedup.on_bridge", "error")
        # band rows per doc; the verify stage's shingle explodes are bigger
        self._fanout = max(len(self.bands), 2)

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        corpus_buckets: int = 16,
        index_buckets: int = 16,
        threshold: float = 0.5,
        bands: tuple[tuple[int, ...], ...] = dd.DEFAULT_BANDS,
        max_bucket: int | None = DEFAULT_MAX_BUCKET,
        on_bridge: str = "error",
    ) -> "IncrementalDeduper":
        if on_bridge not in ("error", "greedy"):
            raise ValueError(f"on_bridge must be 'error' or 'greedy', got {on_bridge!r}")
        props = {
            "dedup.threshold": str(threshold),
            "dedup.bands": json.dumps([list(b) for b in bands]),
            "dedup.max_bucket": str(max_bucket or 0),
            "dedup.on_bridge": on_bridge,
        }
        # purge_docs removes signature rows by doc_id — a NON-key column of
        # the index; the bloom keeps that rewrite to ~the files actually
        # holding the purged ids instead of O(index)
        return cls._create(
            spark, root, corpus_buckets, index_buckets, props,
            index_blooms=("doc_id",),
        )

    def seen_max(self) -> int:
        """Highest committed doc id (-1 on an empty corpus)."""
        ranges = applied_ranges(self.corpus)
        return ranges[-1][1] if ranges else -1

    def purge_docs(self, doc_ids) -> dict:
        """Right-to-be-forgotten erasure from the LSH dedup state: the
        docs' corpus rows (their full text) are removed by a bucket-pruned
        key purge, and their signature/band rows leave the index by a
        non-key rewrite (fingerprints reference the erased doc's id —
        removing them also stops future probes from generating candidate
        pairs whose verify text no longer exists).

        RECALL CONTRACT — erasure trumps dedup: future near-duplicates of
        an erased doc are ADMITTED unless some RETAINED doc also matches
        them (erase a whole cluster to fully forget it — a surviving
        rejected twin's text still matches). Unlike the chunk index
        (whose content-derived md5 keys keep matching verbatim
        re-submissions) the LSH index no longer suppresses anything about
        the erased doc. Retained rejected docs may keep a keeper_doc_id
        pointing at an erased id — an opaque cluster label, not content.
        The applied-id gate state is deliberately untouched: erased ids
        stay applied, so replayed batches remain exactly-once no-ops and
        the monotone gate still rejects id reuse. No suppression ledger
        is recorded (``record_suppression=False``): the monotone gate
        already makes re-submission under an old id impossible.

        Refuses while the index lags the corpus (see
        ``_require_index_current``)."""
        self._require_index_current("purge_docs")
        cv = self.corpus.purge_keys(doc_ids, record_suppression=False)
        iv = self.index.purge_matching("doc_id", doc_ids)
        return {"corpus_version": cv, "index_version": iv}

    def _band_rows(self, sig: DataFrame) -> DataFrame:
        """Band rows keyed for the index: (bucket_key, doc_id, band, bucket).
        bucket_key is the index table's routing key — band and bucket folded
        into one string so probe equality is a single-column equi-join."""
        return dd.band_rows(sig, bands=self.bands).withColumn(
            "bucket_key", F.concat_ws("|", F.col("band"), F.col("bucket"))
        )

    def index_rows(self, df: DataFrame) -> DataFrame:
        return self._band_rows(dd.minhash_signatures(df))

    def _resolve_keepers(
        self, new_docs: DataFrame, edges: DataFrame, seen_max: int
    ) -> tuple[DataFrame, int, list[tuple[int, int]]]:
        """Connected components over the keeper-substituted duplicate edges.
        Returns (keepers DF for the batch, n_rejected, bridge pairs).

        At or below ``driver_cc_max_edges`` the edge set is collected (ONE
        bounded job — ``limit(cap+1)`` both fetches the edges and detects
        overflow) and resolved with the driver union-find instead of the
        O(log n) distributed label-propagation rounds (each of which costs
        eager checkpoints); on overflow, the distributed path runs with a
        label-group bridge check. Both paths produce identical keepers
        (pinned in tests by forcing the cap negative)."""
        head = None
        cap = self.driver_cc_max_edges
        if cap is not None and cap >= 0:
            head = edges.select("doc_a", "doc_b").limit(cap + 1).collect()
            if len(head) > cap:
                head = None
        if head is not None:
            labels, bridges = dd.union_find(head, seen_max=seen_max)
            new = {x: k for x, k in labels.items() if x > seen_max}
            n_rejected = sum(1 for x, k in new.items() if k != x)
            # no checkpoint: unlike the pairs DF, this plan depends only on
            # the caller's input and a tiny local map — safe to return lazy
            return dd.attach_labels(new_docs, "doc_id", new), n_rejected, bridges
        # distributed fallback: label every edge node AND every batch doc,
        # then read bridges off the labels (a component holding >= 2 distinct
        # seen keepers) and keepers off the > seen_max slice
        nodes = (
            edges.select(F.col("doc_a").alias("doc_id"))
            .union(edges.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        all_ids = new_docs.select("doc_id").union(nodes).distinct()
        # cap 0: this fallback only runs when the edge set already
        # overflowed OUR cap — the inner driver fast path would pay a
        # doomed second limit-collect just to discover that again
        labels = dd.dedup_clusters(
            all_ids, edges, driver_cc_max_edges=0
        ).localCheckpoint()
        bridge_rows = (
            labels.filter(F.col("doc_id") <= F.lit(seen_max))
            .groupBy("keeper_doc_id")
            .agg(F.collect_set("doc_id").alias("ks"))
            .filter(F.size("ks") >= 2)
            .select(F.sort_array("ks").alias("ks"))
            .limit(20)
            .collect()
        )
        bridges = sorted(
            {(int(r["ks"][0]), int(r["ks"][1])) for r in bridge_rows}
        )
        keepers = labels.filter(F.col("doc_id") > F.lit(seen_max))
        n_rejected = keepers.filter(
            F.col("keeper_doc_id") != F.col("doc_id")
        ).count()
        return keepers, n_rejected, bridges

    def ingest(self, new_docs: DataFrame, batch_id: str) -> dict:
        """Process one batch of (doc_id, text) rows: find near-dup pairs vs
        the index and within the batch, decide keepers, and append docs +
        band rows. Idempotent per doc-id range (see module docstring);
        ``batch_id`` labels lineage only.

        Returns {"pairs": DataFrame(doc_a, doc_b, jaccard) — every verified
        candidate pair touching the batch, "keepers": DataFrame(doc_id,
        keeper_doc_id) for the batch, plus counters}. On a replayed batch
        the DataFrames are None (already persisted in the corpus)."""
        return self._ingest(new_docs, batch_id)

    def _process(self, new_docs: DataFrame, gate: dict, keep, batch_id: str):
        applied = gate["applied"]
        seen_max = applied[-1][1] if applied else -1
        # shingle ARRAYS, not exploded rows: signatures derive narrowly
        # (zero shuffles — see dd.minhash_signatures) and the verify stage
        # explodes only candidate docs' arrays
        arr_new = keep(dd.shingle_arrays(new_docs))
        sig_new = dd.minhash_signatures(new_docs, arrays_df=arr_new)
        bands_new = keep(self._band_rows(sig_new))

        # candidates: new x index (bucket-pruned) + new x new (batch LSH,
        # hot-bucket capped, reusing the PERSISTED band rows — re-banding
        # from sig_new would recompute the minhash agg). COLD-START FAST
        # PATH: an empty index has no probe targets, no candidate seen
        # docs, no keeper map.
        cand_new = dd.lsh_candidate_pairs(
            sig_new, bands=self.bands, max_bucket=self.max_bucket, banded=bands_new
        )
        if any(self.index.manifest["buckets"].values()):
            cand_idx, probe_buckets = self._probe_index(bands_new, keep)
            cand_idx = keep(cand_idx)
            candidates = keep(
                cand_idx.select("doc_a", "doc_b")
                .union(cand_new.select("doc_a", "doc_b"))
                .distinct()
            )
            # candidate-only verification: shingle the candidate SEEN docs
            # (bucket-pruned text fetch) and the new batch only
            seen_rows = keep(
                self._fetch_data(
                    cand_idx.select(F.col("seen_id").alias("doc_id")).distinct(),
                    "doc_id", "text", "keeper_doc_id",
                )
            )
            arr_all = keep(
                arr_new.union(dd.shingle_arrays(seen_rows.select("doc_id", "text")))
            )
            keeper_map = seen_rows.select(
                F.col("doc_id").alias("_sid"), F.col("keeper_doc_id").alias("_sk")
            )
        else:
            probe_buckets = []
            candidates = keep(cand_new.select("doc_a", "doc_b").distinct())
            arr_all = arr_new
            keeper_map = None
        # localCheckpoint (not persist): `pairs` is returned to the caller
        # and must survive the deduper's tables being deleted
        verified = dd.jaccard_verify(
            new_docs, candidates, arrays_df=arr_all
        ).localCheckpoint()

        # keepers: connected components over duplicate edges, with every
        # SEEN endpoint replaced by its frozen keeper (greedy contract —
        # module docstring); bridges detected per policy
        edges = verified.filter(F.col("jaccard") >= self.threshold)
        if keeper_map is not None:
            edges = (
                edges
                .join(keeper_map, F.col("doc_a") == F.col("_sid"), "left")
                .select(F.coalesce("_sk", "doc_a").alias("doc_a"), "doc_b")
                .join(keeper_map, F.col("doc_b") == F.col("_sid"), "left")
                .select("doc_a", F.coalesce("_sk", "doc_b").alias("doc_b"))
            )
        keepers, n_rejected, bridges = self._resolve_keepers(
            new_docs, edges, seen_max
        )
        if bridges and self.on_bridge == "error":
            raise ValueError(
                f"batch {batch_id} bridges previously-committed duplicate "
                f"clusters {bridges[:5]}: a from-scratch batch run would "
                "relabel committed keepers, which incremental ingest "
                "cannot honor retroactively. Re-create the deduper with "
                "on_bridge='greedy' to accept frozen-label semantics."
            )
        out = {
            "pairs": verified,
            "keepers": keepers,
            "n_accepted": gate["n_new"] - n_rejected,
            "n_rejected": n_rejected,
            "bridges": bridges,
            "probe_buckets": probe_buckets,
        }
        data_rows = new_docs.select("doc_id", "text").join(keepers, "doc_id")
        return out, data_rows, bands_new

    # ---------------------------------------------------------------- reads

    def keepers(self) -> DataFrame:
        """(doc_id, keeper_doc_id) for every seen doc."""
        return self.corpus.read().select("doc_id", "keeper_doc_id")

    def accepted(self) -> DataFrame:
        """The deduped corpus: docs that are their own keeper."""
        return self.corpus.read().filter(
            F.col("keeper_doc_id") == F.col("doc_id")
        ).select("doc_id", "text")


# --------------------------------------------------------------------------
# Embedding-side incremental index (SRP sketches) — the "optionally SRP"
# half of the same operational loop: new embeddings probe a persisted
# bucket-row index instead of re-signing the whole corpus.
# --------------------------------------------------------------------------

_VEC_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
    ]
)


class IncrementalEmbeddingIndex(_IndexPair):
    """Persisted SRP-LSH index over an embedding corpus — the embedding
    twin of :class:`IncrementalDeduper`:

    - ``index``: (bucket_key = "table|bucket", vec_id) rows, keyed by
      bucket_key → a probe opens only the lake buckets the NEW batch's
      bucket rows hash into; over-cap buckets contribute only their
      exemplar (``emb.max_bucket`` — the module docstring's hot-bucket
      guard: at permissive thresholds SRP buckets are inherently coarse, so
      the cap trades exhaustive pair enumeration inside a mega-bucket for
      linear candidate volume);
    - ``vectors``: (vec_id, embedding) keyed by vec_id → candidate vectors
      for the exact integer-quantized cosine verify are fetched with a
      bucket-pruned read, never a corpus scan.

    SRP weights are md5-derived from (n_tables, n_planes, dim) — persisting
    the parameters IS persisting the planes, so probe-time banding is
    bit-identical to ingest-time banding. Pairs returned by ``ingest`` are
    exactly what the batch operator (similarity.neardup_pairs_lsh) returns
    over the union, restricted to pairs touching the batch (oracle-pinned
    via the all-pairs ground truth)."""

    _data_name = "vectors"
    _data_schema = _VEC_SCHEMA
    _index_schema = _INDEX_SCHEMA
    _tag = "emb"
    _nothing = {"pairs": None}

    #: the SRP matmul is one Arrow batch op per partition, so vectors take a
    #: larger per-task quantum than shingled text
    rows_per_task = 1024

    vectors = property(lambda self: self.data)

    def __init__(self, spark: SparkSession, root: str):
        from migration_pair_spark.operators import similarity as sim

        super().__init__(spark, root)
        p = self.vectors.properties
        self.threshold = float(p["emb.threshold"])
        self.n_planes = int(p["emb.n_planes"])
        self.n_tables = int(p["emb.n_tables"])
        self.dim = int(p["emb.dim"])
        self.max_bucket = int(p.get("emb.max_bucket", "0")) or None
        self._weights = sim.srp_weights(self.n_tables, self.n_planes, self.dim)
        # bucket rows per vector: the verify stage's exact-cosine HOF is
        # interpreted per element and must keep its parallelism
        self._fanout = self.n_tables

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        threshold: float = 0.35,
        n_planes: "int | None" = None,
        n_tables: "int | None" = None,
        dim: "int | None" = None,
        vector_buckets: int = 16,
        index_buckets: int = 16,
        max_bucket: int | None = DEFAULT_MAX_BUCKET,
    ) -> "IncrementalEmbeddingIndex":
        from migration_pair_spark.operators import similarity as sim

        if n_planes is None or n_tables is None:
            d_planes, d_tables = sim.neardup_params(threshold)
            n_planes = n_planes if n_planes is not None else d_planes
            n_tables = n_tables if n_tables is not None else d_tables
        props = {
            "emb.threshold": str(threshold),
            "emb.n_planes": str(n_planes),
            "emb.n_tables": str(n_tables),
            "emb.dim": str(dim if dim is not None else sim.EMB_DIM),
            "emb.max_bucket": str(max_bucket or 0),
        }
        return cls._create(spark, root, vector_buckets, index_buckets, props)

    def index_rows(self, emb: DataFrame) -> DataFrame:
        """(bucket_key, doc_id) SRP bucket rows for the index — doc_id names
        the column so the two index tables share one schema."""
        from migration_pair_spark.operators import similarity as sim

        rows = sim._srp_bucket_rows(
            emb, "doc_id", "vec_id", "embedding", self._weights
        )
        return rows.select(
            F.concat_ws("|", F.col("_t"), F.col("_bucket")).alias("bucket_key"),
            "doc_id",
        )

    def ingest(self, new_emb: DataFrame, batch_id: str) -> dict:
        """Process one batch of (vec_id, embedding) rows: near-dup pairs vs
        the index and within the batch (exact verified cosine >= threshold),
        then append vectors + bucket rows. Idempotent per id range; heals a
        crashed prior batch like the text deduper."""
        return self._ingest(new_emb, batch_id)

    def _process(self, new_emb: DataFrame, gate: dict, keep, batch_id: str):
        from migration_pair_spark.operators import similarity as sim

        bucket_rows = keep(self.index_rows(new_emb))
        # new x new: the SRP self-join within the batch reuses the PERSISTED
        # bucket rows — bucket_key = "table|bucket" is injective over
        # (_t, _bucket) for fixed-width signatures, so joining on it is the
        # same banding without re-running the Arrow matmul
        candidates = dd.capped_self_join(
            bucket_rows, ["bucket_key"], "doc_id", self.max_bucket,
            "vec_a", "vec_b",
        )
        probe_buckets = []
        all_vecs = new_emb.select("vec_id", "embedding")
        # cold-start fast path: an empty index has nothing to probe and no
        # candidate vectors to fetch
        if any(self.index.manifest["buckets"].values()):
            vs_seen, probe_buckets = self._probe_index(bucket_rows, keep)
            vs_seen = keep(vs_seen)
            candidates = (
                vs_seen.select("vec_a", "vec_b").union(candidates).distinct()
            )
            all_vecs = all_vecs.union(
                self._fetch_data(
                    vs_seen.select(F.col("seen_id").alias("vec_id")).distinct(),
                    "vec_id", "embedding",
                )
            )
        all_vecs = keep(all_vecs)
        qa = sim._quantized_side(all_vecs, "vec_a", "vec_id", "embedding")
        qb = sim._quantized_side(all_vecs, "vec_b", "vec_id", "embedding")
        cos = sim._exact_cosine(
            sim._int_dot(F.col("_q_vec_a"), F.col("_q_vec_b")),
            F.col("_n2_vec_a"),
            F.col("_n2_vec_b"),
        )
        pairs = (
            candidates.join(qa, "vec_a")
            .join(qb, "vec_b")
            .withColumn("_sim", cos)
            .filter(F.col("_sim") >= F.lit(self.threshold))
            .select("vec_a", "vec_b", F.round(F.col("_sim"), 4).alias("cosine"))
            .localCheckpoint()
        )
        out = {"pairs": pairs, "probe_buckets": probe_buckets}
        return out, new_emb.select("vec_id", "embedding"), bucket_rows


# --------------------------------------------------------------------------
# Chunk-level (sub-document span) incremental dedup — the exact-match third
# member of the same operational loop. Simpler than the LSH/SRP pair in one
# structural way: the keeper of a chunk VALUE is the globally minimal
# occurrence, and exact matching has no transitivity through rejected rows,
# so there is no verify stage, no bridge problem, and sequential ingest is
# EXACTLY equal to a from-scratch batch run under monotone doc ids (pinned
# in tests/test_incremental_chunk.py).
# --------------------------------------------------------------------------

_CHUNK_CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("n_chunks", T.LongType(), True),
        T.StructField("n_kept", T.LongType(), True),
        T.StructField("deduped_text", T.StringType(), True),
        # provenance: the source key (e.g. the page url) of the row the doc
        # came from — what right-to-be-forgotten erasure purges by
        # (purge_source). Nullable; batches without provenance leave it
        # null (files written pre-column read back as null).
        T.StructField("src_key", T.StringType(), True),
    ]
)
_CHUNK_INDEX_SCHEMA = T.StructType(
    [
        T.StructField("ck", T.StringType(), False),
        T.StructField("first_occ", T.LongType(), True),
    ]
)


class IncrementalChunkIndex(_IndexPair):
    """A persisted (corpus, chunk-key index) pair with exactly-once batch
    ingest of CCNet-style span dedup (dedup.chunk_dedup semantics): each
    new document is rewritten to the corpus-wide first occurrences of its
    w-word chunks, against every chunk ever seen.

    Scale shape: the index holds ONE row per distinct chunk value
    (O(span vocabulary), not O(documents) — appends are anti-joined
    against the index, so a boilerplate chunk occurs once no matter how
    many million pages carry it, and the probe join is 1:m with no
    quadratic hot-bucket exposure at all). The probe reads only the index
    lake buckets the batch's chunk keys hash into. AQE is off for the
    ingest's jobs like the LSH/SRP ingests: the pipeline is fixed-shape
    (the probe join is explicitly broadcast on the isin path and 1:m
    key-joined otherwise; the firsts agg and reassembly partial-aggregate)
    and the scoped shuffle width right-sizes the partitions AQE used to
    coalesce.

    Gate/heal contract: the core's (module docstring) — an index missing
    committed chunk keys would let a duplicated span through, an
    acceptance that can never be retracted, so pending ranges heal FIRST.
    Healing re-chunks exactly the pending id ranges from the corpus and
    appends the chunk keys not already present."""

    _data_name = "corpus"
    _data_schema = _CHUNK_CORPUS_SCHEMA
    _index_schema = _CHUNK_INDEX_SCHEMA
    _tag = "chunk"
    _nothing = {"rewritten": None, "n_chunks": 0, "n_kept": 0}
    #: chunk occurrences per doc (~words / w) sizing the shuffle width
    _fanout = 16

    #: repartition sizing for the narrow chunking map (chunking is lighter
    #: than shingling — fewer output rows per doc, no k-gram explosion)
    rows_per_task = 1024

    #: largest distinct-chunk-key count for which the index probe swaps
    #: the bucket-scan join for a pushed-IN scan: keys collect to the
    #: driver (bounded by this), the scan filters ``ck IN (...)`` which
    #: Spark pushes into parquet (session.py raises inFilterThreshold), so
    #: parquet-mr skips row groups by the index's bloom filters / stats /
    #: dictionaries executor-side. This is the fix for the soak's one
    #: growth term at SMALL batches — a streaming micro-batch's probe
    #: reads ~0 index data pages instead of every bucket's key column;
    #: large sweeps keep the join (their read amortizes over the batch).
    #: 0 disables the fast path.
    probe_isin_max_keys = 1024

    corpus = property(lambda self: self.data)

    def __init__(self, spark: SparkSession, root: str):
        super().__init__(spark, root)
        self.w = int(self.corpus.properties["chunk.w"])
        # persisted ck values embed the tokenizer: loading an index built
        # with a DIFFERENT tokenizer would silently re-admit every seen
        # span (keys never match) — fail loudly instead
        tok = self.corpus.properties.get("chunk.tokenizer")
        if tok != dd.CHUNK_TOKENIZER:
            raise ValueError(
                f"chunk index at {root} was built with tokenizer "
                f"{tok or 'unknown (pre-stamping)'!s}; this build uses "
                f"{dd.CHUNK_TOKENIZER!r} and its persisted chunk keys "
                f"would silently never match. Rebuild the index, or set "
                f"corpus property chunk.tokenizer={dd.CHUNK_TOKENIZER!r} "
                f"if the keys are known compatible."
            )
        #: diagnostics: how the last _flag_chunks probed the index
        #: ("isin" fast path / "join" bucket scan / None = empty index)
        self.last_probe_mode: str | None = None

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        corpus_buckets: int = 16,
        index_buckets: int = 16,
        w: int = dd.CHUNK_W,
    ) -> "IncrementalChunkIndex":
        props = {
            "chunk.w": str(w),
            "chunk.tokenizer": dd.CHUNK_TOKENIZER,
            SWEEP_PROP: "0",  # see SWEEP_PROP: property-backed from birth
        }
        # src_key blooms bound purge_source to ~O(files holding the purged
        # url): urls hash-spread across doc-id buckets, so min/max zones
        # never prune them. Chunk keys are md5 hex (uniform): zone maps can
        # never prune them either, blooms always can — they power both the
        # pushed-IN probe's row-group skipping and point lookups on the index
        return cls._create(
            spark, root, corpus_buckets, index_buckets, props,
            data_blooms=("src_key",), index_blooms=("ck",),
        )

    def purge_source(self, values) -> int:
        """Right-to-be-forgotten erasure through the dedup family: remove
        every corpus row whose ``src_key`` (the page url the CDC sweep
        stamped) is in ``values`` — text AND deduped_text, every swept
        version. The INDEX needs no rewrite: it stores only md5 chunk
        fingerprints + a packed first-occurrence id, no content (the same
        one-way-retention trade-off as the suppression ledger). The keys
        STAY in the index, so a verbatim re-submission of erased spans is
        still deduplicated rather than re-admitted.

        Refuses while the index lags the corpus (see
        ``_require_index_current``; any ingest or sweep heals it). The
        corpus rewrite is file-pruned by the src_key blooms recorded at
        create. Returns the corpus's new version."""
        self._require_index_current("purge_source")
        return self.corpus.purge_matching("src_key", values)

    def _flag_chunks(
        self, chunks: DataFrame, keep=lambda df: df, n_docs: int | None = None
    ) -> tuple[DataFrame, DataFrame, list[int]]:
        """Decide survival for each chunk occurrence of the batch.

        Returns (flagged occurrences with ``is_first``, ``firsts`` = one
        (ck, first_occ) row per chunk key NEWLY seen in this batch — the
        exact index append, list of probed index lake buckets). A chunk
        occurrence survives iff its key is absent from the persisted index
        AND it is the batch's minimal occurrence of that key.

        ``n_docs`` (when the caller knows it — the gate already counted)
        pre-gates the pushed-IN fast path: distinct chunk keys ~>= docs,
        so a batch with more docs than the key cap skips the
        overflow-detection distinct entirely instead of paying a full
        shuffle just to learn "too many" before the join."""
        self.last_probe_mode = None
        if any(self.index.manifest["buckets"].values()):
            small = None
            if self.probe_isin_max_keys and (
                n_docs is None or n_docs <= self.probe_isin_max_keys
            ):
                # one bounded job replaces the bucket-distinct job: collect
                # the batch's distinct (ck, lake bucket) pairs, stopping at
                # the cap (+1 detects overflow — an arbitrary subset is
                # only used when it is the COMPLETE set)
                head = (
                    chunks.select("ck", self.index.bucket_expr("ck").alias("_b"))
                    .distinct()
                    .limit(self.probe_isin_max_keys + 1)
                    .collect()
                )
                if len(head) <= self.probe_isin_max_keys:
                    small = head
            if small is not None:
                self.last_probe_mode = "isin"
                probe_buckets = sorted({int(r["_b"]) for r in small})
                keys = [r["ck"] for r in small]
                # the pushdown only happens while the session's IN-list
                # threshold exceeds the list (default 10 falls back to a
                # min..max range — useless on md5-uniform keys, and the
                # fast path would silently read every probed row group's
                # data pages). session.py raises it, but this code must
                # hold on DRIVER-OWNED sessions too, and whenever
                # probe_isin_max_keys is raised past the session value — so
                # ensure it here; runtime-settable, and raising it is
                # globally safe
                conf_key = "spark.sql.parquet.pushdown.inFilterThreshold"
                cur = int(self.spark.conf.get(conf_key, "10"))
                if cur <= len(keys):
                    self.spark.conf.set(conf_key, str(len(keys) + 1))
                # pushed-IN scan: parquet-mr skips row groups via the ck
                # bloom filters, so this reads footers + blooms, not the
                # index's data pages; the surviving rows are a subset of
                # the batch keys, hence the explicit broadcast (AQE can't
                # see the size — ingest paths scope it off)
                idx = F.broadcast(
                    _live(self.index, probe_buckets)
                    .filter(F.col("ck").isin(keys))
                    .select("ck")
                    .withColumn("_seen", F.lit(True))
                )
            else:
                self.last_probe_mode = "join"
                probe_buckets = self.probe_lake_buckets(chunks.select("ck"))
                idx = (
                    _live(self.index, probe_buckets)
                    .select("ck")
                    .withColumn("_seen", F.lit(True))
                )
            # persist: `firsts` (agg) and `flagged` (join back) both
            # consume `marked` — without the cache each would re-read the
            # pruned index bucket files and re-run the probe join
            marked = keep(chunks.join(idx, "ck", "left"))
        else:
            probe_buckets = []
            marked = chunks.withColumn("_seen", F.lit(None).cast("boolean"))
        firsts = keep(
            marked.filter(F.col("_seen").isNull())
            .groupBy("ck")
            .agg(F.min("occ").alias("first_occ"))
        )
        flagged = marked.join(firsts, "ck", "left").withColumn(
            "is_first",
            F.col("_seen").isNull() & (F.col("occ") == F.col("first_occ")),
        )
        return flagged, firsts, probe_buckets

    def index_rows(self, df: DataFrame) -> DataFrame:
        """The chunk keys of ``df`` absent from the index, with their first
        occurrence — the same probe the crashed run used (the crash
        happened before its index append, so the index state is
        identical)."""
        return self._flag_chunks(dd.chunk_rows(df, w=self.w))[1]

    def ingest(
        self,
        new_docs: DataFrame,
        batch_id: str,
        corpus_properties=None,
    ) -> dict:
        """Process one batch of (doc_id, text) rows: rewrite each doc to
        its globally-first chunks and append docs + newly-seen chunk keys.
        Idempotent per doc-id range; ``batch_id`` labels lineage only.

        ``corpus_properties``: extra manifest properties to commit
        ATOMICALLY with the batch's corpus append — a dict, or a callable
        ``(lo, hi) -> dict`` receiving the batch's id range (how the CDC
        sweep bridge persists its LSN watermark with no extra job and no
        separate commit to desync). Not written on replayed/empty batches.

        Returns {"rewritten": DataFrame(doc_id, n_chunks, n_kept,
        deduped_text) for the batch (localCheckpointed — survives the
        tables), plus counters}. On a replayed batch ``rewritten`` is None
        (already persisted in the corpus)."""
        return self._ingest(new_docs, batch_id, corpus_properties)

    def _process(self, new_docs: DataFrame, gate: dict, keep, batch_id: str):
        chunks = keep(dd.chunk_rows(new_docs, w=self.w))
        flagged, firsts, probe_buckets = self._flag_chunks(
            chunks, keep, n_docs=gate["n_new"]
        )
        # localCheckpoint (not persist): returned to the caller and must
        # survive the index's tables being deleted; also consumed twice
        # below (corpus rows + counters)
        rewritten = dd.chunk_reassemble(flagged).localCheckpoint()
        sums = rewritten.agg(
            F.sum("n_chunks").alias("nc"), F.sum("n_kept").alias("nk")
        ).collect()[0]
        out = {
            "rewritten": rewritten,
            "n_chunks": int(sums["nc"] or 0),
            "n_kept": int(sums["nk"] or 0),
            "probe_buckets": probe_buckets,
        }
        # LEFT join: a NULL-text doc has no chunks and therefore no
        # rewritten row, but its id range is marked applied with this
        # commit — an inner join would drop the doc from the corpus FOREVER
        # while the gate replays its redelivery as a no-op. Such docs
        # persist with NULL rewrite columns. Provenance rides along when
        # the batch carries it (the CDC sweep passes the page url as
        # src_key — purge_source's handle).
        doc_cols = ["doc_id", "text"] + (
            ["src_key"] if "src_key" in new_docs.columns else []
        )
        data_rows = new_docs.select(*doc_cols).join(rewritten, "doc_id", "left")
        return out, data_rows, firsts

    # ---------------------------------------------------------------- reads

    def rewritten(self) -> DataFrame:
        """(doc_id, n_chunks, n_kept, deduped_text) for every seen doc."""
        return self.corpus.read().select(
            "doc_id", "n_chunks", "n_kept", "deduped_text"
        )
