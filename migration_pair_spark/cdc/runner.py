"""CDC entry points: batch backfill and the Structured-Streaming tail.

Reference analog: the three task entry points of the reference
(/root/reference/Program.cs:51-60 — Extraction / Insertion / EndToEnd) become
``backfill`` (snapshot copy), ``apply_batch`` (bulk change apply) and
``run_stream`` (the continuous binlog tail, the north rule's flagship).

Streaming design: the change stream is a directory of ordered parquet files
(one file ~ one source micro-batch, FIXTURES.md F2). We read it with
``readStream`` + ``maxFilesPerTrigger`` and apply each micro-batch through
``foreachBatch`` -> :func:`apply_cdc_batch`. Exactly-once comes from TWO
independent layers:

- Spark's checkpoint replays unprocessed files after a crash (at-least-once),
- the table's atomically-committed LSN watermark turns the replay into
  exactly-once (a re-delivered batch is skipped / trimmed by LSN).

Either layer alone degrades gracefully: wipe the checkpoint and the stream
still converges to the identical final state (tested in test_replay.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from migration_pair_spark.cdc.apply import EPOCH_PROP, apply_cdc_batch
from migration_pair_spark.lakehouse.table import (
    AddColumn,
    LakeTable,
    RenameColumn,
    WidenColumn,
)
from migration_pair_spark.sources import debezium as dbz

# The pages table logical schema at epoch 1 (BASELINE.json:15 input_hint).
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# FIXTURES.md F3 epochs, declared against the engine's generic evolution ops.
PAGES_EPOCH_REGISTRY: dict[int, list] = {
    2: [AddColumn("fetch_status", "int")],
    3: [RenameColumn("lang", "language"), WidenColumn("fetch_status", "long")],
}

# Superset read schema for the change stream: every epoch's columns, widest
# types. Parquet files lacking a column yield nulls; int32 fetch_status files
# are upcast to long by Spark's parquet type-widening read.
CHANGE_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("change_lsn", T.LongType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("language", T.StringType(), True),
        T.StructField("fetch_status", T.LongType(), True),
        T.StructField("schema_epoch", T.IntegerType(), True),
    ]
)


def pages_wire_payload_schema() -> T.StructType:
    """The pages payload as it travels inside a Debezium envelope: the
    change-stream superset columns minus the envelope-level metadata
    (change_lsn/op/schema_epoch live in source/op, not the payload)."""
    meta = {"change_lsn", "op", "schema_epoch"}
    return T.StructType(
        [f for f in CHANGE_STREAM_SCHEMA.fields if f.name not in meta]
    )


@dataclass
class CdcPipeline:
    """Configuration for one change stream -> one lake table."""

    table_path: str
    key_col: str = "url"
    n_buckets: int = 16
    salt_buckets: int = 16
    schema: T.StructType = field(default_factory=lambda: PAGES_SCHEMA)
    epoch_registry: dict[int, list] = field(
        default_factory=lambda: dict(PAGES_EPOCH_REGISTRY)
    )
    # 0 = unbounded; >0 splits oversized batches into LSN-ranged sub-commits
    # (reference InsertionBatch analog; see apply_batch)
    max_events_per_batch: int = 0
    # "cow" rewrites touched buckets per batch (cheap reads); "mor" appends
    # delta files (O(batch) writes; reads resolve until compaction) — see
    # apply_cdc_batch
    write_mode: str = "cow"
    # MOR maintenance policy: when any bucket accumulates more than this many
    # files, compact the offending buckets right after the commit (0 = never;
    # bounds read amplification of a long-running MOR stream)
    auto_compact_files_per_bucket: int = 0
    # when set, the pipeline materializes its snapshot-diff change feed
    # (insert/delete/update_before/update_after rows) under this directory
    # (cdc/changelog.py)
    changelog_dir: str | None = None
    # WHEN to emit the feed (None resolves by write mode):
    #   "per_batch"  — one feed per committed batch (finest granularity;
    #                  cheap under COW, whose merge materializes both images
    #                  anyway; idempotent by version pair, crash-healed)
    #   "on_compact" — deferred span emission at compaction boundaries (the
    #                  MOR default: per-batch emission re-resolves the
    #                  accumulated deltas every batch — measured ~2x total
    #                  cost and growing with delta depth; a span resolves
    #                  them ONCE and its before-image is the previous
    #                  compacted emission point)
    #   "on_demand"  — never automatic; call emit_changelog() explicitly
    # Span feeds collapse intra-span churn but FOLD to the identical state
    # as per-batch feeds (tests/test_changelog.py).
    changelog_emit: str | None = None
    # Change-stream wire format: "parquet" (canonical columns, FIXTURES F2)
    # or "debezium-json" (JSONL envelope files, sources/debezium.py). Both
    # honor the same delivery contract (one file == one LSN-contiguous
    # chunk), so the apply gate is format-agnostic.
    source_format: str = "parquet"
    # malformed-envelope policy for debezium-json: "error" fails the batch
    # loudly, before any commit; "dead_letter" appends raw bad lines under
    # dead_letter_dir (at-least-once under replay — sources/debezium.py
    # docstring) and records rows_malformed in lineage; "skip" drops
    # silently.
    on_malformed: str = "error"
    dead_letter_dir: str | None = None
    # zone maps: record per-file min/max for these columns at every commit
    # (parquet footer stats, no extra scan); LakeTable.read_range prunes
    # files by them — e.g. ("warc_ts", "_lsn") makes time-window scans and
    # incremental LSN sweeps skip untouched files. Applies at CREATE time.
    stats_cols: tuple[str, ...] = ()
    # parquet bloom filters: written inline for these columns in every data
    # file (LakeTable bloom_filter_cols); point lookups on the key (e.g.
    # "current text of url X") prune files a hash-distributed key's zone
    # maps never can. Applies at CREATE time; ("url",) is the natural value.
    bloom_filter_cols: tuple[str, ...] = ()
    # canonicalize the key column (functions/webtext.canonical_url) before
    # LWW/bucketing: crawl-URL variants of one page (case, default ports,
    # tracking params, fragments) collapse into ONE key — fewer phantom
    # rows AND less hot-key spread. Strings that don't parse as URLs keep
    # their raw value (coalesce), so keys never become null.
    canonicalize_key: bool = False
    # row-level quality gates (Delta Live Tables expectations analog):
    # {name: SQL boolean predicate}; violators (false OR null) are counted
    # in lineage["expectations"] via the existing gate pass (zero extra
    # jobs) and either dropped pre-merge (their LSNs commit as decided) or
    # fail the batch before any commit — see apply_cdc_batch
    expectations: dict[str, str] = field(default_factory=dict)
    on_violation: str = "drop"
    # opt-in quarantine: violating fresh rows (original event columns +
    # a _violated array of failed expectation names) export to
    # <violations_dir>/batch=<id>/ before the merge — at-least-once per
    # batch (overwrite-idempotent dir), table stays exactly-once
    violations_dir: str | None = None

    @property
    def changelog_policy(self) -> str:
        if self.changelog_emit is not None:
            return self.changelog_emit
        # MOR defaults to compaction-aligned emission ONLY when compaction
        # actually fires automatically — with auto-compaction disabled,
        # 'on_compact' would silently never emit anything (review-caught,
        # round 3: a regression from the previous always-per-batch shape).
        # Users who want manual control say changelog_emit='on_demand'.
        if self.write_mode == "mor" and self.auto_compact_files_per_bucket > 0:
            return "on_compact"
        return "per_batch"

    def ensure_table(self, spark: SparkSession) -> LakeTable:
        if LakeTable.exists(self.table_path):
            return LakeTable.load(spark, self.table_path)
        return LakeTable.create(
            spark,
            self.table_path,
            self.schema,
            key_col=self.key_col,
            n_buckets=self.n_buckets,
            properties={EPOCH_PROP: "1"},
            stats_cols=self.stats_cols,
            bloom_filter_cols=self.bloom_filter_cols,
        )

    # ------------------------------------------------------------ normalize

    def _suppression_keys(self, table: LakeTable) -> "DataFrame | None":
        """The table's purged-key ledger, or None when it has never been
        purged. Hot-path cost for never-purged tables is ONE driver-side
        property check; purged tables re-read the tiny ledger only when
        ``purge.epoch`` changes (cached per epoch)."""
        from migration_pair_spark.lakehouse.table import PURGE_EPOCH_PROP

        epoch = table.properties.get(PURGE_EPOCH_PROP)
        if epoch is None:
            return None
        cache = getattr(self, "_supp_cache", None)
        if cache is not None and cache[0] == epoch:
            return cache[1]
        ledger = table.suppressed_keys()
        self._supp_cache = (epoch, ledger)
        return ledger

    def purge(self, spark: SparkSession, keys: list) -> dict:
        """Right-to-be-forgotten erasure of ``keys`` (takedowns, robots
        revocations): canonicalizes the keys exactly like ingest does when
        ``canonicalize_key`` is set (a purge of any crawl variant erases
        the canonical page), physically rewrites the files holding their
        rows (LakeTable.purge_keys — zone-map/bloom file-pruned), and
        records them on the suppression ledger so future change events for
        them are dropped at the apply gate with their LSNs committed.

        Erasure across retained history is left to retention
        (``expire_snapshots`` + ``vacuum``, or the ``purge --erase-history``
        CLI). Downstream consumers (changelog subscriptions,
        materialized-view refreshes) read snapshot-diff spans, and
        expiring manifests they have not consumed breaks them loudly —
        bring them PAST the purge version first: purge -> emit/refresh
        consumers -> retention. Same rule as the retention CLI."""
        table = self.ensure_table(spark)
        kdf = table._purge_keys_df(keys)
        if self.canonicalize_key:
            from migration_pair_spark.functions.webtext import canonical_url

            k = F.col(self.key_col)
            kdf = kdf.withColumn(
                self.key_col, F.coalesce(canonical_url(k), k)
            )
        version = table.purge_keys(kdf)
        self._supp_cache = None  # next apply reloads the grown ledger
        return {"snapshot_id": version, "lineage": table.lineage}

    def normalize(self, batch: DataFrame) -> DataFrame:
        """Map mixed-epoch events onto the newest naming (pre-rename events
        flow into the renamed column, per FIXTURES.md F3 oracle)."""
        df = batch
        if "language" in df.columns and "lang" in df.columns:
            df = df.withColumn("language", F.coalesce("language", "lang"))
        if self.canonicalize_key:
            from migration_pair_spark.functions.webtext import canonical_url

            key = F.col(self.key_col)
            df = df.withColumn(
                self.key_col, F.coalesce(canonical_url(key), key)
            )
        return df

    # ------------------------------------------------------------ batch apply

    def apply_batch(
        self, spark: SparkSession, events: DataFrame, batch_id: int = 0
    ) -> dict:
        """Apply one change batch. Batches larger than
        ``max_events_per_batch`` are split into LSN-ranged sub-batches, each
        committed (data + watermark) atomically — the engine analog of the
        reference's InsertionBatch flush bound
        (/root/reference/Tasks/Insertion.cs:86-90, default 100k per
        /root/reference/Models/SettingsModel.cs:10). A crash mid-split loses
        at most one sub-batch, which the watermark gate re-applies cleanly.
        Sub-batch lineage ids are batch_id*1e6 + part (collision-free up to
        a million chunks per batch).

        ``events`` may carry the Debezium source's malformed-row marks
        (``_corrupt``/``_raw``, on_malformed="error"): a marked row fails
        the whole batch before any commit. A split batch counts the marks
        in its bounds aggregate, because the sub-batches' LSN-range filters
        never see a line whose LSN is null; an unsplit one leaves them to
        the apply gate."""
        table = self.ensure_table(spark)
        # Deferred changelog: pin the subscription base BEFORE any commit it
        # must cover. Pinning after the apply (the previous shape) left a
        # first-batch crash window — die between the first table commit and
        # the base write and the restart replays the batch as skipped with a
        # POST-commit table_version_before, silently dropping the batch from
        # the feed (review-caught, round 3).
        if self.changelog_dir is not None and self.changelog_policy != "per_batch":
            from migration_pair_spark.cdc.changelog import ensure_subscription_base

            ensure_subscription_base(self.changelog_dir, table.version)
        events = self.normalize(events)
        suppress = self._suppression_keys(table)

        def _apply(df: DataFrame, bid: int) -> dict:
            lineage = apply_cdc_batch(
                table,
                df,
                batch_id=bid,
                epoch_registry=self.epoch_registry,
                write_mode=self.write_mode,
                expectations=self.expectations,
                on_violation=self.on_violation,
                violations_dir=self.violations_dir,
                suppress_keys=suppress,
            )
            self._maybe_changelog(table, lineage)
            return lineage

        limit = self.max_events_per_batch
        if limit and limit > 0:
            has_marks = dbz.CORRUPT_COL in events.columns
            bounds = events.agg(
                F.count(F.lit(1)).alias("n"),
                F.min("change_lsn").alias("lo"),
                F.max("change_lsn").alias("hi"),
                *(
                    [F.count_if(F.col(dbz.CORRUPT_COL)).alias("bad")]
                    if has_marks
                    else []
                ),
            ).collect()[0]
            if has_marks:
                if bounds.bad:
                    dbz.fail_on_malformed(events, "in micro-batch")
                events = events.drop(dbz.CORRUPT_COL, dbz.RAW_COL)
            if bounds.n and bounds.n > limit:
                # contiguous LSN ranges sized ~limit (LSNs may be sparse;
                # ranges are an upper bound on rows per sub-batch only when
                # dense — good enough as a memory bound for a WAL tail).
                # Persist across the chunk loop: each sub-batch runs two
                # actions, and for non-file-backed batches (no parquet
                # range pushdown) every chunk would otherwise recompute the
                # whole input (review-caught).
                events = events.persist()
                lineages = []
                try:
                    lo = int(bounds.lo)
                    span = max(int((bounds.hi - bounds.lo + 1) * limit / bounds.n), 1)
                    part = 0
                    while lo <= bounds.hi:
                        hi = min(lo + span - 1, int(bounds.hi))
                        chunk = events.filter(
                            (F.col("change_lsn") >= lo) & (F.col("change_lsn") <= hi)
                        )
                        lineages.append(_apply(chunk, batch_id * 1_000_000 + part))
                        lo, part = hi + 1, part + 1
                finally:
                    # unpersist on ALL exits: a commit conflict raised
                    # mid-chunk-loop (rival writer) must not leak the cached
                    # input for the session lifetime (advisor-caught)
                    events.unpersist()
                applied = [l for l in lineages if not l["skipped"]]
                # MOR maintenance must run here too: the split path IS the
                # large-batch path where delta-file accumulation matters most.
                summary_for_compact = {"skipped": not applied}
                self._maybe_auto_compact(table, summary_for_compact)
                return {
                    **{
                        k: v
                        for k, v in summary_for_compact.items()
                        if k.startswith("auto_compact")
                    },
                    "batch_id": batch_id,
                    "split_into": len(lineages),
                    "skipped": not applied,
                    "lsn_min": min((l["lsn_min"] for l in applied), default=None),
                    "lsn_max": max((l["lsn_max"] for l in applied), default=None),
                    "rows_in_batch": int(bounds.n),
                    "rows_skipped": sum(l["rows_skipped"] for l in lineages),
                    "rows_upserted": sum(l.get("rows_upserted", 0) for l in lineages),
                    "rows_deleted": sum(l.get("rows_deleted", 0) for l in lineages),
                    "wall_ms": sum(l["wall_ms"] for l in lineages),
                    "sub_batches": lineages,
                }
        lineage = _apply(events, batch_id)
        self._maybe_auto_compact(table, lineage)
        return lineage

    def _maybe_changelog(self, table: LakeTable, lineage: dict) -> None:
        if self.changelog_dir is None:
            return
        from migration_pair_spark.cdc.changelog import materialize_changelog

        if self.changelog_policy == "per_batch":
            # A feed that previously ran a DEFERRED policy (e.g. the MOR
            # default before auto-compaction was turned off, or an explicit
            # changelog_emit switch) may hold an un-emitted span behind a
            # _BASE marker; emitting only this batch's pair would strand
            # that gap forever — last_emitted would jump past it and no
            # later emission could cover it (review-caught, round 3). Heal
            # by draining the pending span up to THIS batch's base first.
            from migration_pair_spark.cdc.changelog import (
                _BASE_MARKER,
                last_emitted_version,
            )
            import os as _os

            base_marker = _os.path.join(self.changelog_dir, _BASE_MARKER)
            v_before = lineage.get("table_version_before")
            if _os.path.exists(base_marker) and v_before is not None:
                with open(base_marker) as f:
                    sub_base = int(f.read().strip())
                v_from = last_emitted_version(self.changelog_dir)
                v_from = sub_base if v_from is None else max(v_from, sub_base)
                if v_from < v_before:
                    materialize_changelog(table, self.changelog_dir, v_from, v_before)

        if self.changelog_policy != "per_batch":
            # Deferred emission: the subscription base was pinned PRE-commit
            # in apply_batch; emission happens on compaction
            # (_maybe_auto_compact) or on demand (emit_changelog).
            return

        if lineage.get("skipped"):
            # Crash-window heal: a death between the table commit and the
            # feed write leaves exactly ONE pair unmaterialized (feeds are
            # written synchronously after each commit), and the restart
            # replays that batch as skipped. The CURRENT manifest's lineage
            # names the missed pair; materialize is idempotent, so in the
            # common case this is one _DONE stat (review-caught: without
            # this, the documented 'rerun rebuilds the feed' claim was
            # false — nothing ever reran it).
            last = table.lineage
            if last and last.get("table_version_before") is not None:
                materialize_changelog(
                    table,
                    self.changelog_dir,
                    last["table_version_before"],
                    table.version,
                )
            return
        materialize_changelog(
            table,
            self.changelog_dir,
            lineage["table_version_before"],
            lineage["snapshot_id"],
        )

    def _maybe_auto_compact(self, table: LakeTable, lineage: dict) -> None:
        """MOR maintenance: fold buckets whose delta-file count crossed the
        policy threshold (bounds read amplification of long streams)."""
        limit = self.auto_compact_files_per_bucket
        if not limit or lineage.get("skipped"):
            return
        table.refresh()
        if not table.is_merge_on_read:
            return
        over = [b for b, n in table.files_per_bucket().items() if n > limit]
        if over:
            version = table.compact(over)
            lineage["auto_compacted_buckets"] = over
            lineage["auto_compact_snapshot"] = version
            if self.changelog_dir is not None and self.changelog_policy == "on_compact":
                from migration_pair_spark.cdc.changelog import emit_span

                d = emit_span(table, self.changelog_dir)
                if d:
                    lineage["changelog_emitted"] = d

    def emit_changelog(self, spark: SparkSession) -> str | None:
        """On-demand deferred emission: materialize one feed covering
        everything committed since the last emission (or the subscription
        base). Idempotent — emitting twice in a row is a no-op."""
        if self.changelog_dir is None:
            raise ValueError("changelog_dir is not configured")
        from migration_pair_spark.cdc.changelog import emit_span

        return emit_span(self.ensure_table(spark), self.changelog_dir)

    def _handle_malformed(self, batch_df: DataFrame) -> tuple[DataFrame, int]:
        """Apply the malformed-envelope policy to one debezium micro-batch
        (the stream carries _corrupt/_raw markers — sources/debezium.py).
        Returns (the rows to apply, n_malformed). "error" returns the batch
        still marked: the apply counts the marks in an aggregate it runs
        anyway (the gate, or a split batch's bounds) and fails before any
        commit, so a clean batch pays no extra job or parse. "skip" drops
        the marked rows at no extra job; "dead_letter" runs one bad-rows-only
        count and write (the corrupt filter pushes to the text scan)."""
        if self.on_malformed not in ("error", "skip", "dead_letter"):
            raise ValueError(
                f"on_malformed must be 'error', 'skip' or 'dead_letter', "
                f"got {self.on_malformed!r}"
            )
        if self.on_malformed == "error":
            return batch_df, 0
        n_bad = 0
        if self.on_malformed == "dead_letter":
            if not self.dead_letter_dir:
                raise ValueError("on_malformed='dead_letter' requires dead_letter_dir")
            n_bad = dbz.dead_letter(batch_df, self.dead_letter_dir)
        good = batch_df.filter(~F.col(dbz.CORRUPT_COL)).drop(
            dbz.CORRUPT_COL, dbz.RAW_COL
        )
        return good, n_bad

    # ------------------------------------------------------------ streaming

    def _start(
        self,
        spark: SparkSession,
        events_dir: str,
        checkpoint_dir: str,
        max_files_per_trigger: int,
        on_batch,
        trigger: dict,
        lineages: list[dict],
    ):
        self.ensure_table(spark)

        def _apply(batch_df: DataFrame, batch_id: int) -> None:
            n_malformed = 0
            if self.source_format == "debezium-json":
                batch_df, n_malformed = self._handle_malformed(batch_df)
            lineage = self.apply_batch(spark, batch_df, batch_id=batch_id)
            if n_malformed:
                lineage["rows_malformed"] = n_malformed
            lineages.append(lineage)
            if on_batch is not None:
                on_batch(batch_id, lineage)

        if self.source_format == "debezium-json":
            from migration_pair_spark.sources.debezium import stream_debezium_jsonl

            stream = stream_debezium_jsonl(
                spark,
                events_dir,
                pages_wire_payload_schema(),
                max_files_per_trigger=max_files_per_trigger,
            )
        elif self.source_format == "parquet":
            stream = (
                spark.readStream.schema(CHANGE_STREAM_SCHEMA)
                .option("maxFilesPerTrigger", max_files_per_trigger)
                .parquet(events_dir)
            )
        else:
            raise ValueError(
                f"source_format must be 'parquet' or 'debezium-json', "
                f"got {self.source_format!r}"
            )
        return (
            stream.writeStream.foreachBatch(_apply)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(**trigger)
            .start()
        )

    def run_stream(
        self,
        spark: SparkSession,
        events_dir: str,
        checkpoint_dir: str,
        max_files_per_trigger: int = 1,
        on_batch=None,
    ) -> list[dict]:
        """Drain ``events_dir`` (availableNow trigger) and return the lineage
        records of the batches applied by THIS invocation. ``on_batch`` (if
        given) is called with (batch_id, lineage) after each micro-batch —
        tests use it to inject a mid-stream kill."""
        lineages: list[dict] = []
        query = self._start(
            spark, events_dir, checkpoint_dir, max_files_per_trigger,
            on_batch, {"availableNow": True}, lineages,
        )
        try:
            query.awaitTermination()
        finally:
            if query.isActive:  # pragma: no cover
                query.stop()
        return lineages

    def follow_stream(
        self,
        spark: SparkSession,
        events_dir: str,
        checkpoint_dir: str,
        max_files_per_trigger: int = 1,
        processing_time: str = "10 seconds",
        on_batch=None,
    ):
        """Continuous tail (the production shape): keeps running, applying
        new change files as they land. Returns ``(query, lineages)`` — the
        caller owns the StreamingQuery (``query.stop()``); ``lineages`` grows
        live as batches commit."""
        lineages: list[dict] = []
        query = self._start(
            spark, events_dir, checkpoint_dir, max_files_per_trigger,
            on_batch, {"processingTime": processing_time}, lineages,
        )
        return query, lineages
