"""Snapshot-diff changelog: the downstream-consumer change feed of the CDC
engine (Iceberg changelog-read / Delta ``table_changes`` analog).

The feed is DERIVED from immutable committed snapshots, never buffered as
writer state: ``snapshot_diff(table, v_from, v_to)`` compares the resolved,
visible row per key at the two versions and emits

- ``insert``          (after-image)  — key visible at v_to, not at v_from
- ``delete``          (before-image) — key visible at v_from, not at v_to
- ``update_before`` / ``update_after`` — key visible at both with a
  different image (two rows, Flink/Debezium retract convention)

Exactly-once falls out of the design: snapshots are immutable and the diff
is deterministic, so materialization is idempotent-by-version-pair (a crash
between the table commit and the changelog write loses nothing — rerun
rebuilds the identical feed; see :func:`materialize_changelog`). This is the
same argument the applied-LSN gate makes for the upsert path (cdc/apply.py).

Scale shape:

- **Manifest-level bucket pruning**: only buckets whose FILE LISTS differ
  between the two manifests are scanned — a metadata-only comparison; an
  incremental batch that touched 3 of 4096 buckets diffs 3 buckets.
- The diff itself is one full-outer hash join on the key over the changed
  buckets' resolved rows; emission is an ``explode`` of a per-key change
  array — no second pass, no driver-side comparison.
- Mid-diff schema evolution is handled by reading the OLD snapshot's files
  reconciled onto the NEW snapshot's schema (``LakeTable.at_version``'s
  ``schema_from``), so before/after images always align by name; columns
  added between the versions read as null in the before-image.

When to emit (measured, scripts/soak.py): per-batch emission is cheap under
COW (the merge materializes both images anyway) but under MERGE-ON-READ the
before-image read re-resolves the touched buckets' accumulated deltas —
~2x total cost at 10 batches and growing with delta depth. For MOR
steady-state, emit on compaction boundaries or on demand: the feed is a pure
function of two immutable snapshots, so NOTHING is lost by deferring.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from migration_pair_spark.lakehouse.table import SYSTEM_COLS, LakeTable

CHANGE_TYPES = ("insert", "delete", "update_before", "update_after")


def changed_buckets(m_from: dict, m_to: dict) -> list[int]:
    """Bucket ids whose manifest file lists differ between two snapshots —
    pure metadata, no data IO."""
    bf, bt = m_from["buckets"], m_to["buckets"]
    out = []
    for b in set(bf) | set(bt):
        if bf.get(b, []) != bt.get(b, []):
            out.append(int(b))
    return sorted(out)


def _visible(snap: LakeTable, buckets: list[int]) -> DataFrame:
    """Resolved, visible (non-tombstone) rows of the chosen buckets, user
    schema only."""
    df = snap.read_buckets(buckets, resolve=True)
    return df.filter(~F.coalesce(F.col("_deleted"), F.lit(False))).drop(
        *SYSTEM_COLS
    )


def snapshot_diff(table: LakeTable, v_from: int, v_to: int) -> DataFrame:
    """The change feed that turns the v_from state into the v_to state.

    Returns (change_type, _v_from, _v_to, key, *user columns) — images are
    in v_to's schema (before-images of later-added columns are null)."""
    m_to = table.manifest_at(v_to)
    before_snap = table.at_version(v_from, schema_from=m_to)
    after_snap = table.at_version(v_to)
    buckets = changed_buckets(before_snap.manifest, after_snap.manifest)

    key = table.key_col
    cols = [f.name for f in after_snap.schema.fields if f.name != key]

    def side(snap, tag):
        df = _visible(snap, buckets)
        return df.select(
            F.col(key),
            F.struct(*[F.col(c) for c in cols]).alias(f"_img_{tag}"),
            F.lit(True).alias(f"_in_{tag}"),
        )

    j = side(before_snap, "b").join(side(after_snap, "a"), key, "full_outer")
    img_b, img_a = F.col("_img_b"), F.col("_img_a")
    chg = F.struct  # (change_type, image) pairs, exploded below
    changes = (
        F.when(
            F.col("_in_a").isNotNull() & F.col("_in_b").isNull(),
            F.array(chg(F.lit("insert").alias("t"), img_a.alias("img"))),
        )
        .when(
            F.col("_in_b").isNotNull() & F.col("_in_a").isNull(),
            F.array(chg(F.lit("delete").alias("t"), img_b.alias("img"))),
        )
        .when(
            ~img_b.eqNullSafe(img_a),
            F.array(
                chg(F.lit("update_before").alias("t"), img_b.alias("img")),
                chg(F.lit("update_after").alias("t"), img_a.alias("img")),
            ),
        )
        # unchanged keys: null array — explode (non-outer) emits nothing
        .otherwise(F.lit(None))
    )
    ex = j.select(key, F.explode(changes).alias("_c"))
    return ex.select(
        F.col("_c.t").alias("change_type"),
        F.lit(v_from).alias("_v_from"),
        F.lit(v_to).alias("_v_to"),
        key,
        *[F.col(f"_c.img.{c}").alias(c) for c in cols],
    )


def apply_changes(state: DataFrame, feed: DataFrame, key: str) -> DataFrame:
    """Fold a change feed into a state DataFrame (the consumer-side replay:
    drop keys with delete/update_before, add insert/update_after images);
    proves feed(v_from -> v_to) + state(v_from) == state(v_to).

    Feeds spanning SEVERAL version pairs fold pair-by-pair in version
    order — a single flat anti-join/union would lose event ordering (an
    insert in pair 1 followed by a delete in pair 2 would resurrect the
    key; review-caught). Each pair's feed has at most one change per key
    on each side, so within a pair the flat form is exact."""
    pairs = sorted(
        (r._v_from, r._v_to)
        for r in feed.select("_v_from", "_v_to").distinct().collect()
    )
    cols = state.columns
    for v_from, v_to in pairs:
        f = feed.filter(
            (F.col("_v_from") == v_from) & (F.col("_v_to") == v_to)
        )
        gone = f.filter(
            F.col("change_type").isin("delete", "update_before")
        ).select(key)
        added = f.filter(
            F.col("change_type").isin("insert", "update_after")
        ).select(*cols)
        state = state.join(gone, key, "left_anti").unionByName(added)
        if len(pairs) > 1:
            # keep the iterated plan flat (same rationale as dedup_clusters)
            state = state.localCheckpoint()
    return state


def last_emitted_version(out_dir: str) -> int | None:
    """Highest ``v_to`` among completed feed directories — the feed's own
    durable high-water mark (derived from the _DONE markers, never from
    writer memory, so deferred emission has NO crash window: a death at any
    point leaves the span open and the next emission re-covers it)."""
    import glob

    vs = []
    for done in glob.glob(os.path.join(out_dir, "v*-v*", "_DONE")):
        name = os.path.basename(os.path.dirname(done))
        vs.append(int(name.split("-v")[1]))
    return max(vs) if vs else None


_BASE_MARKER = "_BASE"


def ensure_subscription_base(out_dir: str, version: int) -> int:
    """Record (once) the table version at which this feed directory started
    subscribing; returns the recorded base. Span emission diffs from
    max(last emitted, base) so a feed attached to an existing table starts
    at its attach point — the same semantics per-batch emission gets from
    each batch's ``table_version_before``."""
    os.makedirs(out_dir, exist_ok=True)
    p = os.path.join(out_dir, _BASE_MARKER)
    if os.path.exists(p):
        with open(p) as f:
            return int(f.read().strip())
    with open(p, "w") as f:
        f.write(str(version))
    return version


def emit_span(table: LakeTable, out_dir: str) -> str | None:
    """Deferred (compaction-aligned / on-demand) emission: materialize ONE
    feed covering (last emitted | subscription base) -> current version.

    Cost shape vs per-batch emission under merge-on-read: the before-image
    snapshot is the previous emission point — compacted, 1 resolved row per
    key on disk — and the after-image resolves the accumulated deltas ONCE
    per span instead of once per batch, so per-batch apply walls carry zero
    changelog work (measured in scripts/soak.py; per-batch MOR emission
    halved throughput, BENCH/BASELINE.md).

    Feed semantics: a span feed collapses intermediate churn (an insert
    then delete of the same key inside one span emits nothing) — by design:
    the feed is the pure state diff of its two snapshots, and folding span
    feeds with :func:`apply_changes` reaches the identical state as folding
    the per-batch feeds (pinned in tests/test_changelog.py)."""
    table.refresh()
    v_to = table.version
    last = last_emitted_version(out_dir)
    v_from = last if last is not None else ensure_subscription_base(out_dir, v_to)
    if v_from >= v_to:
        return None
    return materialize_changelog(table, out_dir, v_from, v_to)


def materialize_changelog(
    table: LakeTable, out_dir: str, v_from: int, v_to: int
) -> str | None:
    """Write the (v_from, v_to] feed under ``out_dir`` — idempotent: each
    version pair lands in its own directory with a ``_DONE`` marker, and an
    existing marker short-circuits (crash-safe replay: the diff of immutable
    snapshots is deterministic, so rebuilding after a crash yields the
    identical feed). Returns the directory written, or None if it already
    existed."""
    d = os.path.join(out_dir, f"v{v_from:08d}-v{v_to:08d}")
    if os.path.exists(os.path.join(d, "_DONE")):
        return None
    snapshot_diff(table, v_from, v_to).write.parquet(d, mode="overwrite")
    with open(os.path.join(d, "_DONE"), "w") as f:
        f.write("ok")
    return d
