"""Snapshot-diff changelog: typed change rows between any two snapshots,
consumer-side replay equivalence (state(v_from) + feed == state(v_to)),
metadata-only bucket pruning, idempotent materialization, and MOR parity."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from migration_pair_spark.cdc.changelog import (
    apply_changes,
    changed_buckets,
    materialize_changelog,
    snapshot_diff,
)
from migration_pair_spark.cdc.runner import CHANGE_STREAM_SCHEMA, CdcPipeline
from migration_pair_spark.lakehouse.table import LakeTable

T0 = dt.datetime(2024, 3, 1)


def _events(spark, rows):
    """rows: (lsn, op, url, ts_offset_min, html)"""
    data = [
        (
            lsn,
            op,
            url,
            T0 + dt.timedelta(minutes=off),
            html.encode() if html is not None else None,
            "en",
            None,
            200,
            1,
        )
        for lsn, op, url, off, html in rows
    ]
    return spark.createDataFrame(data, CHANGE_STREAM_SCHEMA)


BATCH1 = [
    (1, "insert", "u/a", 0, "<p>a1</p>"),
    (2, "insert", "u/b", 0, "<p>b1</p>"),
    (3, "insert", "u/c", 0, "<p>c1</p>"),
]
BATCH2 = [
    (4, "update", "u/a", 10, "<p>a2</p>"),   # update a
    (5, "delete", "u/b", 10, None),           # delete b
    (6, "insert", "u/d", 10, "<p>d1</p>"),   # insert d; c untouched
]


@pytest.fixture(params=["cow", "mor"])
def applied(request, spark, tmp_path):
    pipe = CdcPipeline(
        table_path=str(tmp_path / f"t-{request.param}"),
        n_buckets=8,
        salt_buckets=8,
        write_mode=request.param,
    )
    l1 = pipe.apply_batch(spark, _events(spark, BATCH1), batch_id=0)
    l2 = pipe.apply_batch(spark, _events(spark, BATCH2), batch_id=1)
    table = LakeTable.load(spark, pipe.table_path)
    return table, l1, l2


def _typed(rows):
    return {(r.change_type, r.url, r.text) for r in rows}


def test_diff_emits_typed_changes(applied):
    table, l1, l2 = applied
    feed = snapshot_diff(table, l1["snapshot_id"], l2["snapshot_id"]).collect()
    assert _typed(feed) == {
        ("update_before", "u/a", "a1"),
        ("update_after", "u/a", "a2"),
        ("delete", "u/b", "b1"),
        ("insert", "u/d", "d1"),
        # u/c untouched -> no row, even though COW rewrote its bucket file
    }


def test_diff_from_empty_is_all_inserts(applied):
    table, l1, _ = applied
    feed = snapshot_diff(table, l1["table_version_before"], l1["snapshot_id"])
    rows = feed.collect()
    assert {r.change_type for r in rows} == {"insert"}
    assert {r.url for r in rows} == {"u/a", "u/b", "u/c"}


def test_consumer_replay_reconverges(applied, spark):
    """state(v1) + feed(v1 -> v2) == state(v2) — the consumer-side twin of
    the engine's replay-equivalence invariant."""
    table, l1, l2 = applied
    v1, v2 = l1["snapshot_id"], l2["snapshot_id"]
    before = table.at_version(v1, schema_from=table.manifest_at(v2)).read()
    feed = snapshot_diff(table, v1, v2)
    rebuilt = apply_changes(before, feed, key="url")
    want = {
        tuple(r) for r in table.at_version(v2).read().collect()
    }
    got = {tuple(r) for r in rebuilt.collect()}
    assert got == want


def test_cross_version_diff_is_net(applied):
    """v0 -> v2 collapses insert+update to one insert with the final image
    and drops the inserted-then-deleted key entirely."""
    table, l1, l2 = applied
    feed = snapshot_diff(table, l1["table_version_before"], l2["snapshot_id"])
    assert _typed(feed.collect()) == {
        ("insert", "u/a", "a2"),
        ("insert", "u/c", "c1"),
        ("insert", "u/d", "d1"),
        # u/b inserted then deleted: no net change
    }


def test_changed_buckets_prunes_by_metadata(applied):
    table, l1, l2 = applied
    m1, m2 = table.manifest_at(l1["snapshot_id"]), table.manifest_at(l2["snapshot_id"])
    touched = set(changed_buckets(m1, m2))
    # the batch touched the buckets of a, b, d (c's bucket only if it shares)
    expr = table.bucket_expr
    key_buckets = {
        r._b
        for r in table.spark.createDataFrame(
            [("u/a",), ("u/b",), ("u/d",)], "url string"
        )
        .select(expr().alias("_b"))
        .collect()
    }
    assert key_buckets <= touched
    assert len(touched) <= 8  # never more than the table has


def test_materialize_idempotent(applied, tmp_path, spark):
    table, l1, l2 = applied
    out = str(tmp_path / "feed")
    d = materialize_changelog(table, out, l1["snapshot_id"], l2["snapshot_id"])
    assert d is not None and os.path.exists(os.path.join(d, "_DONE"))
    again = materialize_changelog(table, out, l1["snapshot_id"], l2["snapshot_id"])
    assert again is None  # second call short-circuits
    rows = spark.read.parquet(d).collect()
    assert _typed(rows) == _typed(
        snapshot_diff(table, l1["snapshot_id"], l2["snapshot_id"]).collect()
    )


def test_pipeline_emits_feed_per_batch(spark, tmp_path):
    out = str(tmp_path / "feed")
    pipe = CdcPipeline(
        table_path=str(tmp_path / "t"),
        n_buckets=8,
        salt_buckets=8,
        changelog_dir=out,
    )
    pipe.apply_batch(spark, _events(spark, BATCH1), batch_id=0)
    pipe.apply_batch(spark, _events(spark, BATCH2), batch_id=1)
    dirs = sorted(os.listdir(out))
    assert len(dirs) == 2
    feed = spark.read.parquet(os.path.join(out, "*"))
    assert feed.filter(F.col("change_type") == "delete").count() == 1
    # duplicate delivery: reapplying batch 2 is gated -> no third feed dir
    pipe.apply_batch(spark, _events(spark, BATCH2), batch_id=2)
    assert sorted(os.listdir(out)) == dirs


def test_mor_defaults_to_compaction_aligned_emission(spark, tmp_path):
    """MOR + changelog_dir defaults to changelog_emit='on_compact': no
    per-batch feed work at all (the round-2 measured 2x slowdown), one SPAN
    feed at the compaction boundary, and folding that span reaches the
    identical state as folding the per-batch diffs (span feeds collapse
    intra-span churn but are state-equivalent by construction)."""
    out = str(tmp_path / "feed")
    pipe = CdcPipeline(
        table_path=str(tmp_path / "t"),
        n_buckets=8,
        salt_buckets=8,
        write_mode="mor",
        auto_compact_files_per_bucket=1,
        changelog_dir=out,
    )
    assert pipe.changelog_policy == "on_compact"
    l1 = pipe.apply_batch(spark, _events(spark, BATCH1), batch_id=0)
    l2 = pipe.apply_batch(spark, _events(spark, BATCH2), batch_id=1)
    table = LakeTable.load(spark, pipe.table_path)
    # emission only ever happens at compaction boundaries, and exactly one
    # span per compaction — never one per batch
    n_compacts = sum("auto_compacted_buckets" in l for l in (l1, l2))
    assert n_compacts >= 1
    dirs = sorted(d for d in os.listdir(out) if d.startswith("v"))
    assert len(dirs) == n_compacts
    # spans CHAIN: first starts at the subscription base (pre-batch-1
    # version), each next starts where the previous ended
    bounds = [
        (int(d.split("-v")[0][1:]), int(d.split("-v")[1])) for d in dirs
    ]
    assert bounds[0][0] == l1["table_version_before"]
    for (_, hi), (lo, _) in zip(bounds, bounds[1:]):
        assert lo == hi
    # fold all spans from the base state == fold the per-batch diffs ==
    # the table's current visible state (span feeds collapse intra-span
    # churn but are state-equivalent)
    spans = spark.read.parquet(*[os.path.join(out, d) for d in dirs])
    base = table.at_version(bounds[0][0], schema_from=table.manifest).read()
    from_span = {tuple(r) for r in apply_changes(base, spans, key="url").collect()}
    per_batch = snapshot_diff(
        table, l1["table_version_before"], l1["snapshot_id"]
    ).unionByName(snapshot_diff(table, l2["table_version_before"], l2["snapshot_id"]))
    from_batches = {
        tuple(r) for r in apply_changes(base, per_batch, key="url").collect()
    }
    want = {tuple(r) for r in table.read().collect()}
    assert from_span == want
    assert from_batches == want
    # the tail since the last compaction (if any) is reachable on demand
    tail = pipe.emit_changelog(spark)
    if tail is not None:
        tail_rows = spark.read.parquet(tail)
        full = spans.unionByName(tail_rows)
        assert {
            tuple(r) for r in apply_changes(base, full, key="url").collect()
        } == want


def test_on_demand_changelog_emission(spark, tmp_path):
    out = str(tmp_path / "feed")
    pipe = CdcPipeline(
        table_path=str(tmp_path / "t"),
        n_buckets=8,
        salt_buckets=8,
        changelog_dir=out,
        changelog_emit="on_demand",
    )
    pipe.apply_batch(spark, _events(spark, BATCH1), batch_id=0)
    pipe.apply_batch(spark, _events(spark, BATCH2), batch_id=1)
    assert not [d for d in os.listdir(out) if d.startswith("v")]
    d = pipe.emit_changelog(spark)
    assert d is not None
    feed = spark.read.parquet(d)
    assert _typed(feed.collect()) == {
        ("insert", "u/a", "a2"),
        ("insert", "u/c", "c1"),
        ("insert", "u/d", "d1"),
    }
    # idempotent: nothing new committed since -> no-op
    assert pipe.emit_changelog(spark) is None
    # more changes -> the next span starts where the last one ended
    pipe.apply_batch(
        spark, _events(spark, [(7, "delete", "u/c", 20, None)]), batch_id=2
    )
    d2 = pipe.emit_changelog(spark)
    rows = spark.read.parquet(d2).collect()
    assert {(r.change_type, r.url) for r in rows} == {("delete", "u/c")}


def test_diff_across_schema_evolution(spark, tmp_path):
    """A feed spanning an epoch boundary reads the old snapshot reconciled
    onto the new schema: before-images carry null for later-added columns and
    the renamed column under its NEW name."""
    pipe = CdcPipeline(table_path=str(tmp_path / "t"), n_buckets=8, salt_buckets=8)
    pipe.apply_batch(spark, _events(spark, BATCH1), batch_id=0)
    # epoch-3 batch: rename lang->language + widen fetch_status (registry)
    ev3 = [
        (10, "update", "u/a", 30, "<p>a3</p>"),
    ]
    data = [
        (lsn, op, url, T0 + dt.timedelta(minutes=off), h.encode(), None, "en", 200, 3)
        for lsn, op, url, off, h in ev3
    ]
    l1 = LakeTable.load(spark, pipe.table_path).version
    lin = pipe.apply_batch(spark, spark.createDataFrame(data, CHANGE_STREAM_SCHEMA), batch_id=1)
    table = LakeTable.load(spark, pipe.table_path)
    feed = snapshot_diff(table, l1, lin["snapshot_id"]).collect()
    by_type = {r.change_type: r for r in feed}
    assert set(by_type) == {"update_before", "update_after"}
    # the before-image exposes the renamed column under the NEW name
    assert by_type["update_before"].language == "en"
    assert by_type["update_before"].text == "a1"
    assert by_type["update_after"].text == "a3"


def test_changelog_cli(spark, tmp_path, capsys):
    pipe = CdcPipeline(table_path=str(tmp_path / "t"), n_buckets=8, salt_buckets=8)
    l1 = pipe.apply_batch(spark, _events(spark, BATCH1), batch_id=0)
    pipe.apply_batch(spark, _events(spark, BATCH2), batch_id=1)
    from migration_pair_spark.__main__ import main
    import json as _json

    out = str(tmp_path / "feed")
    rc = main([
        "changelog", "--table-path", str(tmp_path / "t"),
        "--from-version", str(l1["snapshot_id"]), "--out", out,
    ])
    assert rc == 0
    payload = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["rows"] == 4  # update x2, delete, insert
    assert os.path.exists(os.path.join(payload["out"], "_DONE"))


def test_changelog_cli_replay_and_validation(spark, tmp_path, capsys):
    pipe = CdcPipeline(table_path=str(tmp_path / "t"), n_buckets=8, salt_buckets=8)
    l1 = pipe.apply_batch(spark, _events(spark, BATCH1), batch_id=0)
    pipe.apply_batch(spark, _events(spark, BATCH2), batch_id=1)
    from migration_pair_spark.__main__ import main
    import json as _json

    out = str(tmp_path / "feed")
    args = ["changelog", "--table-path", str(tmp_path / "t"),
            "--from-version", str(l1["snapshot_id"]), "--out", out]
    assert main(args) == 0
    first = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert main(args) == 0  # replay: same feed location, no re-write
    second = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert second["already_materialized"] is True
    assert second["out"] == first["out"] and second["rows"] == first["rows"]
    # reversed versions are rejected, not silently inverted
    with pytest.raises(SystemExit):
        main(["changelog", "--table-path", str(tmp_path / "t"),
              "--from-version", "4", "--to-version", "2", "--out", out])
    # unknown version is a CLI error, not a traceback
    with pytest.raises(SystemExit):
        main(["changelog", "--table-path", str(tmp_path / "t"),
              "--from-version", "99", "--out", out])


def test_apply_changes_folds_multi_pair_feeds_in_order(spark, tmp_path):
    """Review-caught (round 2, third pass): concatenated feeds spanning
    several version pairs must fold pair-by-pair — a flat anti-join/union
    resurrects a key inserted in pair 1 and deleted in pair 2."""
    pipe = CdcPipeline(table_path=str(tmp_path / "t"), n_buckets=8, salt_buckets=8)
    l1 = pipe.apply_batch(spark, _events(spark, BATCH1), batch_id=0)
    l2 = pipe.apply_batch(spark, _events(spark, BATCH2), batch_id=1)
    # pair 3: delete u/d (inserted in pair 2)
    l3 = pipe.apply_batch(
        spark, _events(spark, [(7, "delete", "u/d", 20, None)]), batch_id=2
    )
    table = LakeTable.load(spark, pipe.table_path)
    v0 = l1["table_version_before"]
    feeds = [
        snapshot_diff(table, l1["table_version_before"], l1["snapshot_id"]),
        snapshot_diff(table, l2["table_version_before"], l2["snapshot_id"]),
        snapshot_diff(table, l3["table_version_before"], l3["snapshot_id"]),
    ]
    concat = feeds[0]
    for f in feeds[1:]:
        concat = concat.unionByName(f)
    before = table.at_version(v0, schema_from=table.manifest_at(l3["snapshot_id"])).read()
    rebuilt = apply_changes(before, concat, key="url")
    want = {tuple(r) for r in table.at_version(l3["snapshot_id"]).read().collect()}
    got = {tuple(r) for r in rebuilt.collect()}
    assert got == want
    assert "u/d" not in {r.url for r in rebuilt.collect()}  # not resurrected


def test_changelog_crash_window_heals_on_replay(spark, tmp_path):
    """Review-caught (round 2, third pass): a crash between the table commit
    and the feed write must be healed by the replayed (gated) batch — the
    docstring's 'rerun rebuilds the identical feed' promise."""
    out = str(tmp_path / "feed")
    pipe = CdcPipeline(
        table_path=str(tmp_path / "t"), n_buckets=8, salt_buckets=8,
        changelog_dir=out,
    )
    pipe.apply_batch(spark, _events(spark, BATCH1), batch_id=0)
    # simulate the crash window: batch 2 commits WITHOUT a changelog dir
    pipe_nofeed = CdcPipeline(
        table_path=str(tmp_path / "t"), n_buckets=8, salt_buckets=8,
    )
    pipe_nofeed.apply_batch(spark, _events(spark, BATCH2), batch_id=1)
    assert len(os.listdir(out)) == 1  # pair 2's feed is missing
    # restart replays batch 2 -> gated skipped -> heal materializes the pair
    lin = pipe.apply_batch(spark, _events(spark, BATCH2), batch_id=2)
    assert lin["skipped"]
    dirs = sorted(os.listdir(out))
    assert len(dirs) == 2
    feed = spark.read.parquet(os.path.join(out, dirs[-1]))
    assert _typed(feed.collect()) == {
        ("update_before", "u/a", "a1"),
        ("update_after", "u/a", "a2"),
        ("delete", "u/b", "b1"),
        ("insert", "u/d", "d1"),
    }


def test_mor_without_autocompact_falls_back_to_per_batch(spark, tmp_path):
    """Review-caught (round 3): defaulting MOR to on_compact with
    auto-compaction DISABLED would silently never emit anything — the
    policy must fall back to per-batch emission unless compaction actually
    fires automatically (or the user explicitly says on_demand)."""
    out = str(tmp_path / "feed")
    pipe = CdcPipeline(
        table_path=str(tmp_path / "t"),
        n_buckets=8,
        salt_buckets=8,
        write_mode="mor",          # auto_compact_files_per_bucket defaults 0
        changelog_dir=out,
    )
    assert pipe.changelog_policy == "per_batch"
    pipe.apply_batch(spark, _events(spark, BATCH1), batch_id=0)
    pipe.apply_batch(spark, _events(spark, BATCH2), batch_id=1)
    dirs = [d for d in os.listdir(out) if d.startswith("v")]
    assert len(dirs) == 2  # one feed per batch, nothing silently dropped


def test_emit_changelog_cli(spark, tmp_path, capsys):
    import json as _json

    from migration_pair_spark.__main__ import main

    out = str(tmp_path / "feed")
    pipe = CdcPipeline(
        table_path=str(tmp_path / "t"),
        n_buckets=8,
        salt_buckets=8,
        changelog_dir=out,
        changelog_emit="on_demand",
    )
    pipe.apply_batch(spark, _events(spark, BATCH1), batch_id=0)
    pipe.apply_batch(spark, _events(spark, BATCH2), batch_id=1)
    assert main(["emit-changelog", "--table-path", pipe.table_path, "--out", out]) == 0
    rec = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rec["emitted"] and rec["rows"] == 3  # net: a2, c1, d1 inserts
    # idempotent: second invocation emits nothing
    assert main(["emit-changelog", "--table-path", pipe.table_path, "--out", out]) == 0
    rec2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert not rec2["emitted"] and rec2["rows"] == 0


def test_policy_switch_drains_stranded_deferred_span(spark, tmp_path):
    """Review-caught (round 3): a feed that ran a deferred policy holds an
    un-emitted span behind its _BASE marker; switching to per-batch
    emission must DRAIN that span before emitting new pairs, or the gap is
    stranded forever (last_emitted jumps past it). Folding the whole feed
    must reach the table's state."""
    out = str(tmp_path / "feed")
    # era 1: deferred (on_demand), two batches committed, nothing emitted
    pipe = CdcPipeline(
        table_path=str(tmp_path / "t"),
        n_buckets=8,
        salt_buckets=8,
        changelog_dir=out,
        changelog_emit="on_demand",
    )
    pipe.apply_batch(spark, _events(spark, BATCH1), batch_id=0)
    pipe.apply_batch(spark, _events(spark, BATCH2), batch_id=1)
    assert not [d for d in os.listdir(out) if d.startswith("v")]
    # era 2: same feed dir, per-batch policy
    pipe2 = CdcPipeline(
        table_path=str(tmp_path / "t"),
        n_buckets=8,
        salt_buckets=8,
        changelog_dir=out,
        changelog_emit="per_batch",
    )
    pipe2.apply_batch(
        spark, _events(spark, [(7, "delete", "u/c", 20, None)]), batch_id=2
    )
    dirs = sorted(d for d in os.listdir(out) if d.startswith("v"))
    assert len(dirs) == 1  # one span: the stranded era-1 span + this batch
    bounds = [(int(d.split("-v")[0][1:]), int(d.split("-v")[1])) for d in dirs]
    for (_, hi), (lo, _) in zip(bounds, bounds[1:]):
        assert lo == hi  # contiguous chain, no gap
    table = LakeTable.load(spark, str(tmp_path / "t"))
    feed = spark.read.parquet(*[os.path.join(out, d) for d in dirs])
    base = table.at_version(bounds[0][0], schema_from=table.manifest).read()
    got = {tuple(r) for r in apply_changes(base, feed, key="url").collect()}
    want = {tuple(r) for r in table.read().collect()}
    assert got == want


def _spans(out):
    dirs = sorted(d for d in os.listdir(out) if d.startswith("v"))
    return dirs, [(int(d.split("-v")[0][1:]), int(d.split("-v")[1])) for d in dirs]


def _assert_feed_reaches_table(spark, table, out, base_version):
    """The spans chain from ``base_version`` to the table's current version
    with no gap, and folding them from the base state is the table."""
    table.refresh()
    dirs, bounds = _spans(out)
    assert bounds[0][0] == base_version
    for (_, hi), (lo, _) in zip(bounds, bounds[1:]):
        assert lo == hi  # contiguous chain, no gap
    assert bounds[-1][1] == table.version
    feed = spark.read.parquet(*[os.path.join(out, d) for d in dirs])
    base = table.at_version(base_version, schema_from=table.manifest).read()
    got = {tuple(r) for r in apply_changes(base, feed, key="url").collect()}
    assert got == {tuple(r) for r in table.read().collect()}
    return bounds


@pytest.mark.parametrize("rival", [False, True])
def test_per_batch_feed_covers_commits_between_batches(spark, tmp_path, rival):
    """A per-batch span starts at the feed's high-water mark, so a commit
    no batch made (a purge, a rival writer's compaction and purge) lands
    in the next span instead of falling out of the feed: a purged key must
    not be resurrected downstream."""
    out = str(tmp_path / "feed")
    pipe = CdcPipeline(
        table_path=str(tmp_path / "t"),
        n_buckets=8,
        salt_buckets=8,
        write_mode="mor" if rival else "cow",
        changelog_dir=out,
        changelog_emit="per_batch",
    )
    l1 = pipe.apply_batch(spark, _events(spark, BATCH1), batch_id=0)
    if rival:
        other = LakeTable.load(spark, pipe.table_path)
        other.compact()
        other.purge_keys(["u/a"])
    else:
        pipe.purge(spark, ["u/a"])
    l2 = pipe.apply_batch(
        spark, _events(spark, [(7, "insert", "u/e", 20, "<p>e1</p>")]), batch_id=1
    )
    table = LakeTable.load(spark, pipe.table_path)
    assert sorted(r.url for r in table.read().collect()) == ["u/b", "u/c", "u/e"]
    bounds = _assert_feed_reaches_table(
        spark, table, out, l1["table_version_before"]
    )
    assert len(bounds) == 2
    assert l2["changelog_emitted"].endswith(_spans(out)[0][-1])


def test_split_batch_emits_one_span_over_every_sub_commit(spark, tmp_path):
    out = str(tmp_path / "feed")
    pipe = CdcPipeline(
        table_path=str(tmp_path / "t"),
        n_buckets=8,
        salt_buckets=8,
        changelog_dir=out,
        max_events_per_batch=2,
    )
    lin = pipe.apply_batch(spark, _events(spark, BATCH1), batch_id=0)
    assert lin["split_into"] == 2
    table = LakeTable.load(spark, pipe.table_path)
    assert table.version - lin["sub_batches"][0]["table_version_before"] == 2
    bounds = _assert_feed_reaches_table(
        spark, table, out, lin["sub_batches"][0]["table_version_before"]
    )
    assert len(bounds) == 1
    assert lin["changelog_emitted"].endswith(_spans(out)[0][0])
