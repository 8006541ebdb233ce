"""Bucket-count rescale (lakehouse/table.py:rescale): read/merge
equivalence across the migration, correct child routing, mid-migration
readability, kill-and-resume idempotence, MOR folding, no-op replay, and
the CLI subcommand."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from migration_pair_spark.lakehouse import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)


def _mk(spark, path, n_buckets=4):
    t = LakeTable.create(spark, path, SCHEMA, key_col="url", n_buckets=n_buckets)
    t.append_bucketed(_rows(spark))
    return t


def _rows(spark, n=40, tag="en"):
    return spark.range(n).select(
        F.concat(F.lit("https://u/"), F.col("id")).alias("url"),
        F.timestamp_millis(F.col("id") * 1000).alias("warc_ts"),
        F.lit(tag).alias("lang"),
    )


def _snapshot(t):
    return {
        tuple(r) for r in t.read().select("url", "lang").collect()
    }


def test_rescale_preserves_reads_and_routes_children(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir, n_buckets=4)
    before = _snapshot(t)
    t.rescale(16)
    assert t.n_buckets == 16
    assert _snapshot(t) == before
    # every row sits in the bucket its key hashes to under the NEW count —
    # bucket-pruned reads and the CDC merge's routing stay correct
    for b, files in t.manifest["buckets"].items():
        if not files:
            continue
        rows = t.read_buckets([int(b)])
        bad = rows.filter(
            F.pmod(F.xxhash64(F.col("url")), F.lit(16)) != int(b)
        ).count()
        assert bad == 0, f"bucket {b} holds foreign keys"
    # and a point lookup prunes to one bucket's files
    hit = t.lookup("https://u/7")
    assert hit.count() == 1


def test_rescale_validates_target(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir, n_buckets=4)
    with pytest.raises(ValueError, match="multiple"):
        t.rescale(6)
    with pytest.raises(ValueError, match="multiple"):
        t.rescale(2)


def test_rescale_is_noop_when_complete(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir, n_buckets=4)
    v = t.rescale(8)
    assert t.rescale(8) == v  # crash-retry of a finished rescale: no-op


def test_rescale_readable_mid_migration_and_resumes(spark, tmp_table_dir):
    """Kill the rescale after the first chunk commit: the table must read
    identically (intermediate manifests are fully consistent), and a
    re-run must resume — migrating only the REMAINING parents — then
    finish with the same state as an uninterrupted run."""
    t = _mk(spark, tmp_table_dir, n_buckets=4)
    before = _snapshot(t)

    writes = {"n": 0}
    orig = t._table_write

    def crashing_write(df, tx_dir, *rest):
        if writes["n"] >= 2:
            raise RuntimeError("injected crash mid-rescale")
        writes["n"] += 1
        orig(df, tx_dir, *rest)

    t._table_write = crashing_write
    with pytest.raises(RuntimeError, match="mid-rescale"):
        t.rescale(8, parents_per_commit=1)
    t._table_write = orig

    # mid-migration: old bucket count, identical reads, progress recorded
    fresh = LakeTable.load(spark, tmp_table_dir)
    assert fresh.n_buckets == 4
    assert _snapshot(fresh) == before
    migrated = set(fresh.manifest["rescale"]["migrated"])
    assert len(migrated) == 2

    # resume with the same target: only the remaining parents are rewritten
    writes2 = {"n": 0}

    def counting_write(df, tx_dir, *rest):
        writes2["n"] += 1
        orig(df, tx_dir, *rest)

    fresh._table_write = counting_write
    fresh.rescale(8, parents_per_commit=1)
    fresh._table_write = orig
    assert writes2["n"] == 4 - len(migrated)
    assert fresh.n_buckets == 8
    assert _snapshot(fresh) == before
    assert "rescale" not in fresh.manifest


def test_rescale_conflicting_target_rejected(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir, n_buckets=4)
    orig = t._table_write

    def crash_after_one(df, tx_dir, *rest):
        if crash_after_one.n >= 1:
            raise RuntimeError("boom")
        crash_after_one.n += 1
        orig(df, tx_dir, *rest)

    crash_after_one.n = 0
    t._table_write = crash_after_one
    with pytest.raises(RuntimeError):
        t.rescale(8, parents_per_commit=1)
    t._table_write = orig
    with pytest.raises(ValueError, match="conflicts with in-progress"):
        t.rescale(16)


def test_rescale_folds_merge_on_read_deltas(spark, tmp_table_dir):
    """A rescaled parent must leave merge-on-read state (the rewrite
    LWW-resolves like compact), and the survivors must be the LWW winners."""
    t = _mk(spark, tmp_table_dir, n_buckets=4)
    newer = _rows(spark, n=10, tag="de").select(
        "url",
        (F.unix_timestamp("warc_ts") * 1000 + 999999).cast("timestamp").alias(
            "warc_ts"
        ),
        "lang",
    )
    delta = (
        newer.withColumn("_lsn", F.lit(5).cast("long"))
        .withColumn("_deleted", F.lit(False))
        .withColumn("_bucket", t.bucket_expr())
    )
    t.append_delta_buckets(delta, list(range(4)))
    assert t.is_merge_on_read
    t.rescale(8)
    assert not t.is_merge_on_read and not t.mor_buckets
    got = {r["url"]: r["lang"] for r in t.read().collect()}
    assert len(got) == 40
    for i in range(10):
        assert got[f"https://u/{i}"] == "de"  # LWW winner survived the fold
    for i in range(10, 40):
        assert got[f"https://u/{i}"] == "en"


def test_rescale_cli(spark, tmp_table_dir, capsys):
    import json

    from migration_pair_spark.__main__ import main

    _mk(spark, tmp_table_dir, n_buckets=4)
    rc = main(
        ["rescale", "--table-path", tmp_table_dir, "--target-buckets", "8"]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_buckets"] == 8
    assert LakeTable.load(spark, tmp_table_dir).read().count() == 40
