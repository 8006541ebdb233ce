"""LakeTable unit tests: atomic snapshot commits, bucket-pruned reads,
schema evolution with on-read reconciliation, commit-conflict rejection."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from migration_pair_spark.lakehouse import (
    AddColumn,
    LakeTable,
    RenameColumn,
    WidenColumn,
)

SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("fetch_status", T.IntegerType(), True),
    ]
)


def _mk(spark, path, n_buckets=4):
    return LakeTable.create(spark, path, SCHEMA, key_col="url", n_buckets=n_buckets)


def _rows(spark, n=20):
    return spark.range(n).select(
        F.concat(F.lit("https://u/"), F.col("id")).alias("url"),
        F.timestamp_millis(F.col("id") * 1000).alias("warc_ts"),
        F.lit("en").alias("lang"),
        F.lit(200).alias("fetch_status"),
    )


def test_create_load_empty(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    assert t.version == 1
    assert LakeTable.load(spark, tmp_table_dir).read().count() == 0
    assert LakeTable.exists(tmp_table_dir)
    assert not LakeTable.exists(tmp_table_dir + "-nope")


def test_append_and_read(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    v = t.append_bucketed(_rows(spark), properties={"engine.max_lsn": "5"})
    assert v == 2
    got = t.read()
    assert got.count() == 20
    assert set(got.columns) == {"url", "warc_ts", "lang", "fetch_status"}
    assert t.properties["engine.max_lsn"] == "5"


def test_bucket_pruning_reads_only_named_buckets(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir, n_buckets=4)
    t.append_bucketed(_rows(spark, 100))
    whole = t.read().count()
    per_bucket = [t.read_buckets([b]).count() for b in range(4)]
    assert sum(per_bucket) == whole == 100
    assert all(c > 0 for c in per_bucket)  # hash spreads keys
    # pruned read of one bucket touches only that bucket's files
    m = t.manifest
    assert all(len(files) > 0 for files in m["buckets"].values())


def test_commit_conflict_rejected(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    t.append_bucketed(_rows(spark, 4))
    stale = LakeTable(spark, tmp_table_dir)
    stale._manifest = {**t.manifest, "version": t.version - 1}
    with pytest.raises(RuntimeError, match="commit conflict"):
        stale._write_manifest({**stale._manifest, "version": t.version})


def test_concurrent_commit_loser_cannot_clobber(spark, tmp_table_dir):
    """ADVICE r1: POSIX rename silently replaces an existing target, so the
    old exists()+rename publish was a TOCTOU race. With link-based exclusive
    publish, the second committer of the same version must FAIL and the
    winner's snapshot (data files + properties) must survive intact."""
    _mk(spark, tmp_table_dir)
    a = LakeTable.load(spark, tmp_table_dir)
    b = LakeTable.load(spark, tmp_table_dir)  # same base version as a
    a.append_bucketed(_rows(spark, 4), properties={"who": "a"})
    with pytest.raises(RuntimeError, match="commit conflict"):
        b.append_bucketed(_rows(spark, 8), properties={"who": "b"})
    fresh = LakeTable.load(spark, tmp_table_dir)
    assert fresh.properties["who"] == "a"
    assert fresh.read().count() == 4
    # no temp manifests left behind by the losing committer
    leftovers = [
        f for f in os.listdir(os.path.join(tmp_table_dir, "manifests"))
        if f.startswith(".tmp-")
    ]
    assert leftovers == []


def test_snapshot_versions_and_refresh(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    t.append_bucketed(_rows(spark, 4))
    t.append_bucketed(_rows(spark, 4))
    assert t.snapshot_versions() == [1, 2, 3]
    t2 = LakeTable.load(spark, tmp_table_dir)
    assert t2.version == 3


def test_evolution_add_rename_widen_reconciles_old_files(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    t.append_bucketed(_rows(spark, 10))  # written at schema v1
    t.evolve_schema([AddColumn("score", "double")])
    t.evolve_schema([RenameColumn("lang", "language"), WidenColumn("fetch_status", "long")])
    got = t.read()
    assert got.schema["language"].dataType == T.StringType()
    assert got.schema["fetch_status"].dataType == T.LongType()
    assert got.schema["score"].dataType == T.DoubleType()
    pdf = got.toPandas()
    assert len(pdf) == 10
    assert set(pdf["language"]) == {"en"}          # old files mapped onto new name
    assert pdf["score"].isna().all()               # added column backfills null
    assert set(pdf["fetch_status"]) == {200}


def test_incompatible_widen_hard_fails(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    with pytest.raises(ValueError, match="incompatible widen"):
        t.evolve_schema([WidenColumn("fetch_status", "string")])
    # re-adding an existing column with the SAME type is a crash-replay no-op
    # (idempotent evolution); a DIFFERENT type is genuine drift and fails
    v = t.version
    assert t.evolve_schema([AddColumn("lang", "string")]) == v
    with pytest.raises(ValueError, match="already exists"):
        t.evolve_schema([AddColumn("lang", "int")])
    with pytest.raises(ValueError, match="missing column"):
        t.evolve_schema([RenameColumn("nope", "x")])


def test_tombstones_hidden_by_default(spark, tmp_table_dir):
    t = _mk(spark, tmp_table_dir)
    df = _rows(spark, 10).withColumn("_lsn", F.lit(1).cast("long")).withColumn(
        "_deleted", F.col("url").endswith("3")
    )
    t.replace_buckets(
        df.withColumn("_bucket", t.bucket_expr()), list(range(4))
    )
    assert t.read().count() == 9
    assert t.read(include_tombstones=True).count() == 10


def test_concurrent_writer_conflict_then_retry_exactly_once(spark, tmp_path):
    """Optimistic concurrency end-to-end: a competing commit that lands
    between the apply's refresh and its own commit makes the apply fail with
    the commit-conflict error (nothing published), and a plain retry of the
    SAME batch succeeds with the correct final state — the foreachBatch
    retry story (runner docstring) in miniature."""
    import datetime as dt

    from migration_pair_spark.cdc.apply import apply_cdc_batch
    from migration_pair_spark.cdc.runner import CHANGE_STREAM_SCHEMA, CdcPipeline

    t0 = dt.datetime(2024, 1, 1)

    def chunk(lo, hi):
        return spark.createDataFrame(
            [
                (i, "insert", f"u/{i}", t0, b"<p>x</p>", "en", None, 200, 1)
                for i in range(lo, hi + 1)
            ],
            CHANGE_STREAM_SCHEMA,
        )

    pipe = CdcPipeline(table_path=str(tmp_path / "t"), n_buckets=4, salt_buckets=4)
    table = pipe.ensure_table(spark)
    apply_cdc_batch(table, chunk(1, 50), batch_id=0)

    # competing writer handle on the same table path
    rival = LakeTable.load(spark, str(tmp_path / "t"))

    victim = LakeTable.load(spark, str(tmp_path / "t"))
    orig = victim.replace_buckets

    def race(*args, **kwargs):
        rival.compact()  # rival publishes the next version first
        return orig(*args, **kwargs)

    victim.replace_buckets = race
    with pytest.raises(RuntimeError, match="commit conflict"):
        apply_cdc_batch(victim, chunk(51, 80), batch_id=1)

    # nothing from the failed apply is visible
    check = LakeTable.load(spark, str(tmp_path / "t"))
    assert check.read().count() == 50

    # plain retry (fresh handle, same batch) succeeds, exactly once
    retry = LakeTable.load(spark, str(tmp_path / "t"))
    lin = apply_cdc_batch(retry, chunk(51, 80), batch_id=1)
    assert not lin["skipped"] and lin["rows_upserted"] == 30
    assert LakeTable.load(spark, str(tmp_path / "t")).read().count() == 80
    # and a SECOND retry is gated off (idempotent)
    lin2 = apply_cdc_batch(retry, chunk(51, 80), batch_id=2)
    assert lin2["skipped"]


def test_lookup_hashes_with_key_column_type(spark, tmp_path):
    """Review-caught (round 2, fourth pass): xxhash64 hashes int and bigint
    differently — lookup must cast the key literal to the key column's type
    or integer keys land in the wrong bucket and read 0 rows."""
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("rec_id", T.LongType()),
            T.StructField("payload", T.StringType()),
        ]
    )
    t = LakeTable.create(
        spark, str(tmp_path / "t"), schema, key_col="rec_id", n_buckets=8,
        lww_order=("_lsn",),
    )
    df = spark.createDataFrame(
        [(i, f"p{i}") for i in range(40)], schema
    )
    t.append_bucketed(df)
    for k in (0, 7, 39):
        rows = t.lookup(k).collect()
        assert len(rows) == 1 and rows[0].payload == f"p{k}"


def test_partial_compaction_clears_mor_per_bucket(spark, tmp_path):
    """Review-caught (round 2, fourth pass): the MOR flag is per-bucket —
    compacting the delta-bearing buckets clears merge-on-read even when
    OTHER nonempty buckets were never compacted (the global-bool version
    forced a full-table resolve on every read forever)."""
    import datetime as dt

    from migration_pair_spark.cdc.apply import apply_cdc_batch
    from migration_pair_spark.cdc.runner import CHANGE_STREAM_SCHEMA, CdcPipeline

    t0 = dt.datetime(2024, 1, 1)

    def chunk(lo, hi):
        return spark.createDataFrame(
            [
                (i, "insert", f"u/{i}", t0, b"<p>x</p>", "en", None, 200, 1)
                for i in range(lo, hi + 1)
            ],
            CHANGE_STREAM_SCHEMA,
        )

    pipe = CdcPipeline(table_path=str(tmp_path / "t"), n_buckets=8, salt_buckets=4)
    table = pipe.ensure_table(spark)
    apply_cdc_batch(table, chunk(1, 60), batch_id=0, write_mode="cow")
    # one MOR batch touching a subset of keys -> deltas in a subset of buckets
    apply_cdc_batch(table, chunk(61, 64), batch_id=1, write_mode="mor")
    table.refresh()
    delta_buckets = sorted(table.mor_buckets)
    assert delta_buckets and len(delta_buckets) < 8
    table.compact(delta_buckets)  # PARTIAL compaction: only those buckets
    table.refresh()
    assert not table.is_merge_on_read  # flag cleared without full compaction
    assert table.read().count() == 64


def test_replace_buckets_refuses_stray_rows(spark, tmp_path):
    """Review-caught (round 2, fourth pass): rows landing outside
    touched_buckets must fail the commit, not vanish as orphans."""
    from migration_pair_spark.cdc.runner import PAGES_SCHEMA

    t = LakeTable.create(
        spark, str(tmp_path / "t"), PAGES_SCHEMA, key_col="url", n_buckets=8
    )
    df = (
        spark.createDataFrame([("u/a",), ("u/b",), ("u/c",)], "url string")
        .withColumn("warc_ts", F.lit(None).cast("timestamp"))
        .withColumn("html", F.lit(None).cast("binary"))
        .withColumn("text", F.lit(None).cast("string"))
        .withColumn("lang", F.lit(None).cast("string"))
        .withColumn("_lsn", F.lit(1).cast("long"))
        .withColumn("_deleted", F.lit(False))
        .withColumn("_bucket", t.bucket_expr())
    )
    buckets = sorted({r._bucket for r in df.select("_bucket").collect()})
    with pytest.raises(ValueError, match="outside touched_buckets"):
        t.replace_buckets(df, touched_buckets=buckets[:1])


def test_vacuum_removes_orphans_keeps_referenced(spark, tmp_path):
    """Orphan data files (crash between data write and manifest publish —
    the committer-v2 partial-output shape) are invisible; vacuum deletes
    them without touching any retained snapshot's files. The safety horizon
    protects a concurrent writer's not-yet-committed output."""
    t = _mk(spark, str(tmp_path / "t"))
    t.append_bucketed(_rows(spark))
    # simulate a crashed transaction: files on disk, no manifest reference
    orphan_dir = os.path.join(t.path, "data", "tx-99999999-dead")
    os.makedirs(orphan_dir)
    orphan = os.path.join(orphan_dir, "part-orphan.parquet")
    with open(orphan, "w") as f:
        f.write("junk")
    before = t.read().count()
    # young orphan survives the horizon (a concurrent uncommitted write
    # would look identical)
    assert t.vacuum(older_than_s=3600) == []
    assert os.path.exists(orphan)
    deleted = t.vacuum(older_than_s=0)
    assert deleted == [os.path.relpath(orphan, t.path)]
    assert not os.path.exists(orphan_dir)  # empty tx dir pruned too
    assert t.read().count() == before  # referenced files untouched


def test_expire_snapshots_then_vacuum_reclaims_history(spark, tmp_path):
    """expire_snapshots drops old manifests (time travel past the horizon
    fails loudly); vacuum then reclaims data files only expired snapshots
    referenced. Retained snapshots stay fully readable."""
    t = _mk(spark, str(tmp_path / "t"))
    for i in range(4):  # versions 2..5, each REPLACES every bucket (COW)
        t.append_bucketed(_rows(spark, n=10 + i))
    all_versions = t.snapshot_versions()
    assert all_versions == [1, 2, 3, 4, 5]
    n_files_before = sum(
        len(fs) for fs in (os.listdir(os.path.join(t.path, "data", d))
                           for d in os.listdir(os.path.join(t.path, "data")))
    )
    expired = t.expire_snapshots(keep_last=2)
    assert expired == [1, 2, 3]
    assert t.snapshot_versions() == [4, 5]
    with pytest.raises(FileNotFoundError):
        t.at_version(2)
    deleted = t.vacuum(older_than_s=0)
    assert deleted  # versions 2 and 3's bucket files were only theirs
    # both retained snapshots read fine afterwards
    assert t.read().count() == 13
    assert t.at_version(4).read().count() == 12
    # idempotent: nothing further to reclaim
    assert t.vacuum(older_than_s=0) == []
    assert n_files_before > sum(
        len(fs) for fs in (os.listdir(os.path.join(t.path, "data", d))
                           for d in os.listdir(os.path.join(t.path, "data")))
    )


def test_committer_scoped_to_table_writes(spark, tmp_path):
    """Review-caught (round 3): committer v2 + no-_SUCCESS must apply ONLY
    to manifest-gated table writes (per-write options), not session-wide —
    plain parquet outputs (e.g. curate's corpus export) rely on the default
    committer's staging-dir invisibility and _SUCCESS completeness marker."""
    import glob as g

    t = _mk(spark, str(tmp_path / "t"))
    t.append_bucketed(_rows(spark))
    tx_dirs = g.glob(os.path.join(t.path, "data", "tx-*"))
    assert tx_dirs
    # table write: no _SUCCESS (the per-write option took effect)
    assert not g.glob(os.path.join(tx_dirs[0], "_SUCCESS"))
    # plain write through the same session: default committer, _SUCCESS kept
    plain = str(tmp_path / "plain")
    spark.range(5).write.parquet(plain)
    assert os.path.exists(os.path.join(plain, "_SUCCESS"))


@pytest.mark.parametrize("write_mode", ["cow", "mor"])
def test_committed_lineage_is_the_manifest_on_disk(spark, tmp_path, write_mode):
    """The apply keeps adding to its lineage record after the commit
    (counters, timings); the table's in-memory manifest must still hold
    exactly what the committed manifest file holds."""
    from migration_pair_spark import synth
    from migration_pair_spark.cdc.apply import apply_cdc_batch
    from migration_pair_spark.cdc.runner import PAGES_SCHEMA

    events = spark.createDataFrame(
        synth.make_change_events(200, 30, seed=11),
        schema="change_lsn long, op string, url string, warc_ts timestamp, "
        "html binary, lang string, schema_epoch int",
    ).withColumn("language", F.lit(None).cast("string")).withColumn(
        "fetch_status", F.lit(None).cast("long")
    )
    t = LakeTable.create(
        spark, str(tmp_path / "t"), PAGES_SCHEMA, key_col="url", n_buckets=4
    )
    lin = apply_cdc_batch(t, events, batch_id=0, write_mode=write_mode)
    assert "rows_upserted" in lin and "phase_ms" in lin
    assert t.manifest["lineage"] == t.manifest_at(t.version)["lineage"]
    assert "write_phases" not in t.manifest["lineage"]
