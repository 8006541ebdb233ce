"""Zone maps: per-file column min/max in the manifest + stats-pruned reads.

Contract (lakehouse/table.py): tables created with ``stats_cols`` record
each written file's footer min/max for those columns at every commit;
``read_range(col, lo, hi)`` is semantically ``read().filter(BETWEEN)`` but
skips files whose zone proves no overlap. Pruning is conservative (missing
stats => keep), sound across rename evolution (stats recorded under
write-time names, mapped through the rename history), and disabled for MOR
buckets (the winner is only known after resolving all delta files).
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from migration_pair_spark import synth
from migration_pair_spark.cdc.runner import CdcPipeline
from migration_pair_spark.lakehouse.table import LakeTable, RenameColumn

SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("v", T.LongType(), True),
    ]
)

BASE = datetime.datetime(2024, 1, 1)


def _make(spark, path, stats_cols=("ts", "v", "_lsn")):
    return LakeTable.create(
        spark, path, SCHEMA, key_col="key", n_buckets=4, stats_cols=stats_cols
    )


def _rows(vals, lsn, v_col="v"):
    return [
        {
            "key": f"k{v}",
            "ts": BASE + datetime.timedelta(minutes=v),
            v_col: v,
            "_lsn": lsn,
            "_deleted": False,
        }
        for v in vals
    ]


def _commit(spark, t, vals, lsn, v_col="v"):
    phys = t._physical_schema(t.manifest["schema_version"])
    df = spark.createDataFrame(_rows(vals, lsn, v_col), phys).withColumn(
        "_bucket", t.bucket_expr()
    )
    t.append_buckets(df)


def _all_entries(t):
    return [e for fs in t.manifest["buckets"].values() for e in fs]


def _sorted(df, *cols):
    return [tuple(r) for r in df.orderBy(*cols).collect()]


def test_stats_recorded_and_exact(spark, tmp_path):
    t = _make(spark, str(tmp_path / "t"))
    vals = [3, 17, 42]
    _commit(spark, t, vals, lsn=7)
    entries = _all_entries(t)
    assert entries and all("stats" in e and e["rows"] >= 1 for e in entries)
    lo_v = min(e["stats"]["v"][0] for e in entries)
    hi_v = max(e["stats"]["v"][1] for e in entries)
    assert (lo_v, hi_v) == (3, 42)
    # timestamps encode as epoch micros
    lo_ts = min(e["stats"]["ts"][0] for e in entries)
    expect = int((BASE + datetime.timedelta(minutes=3)).timestamp() * 1e6)
    assert lo_ts == expect
    assert all(e["stats"]["_lsn"] == [7, 7] for e in entries)


def test_prune_and_read_equivalence(spark, tmp_path):
    t = _make(spark, str(tmp_path / "t"))
    for i in range(4):  # disjoint v zones per commit: [0..24], [25..49], ...
        _commit(spark, t, range(i * 25, (i + 1) * 25), lsn=i + 1)
    total = len(_all_entries(t))
    kept, skipped = t.prune_entries(_all_entries(t), "v", 30, 40)
    assert skipped > 0 and len(kept) + skipped == total
    got = _sorted(t.read_range("v", 30, 40), "v")
    want = _sorted(t.read().filter(F.col("v").between(30, 40)), "v")
    assert got == want and len(got) == 11
    # a time window prunes too (ts is monotone in v here)
    w0, w1 = BASE + datetime.timedelta(minutes=10), BASE + datetime.timedelta(minutes=60)
    _, skipped_ts = t.prune_entries(_all_entries(t), "ts", w0, w1)
    assert skipped_ts > 0
    got = _sorted(t.read_range("ts", w0, w1), "v")
    want = _sorted(t.read().filter(F.col("ts").between(w0, w1)), "v")
    assert got == want
    # open bounds
    got = _sorted(t.read_range("v", lo=80), "v")
    want = _sorted(t.read().filter(F.col("v") >= 80), "v")
    assert got == want
    got = _sorted(t.read_range("v", hi=5), "v")
    want = _sorted(t.read().filter(F.col("v") <= 5), "v")
    assert got == want
    # a zone miss returns empty without error
    assert t.read_range("v", 1000, 2000).count() == 0


def test_nulls_never_match_and_all_null_file_kept(spark, tmp_path):
    t = _make(spark, str(tmp_path / "t"))
    phys = t._physical_schema(1)
    rows = _rows([1, 2], lsn=1) + [
        {"key": "knull", "ts": None, "v": None, "_lsn": 1, "_deleted": False}
    ]
    df = spark.createDataFrame(rows, phys).withColumn("_bucket", t.bucket_expr())
    t.append_buckets(df)
    got = _sorted(t.read_range("v", 0, 10), "key")
    want = _sorted(t.read().filter(F.col("v").between(0, 10)), "key")
    assert got == want
    assert all(r[0] != "knull" for r in got)


def test_create_validation(spark, tmp_path):
    bin_schema = T.StructType(
        [T.StructField("key", T.StringType(), False),
         T.StructField("blob", T.BinaryType(), True)]
    )
    with pytest.raises(ValueError, match="unsupported type"):
        LakeTable.create(
            spark, str(tmp_path / "a"), bin_schema, key_col="key",
            stats_cols=("blob",),
        )
    with pytest.raises(ValueError, match="unknown column"):
        LakeTable.create(
            spark, str(tmp_path / "b"), SCHEMA, key_col="key",
            stats_cols=("nope",),
        )
    with pytest.raises(ValueError, match="unknown column"):
        _make(spark, str(tmp_path / "c")).read_range("nope", 1, 2)


def test_rename_evolution_maps_stats_names(spark, tmp_path):
    t = _make(spark, str(tmp_path / "t"), stats_cols=("v",))
    _commit(spark, t, range(0, 25), lsn=1)  # files record stats under "v"
    t.evolve_schema([RenameColumn("v", "val")])
    _commit(spark, t, range(25, 50), lsn=2, v_col="val")  # stats under "val"
    entries = _all_entries(t)
    assert any("v" in (e.get("stats") or {}) for e in entries)
    assert any("val" in (e.get("stats") or {}) for e in entries)
    # a post-rename range read prunes BOTH generations through the mapping
    kept, skipped = t.prune_entries(entries, "val", 10, 12)
    assert skipped > 0
    got = _sorted(t.read_range("val", 10, 30), "val")
    want = _sorted(t.read().filter(F.col("val").between(10, 30)), "val")
    assert got == want and len(got) == 21


def test_mor_buckets_skip_pruning_but_stay_correct(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, key_col="key", n_buckets=4,
        stats_cols=("ts", "v", "_lsn"), lww_order=("ts", "_lsn"),
    )
    # initial snapshot: k1 has v=5 (inside the query range)
    df = spark.createDataFrame(_rows([5, 70], lsn=1), t._physical_schema(1))
    t.append_bucketed(df.drop("_lsn", "_deleted").select("key", "ts", "v"))
    # delta: k5 moves OUT of range (v=500, higher lsn wins under LWW)
    upd = [{"key": "k5", "ts": BASE + datetime.timedelta(days=1), "v": 500,
            "_lsn": 2, "_deleted": False}]
    d = spark.createDataFrame(upd, t._physical_schema(1)).withColumn(
        "_bucket", t.bucket_expr()
    )
    buckets = [r["_bucket"] for r in d.select("_bucket").distinct().collect()]
    t.append_delta_buckets(d, buckets)
    assert t.is_merge_on_read
    got = _sorted(t.read_range("v", 0, 100), "key")
    want = _sorted(t.read().filter(F.col("v").between(0, 100)), "key")
    assert got == want
    # k5's winner (v=500) is out of range: the key must NOT appear even
    # though its base file's zone [5, 70] overlaps the range
    assert all(r[0] != "k5" for r in got)
    assert any(r[0] == "k70" for r in got)


def test_cdc_pipeline_lsn_and_time_zonemaps(spark, tmp_path):
    ev = str(tmp_path / "events")
    synth.write_change_stream(ev, 300, 40, 3, seed=11)
    p = CdcPipeline(
        table_path=str(tmp_path / "t"), n_buckets=4,
        stats_cols=("warc_ts", "_lsn"),
    )
    p.run_stream(spark, ev, str(tmp_path / "ck"))
    t = LakeTable.load(spark, p.table_path)
    entries = _all_entries(t)
    assert all("stats" in e for e in entries)
    # one late single-url event: its commit rewrites ONE bucket; every other
    # bucket's files keep their pre-existing _lsn zones (<= 300) and must
    # prune out of an "changes since 301" incremental sweep
    late = spark.createDataFrame(
        [(1000, "update", "https://site0.example/p/0",
          datetime.datetime(2024, 2, 1), b"<html><body>late</body></html>",
          "en", 1)],
        "change_lsn long, op string, url string, warc_ts timestamp, "
        "html binary, lang string, schema_epoch int",
    )
    p.apply_batch(spark, late, batch_id=99)
    t.refresh()
    entries = _all_entries(t)
    kept, skipped = t.prune_entries(entries, "_lsn", lo=301)
    assert skipped > 0 and len(kept) < len(entries)
    # incremental sweep: rows (re)written after LSN 300 — equivalence
    got = _sorted(
        t.read_range("_lsn", lo=301, include_tombstones=True), "url"
    )
    want = _sorted(
        t.read(include_tombstones=True).filter(F.col("_lsn") >= 301), "url"
    )
    assert got == want
    assert [r[0] for r in got] == ["https://site0.example/p/0"]


def test_prune_keeps_file_on_unorderable_bound(spark, tmp_path):
    """A bound whose encoding doesn't order against the stored stats (e.g.
    a string bound on a timestamp column) must disable pruning for that
    file, never raise — pruning is only ever an optimization."""
    t = _make(spark, str(tmp_path / "t"))
    _commit(spark, t, [1, 2, 3], lsn=1)
    entries = _all_entries(t)
    kept, skipped = t.prune_entries(entries, "ts", lo="2024-01-01")
    assert skipped == 0 and kept == entries


def test_string_zone_prefix_prune(spark, tmp_path):
    """String zone maps support prefix scans (url ranges): files whose
    [min, max] key range can't contain the prefix window prune out."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, key_col="key", n_buckets=1,
        stats_cols=("key",),
    )
    phys = t._physical_schema(1)
    for prefix in ("alpha", "mid", "zulu"):  # one file per commit, 1 bucket
        rows = [
            {"key": f"{prefix}/{i:03d}", "ts": BASE, "v": i,
             "_lsn": 1, "_deleted": False}
            for i in range(20)
        ]
        df = spark.createDataFrame(rows, phys).coalesce(1).withColumn(
            "_bucket", t.bucket_expr()
        )
        t.append_buckets(df)
    entries = _all_entries(t)
    lo, hi = "mid/", "mid/￿"
    kept, skipped = t.prune_entries(entries, "key", lo, hi)
    assert skipped == len(entries) - 1 and len(kept) == 1
    got = _sorted(t.read_range("key", lo, hi), "key")
    want = _sorted(
        t.read().filter(F.col("key").between(lo, hi)), "key"
    )
    assert got == want and len(got) == 20


def test_lookup_prunes_by_key_zone_after_clustering(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, key_col="key", n_buckets=2,
        stats_cols=("key",), lww_order=("ts", "_lsn"),
    )
    phys = t._physical_schema(1)
    for c in range(3):
        rows = [
            {"key": f"k{i:04d}", "ts": BASE, "v": i, "_lsn": c + 1,
             "_deleted": False}
            for i in range(c, 120, 3)
        ]
        df = spark.createDataFrame(rows, phys).coalesce(1).withColumn(
            "_bucket", t.bucket_expr()
        )
        t.append_buckets(df)
    t.compact(sort_by=["key"], max_rows_per_file=10)
    got = [tuple(r) for r in t.lookup("k0042").collect()]
    assert got == [("k0042", BASE, 42)]
    # the probed bucket's files pruned down to the single covering run
    bucket = int(
        spark.range(1)
        .select(F.pmod(F.xxhash64(F.lit("k0042")), F.lit(2)).alias("b"))
        .collect()[0]["b"]
    )
    entries = t.manifest["buckets"][str(bucket)]
    kept, skipped = t.prune_entries(entries, "key", "k0042", "k0042")
    assert len(kept) == 1 and skipped == len(entries) - 1 and len(entries) > 3
    # missing key
    assert t.lookup("nope").count() == 0
