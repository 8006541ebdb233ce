"""CLI dispatch (reference O13), frozen config (O14), compaction and time
travel on the lake table."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from migration_pair_spark import synth
from migration_pair_spark.config import EngineConfig
from migration_pair_spark.cdc.runner import CdcPipeline
from migration_pair_spark.lakehouse.table import LakeTable


def test_config_load_defaults_and_overrides(tmp_path):
    cfg = EngineConfig.load(None, n_buckets=64)
    assert cfg.n_buckets == 64
    p = tmp_path / "cfg.json"
    p.write_text(json.dumps({"csv_delimiter": ";"}))
    cfg2 = EngineConfig.load(str(p))
    assert cfg2.csv_delimiter == ";"
    with pytest.raises(ValueError, match="unknown config keys"):
        EngineConfig.load(None, nope=1)
    # a removed field is refused, not silently ignored
    p.write_text(json.dumps({"csv_delimiter": ";", "max_events_per_batch": 10}))
    with pytest.raises(ValueError, match="max_events_per_batch"):
        EngineConfig.load(str(p))
    with pytest.raises(Exception):  # frozen
        cfg.n_buckets = 1


def test_config_load_refuses_a_missing_file(tmp_path):
    """A mistyped ``--config`` path fails instead of running on defaults."""
    with pytest.raises(FileNotFoundError):
        EngineConfig.load(str(tmp_path / "typo.json"))


def _loaded_table(spark, tmp_path, n_events=400, n_urls=60):
    pdf = synth.make_change_events(n_events, n_urls, seed=9)
    pipe = CdcPipeline(table_path=str(tmp_path / "t"), n_buckets=4)
    pipe.apply_batch(spark, spark.createDataFrame(pdf))
    return LakeTable.load(spark, pipe.table_path), pdf


def test_compaction_preserves_data_and_reduces_files(spark, tmp_path):
    t, _ = _loaded_table(spark, tmp_path)
    before = t.read().orderBy("url").collect()
    files_before = sum(len(fs) for fs in t.manifest["buckets"].values())
    v = t.compact()
    assert v == t.version
    files_after = sum(len(fs) for fs in t.manifest["buckets"].values())
    assert files_after <= files_before
    non_empty = sum(1 for fs in t.manifest["buckets"].values() if fs)
    assert files_after == non_empty  # one file per non-empty bucket
    assert t.read().orderBy("url").collect() == before


def test_time_travel_snapshot(spark, tmp_path):
    t, pdf = _loaded_table(spark, tmp_path)
    v1 = t.version
    n1 = t.read().count()
    # second batch of fresh events on top
    pdf2 = synth.make_change_events(200, 60, seed=10)
    pdf2["change_lsn"] += pdf["change_lsn"].max()
    pipe = CdcPipeline(table_path=t.path, n_buckets=4)
    pipe.apply_batch(spark, spark.createDataFrame(pdf2))
    t.refresh()
    assert t.version > v1
    old = t.at_version(v1)
    assert old.read().count() == n1  # immutable history


def test_cli_backfill_and_export(spark, tmp_path, capsys):
    from migration_pair_spark.__main__ import main

    ev_dir = str(tmp_path / "events")
    synth.write_change_stream(ev_dir, 300, 50, n_files=2, seed=4)
    table_path = str(tmp_path / "pages")
    assert main(["backfill", "--events", ev_dir, "--table-path", table_path]) == 0
    lineage = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert lineage["rows_upserted"] > 0
    out_csv = str(tmp_path / "csv")
    assert main(
        ["snapshot-export", "--table-path", table_path, "--out", out_csv]
    ) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "url" in res["exported_columns"]
    assert main(["compact", "--table-path", table_path]) == 0


def test_cli_snapshot_roundtrip_with_delimiter(spark, tmp_path, capsys):
    import glob

    from migration_pair_spark.__main__ import main

    t, _ = _loaded_table(spark, tmp_path)
    out_csv = str(tmp_path / "csv")
    assert main([
        "snapshot-export", "--table-path", t.path, "--out", out_csv,
        "--delimiter", ";",
    ]) == 0
    capsys.readouterr()
    part = sorted(glob.glob(out_csv + "/part-*.csv"))[0]
    with open(part) as f:
        assert f.readline().strip().split(";")[0] == "url"
    copy = str(tmp_path / "copy")
    assert main([
        "snapshot-import", "--csv", out_csv, "--table-path", copy,
        "--delimiter", ";",
    ]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["rows"] == t.read().count()
    cols = ["url", "text"]
    got = LakeTable.load(spark, copy).read().select(cols)
    assert sorted(got.collect()) == sorted(t.read().select(cols).collect())


def test_point_lookup_prunes_to_one_bucket(spark, tmp_path):
    t, pdf = _loaded_table(spark, tmp_path)
    oracle = synth.oracle_final_state(pdf)
    url = oracle["url"].iloc[0]
    got = t.lookup(url).collect()
    assert len(got) == 1 and got[0].url == url
    # a deleted url returns nothing
    deleted = set(pdf["url"]) - set(oracle["url"])
    if deleted:
        assert t.lookup(next(iter(deleted))).count() == 0
    # missing key returns empty, not error
    assert t.lookup("https://nope.example/").count() == 0


def test_cli_describe(spark, tmp_path, capsys):
    from migration_pair_spark.__main__ import main

    t, _ = _loaded_table(spark, tmp_path)
    assert main(["describe", "--table-path", t.path]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["key_col"] == "url" and out["n_buckets"] == 4
    assert out["version"] >= 2 and out["files"] > 0
    assert "engine.max_lsn" in out["properties"]


def test_cli_retention_expires_and_vacuums(spark, tmp_path, capsys):
    from migration_pair_spark.__main__ import main

    t, _ = _loaded_table(spark, tmp_path)
    for n in (5, 6):  # extra COW snapshots so there is history to expire
        t.append_bucketed(
            spark.range(n).select(
                F.concat(F.lit("u/"), F.col("id")).alias("url"),
                F.current_timestamp().alias("warc_ts"),
                F.lit(None).cast("binary").alias("html"),
                F.lit("t").alias("text"),
                F.lit("en").alias("lang"),
            )
        )
    rows_before = t.read().count()
    versions = t.snapshot_versions()
    assert main([
        "retention", "--table-path", t.path,
        "--keep-last", "2", "--older-than-s", "0",
    ]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["expired_snapshots"] == versions[:-2]
    assert out["retained_snapshots"] == versions[-2:]
    assert out["deleted_files"] > 0
    t.refresh()
    assert t.read().count() == rows_before  # current state untouched


def test_dedup_ingest_cli(spark, tmp_path, capsys):
    """dedup-ingest: create-on-first-use, two batches, replay no-op, and the
    accepted-corpus export."""
    import json

    from migration_pair_spark.__main__ import main

    docs1 = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog tonight"),
         (2, "the quick brown fox jumps over the lazy dog tonight"),
         (3, "completely different text about tidal pools and moss")],
        "doc_id long, text string",
    )
    docs2 = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog tonight"),
         (11, "yet another novel document on geothermal gradients")],
        "doc_id long, text string",
    )
    d1, d2 = str(tmp_path / "b1"), str(tmp_path / "b2")
    docs1.write.parquet(d1)
    docs2.write.parquet(d2)
    root = str(tmp_path / "ded")

    assert main(["dedup-ingest", "--root", root, "--docs", d1,
                 "--batch-id", "b1"]) == 0
    out1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out1["n_new"] == 3 and out1["n_rejected"] == 1  # 2 dups 1

    exp = str(tmp_path / "accepted")
    assert main(["dedup-ingest", "--root", root, "--docs", d2,
                 "--batch-id", "b2", "--export-accepted", exp]) == 0
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["n_rejected"] == 1  # 10 dups the indexed 1
    accepted = {r.doc_id for r in spark.read.parquet(exp).collect()}
    assert accepted == {1, 3, 11}

    # replay: no re-ingest
    assert main(["dedup-ingest", "--root", root, "--docs", d2,
                 "--batch-id", "b2"]) == 0
    out3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out3["replayed"] is True


def test_chunk_ingest_cli(spark, tmp_path, capsys):
    """chunk-ingest: create-on-first-use, span rewrite across batches,
    replay no-op, rewritten export."""
    import json

    from migration_pair_spark.__main__ import main

    docs1 = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "p q r s t u")],
        "doc_id long, text string",
    )
    docs2 = spark.createDataFrame(
        [(10, "a b c x y z"), (11, "d e f a b c")],
        "doc_id long, text string",
    )
    d1, d2 = str(tmp_path / "b1"), str(tmp_path / "b2")
    docs1.write.parquet(d1)
    docs2.write.parquet(d2)
    root = str(tmp_path / "cidx")

    assert main(["chunk-ingest", "--root", root, "--docs", d1,
                 "--batch-id", "b1", "--w", "3"]) == 0
    out1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out1["n_new"] == 2 and out1["n_chunks"] == 4 and out1["n_kept"] == 4

    exp = str(tmp_path / "rewritten")
    assert main(["chunk-ingest", "--root", root, "--docs", d2,
                 "--batch-id", "b2", "--export-rewritten", exp]) == 0
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["n_chunks"] == 4 and out2["n_kept"] == 1
    got = {r.doc_id: r.deduped_text for r in spark.read.parquet(exp).collect()}
    assert got == {10: "x y z", 11: ""}

    assert main(["chunk-ingest", "--root", root, "--docs", d2,
                 "--batch-id", "b2"]) == 0
    out3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out3["replayed"] is True


def test_expect_flag_requires_name_equals_sql():
    """--expect without '=' must die as an ARGUMENT error naming the value,
    not an opaque dict() ValueError mid-pipeline (review-caught)."""
    import argparse

    from migration_pair_spark.__main__ import _parse_expectations

    p = argparse.ArgumentParser()
    assert _parse_expectations(p, ["a=x > 0", "b=y = 'v'"]) == {
        "a": "x > 0",
        "b": "y = 'v'",
    }
    with pytest.raises(SystemExit):
        _parse_expectations(p, ["missing_equals"])
    with pytest.raises(SystemExit):
        _parse_expectations(p, ["=pred_without_name"])


def test_lookup_cli_rejects_non_integer_key_for_int_table(spark, tmp_path):
    """--key on an integer-keyed table must fail as an argument error,
    not a raw int() traceback (review-caught)."""
    from pyspark.sql import types as T

    from migration_pair_spark.__main__ import main

    t = LakeTable.create(
        spark, str(tmp_path / "t"),
        T.StructType([T.StructField("k", T.LongType(), False)]),
        key_col="k", n_buckets=2,
    )
    with pytest.raises(SystemExit):
        main(["lookup", "--table-path", t.path, "--key", "abc"])
