"""Debezium-envelope JSON source (sources/debezium.py).

Contract under test:
- the parser decodes an INDEPENDENTLY-encoded envelope stream (stdlib json/
  base64 in synth.write_debezium_stream) to rows byte-identical to the
  canonical parquet change stream generated from the same seed;
- the engine's own serializer is the parser's exact inverse;
- the CDC pipeline over a debezium-json stream converges to the SAME final
  table state as the parquet pipeline (including mid-stream schema
  evolution), and stays exactly-once under checkpoint-wiped redelivery;
- malformed lines follow the configured policy (fail loudly / skip /
  dead-letter with lineage counts), and never reach the table;
- parsing is pure Catalyst — no Python stage in the plan.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from migration_pair_spark import synth
from migration_pair_spark.cdc.apply import load_applied_ranges
from migration_pair_spark.cdc.runner import (
    CHANGE_STREAM_SCHEMA,
    CdcPipeline,
    pages_wire_payload_schema,
)
from migration_pair_spark.lakehouse.table import LakeTable
from migration_pair_spark.sources.debezium import (
    parse_debezium,
    read_debezium_jsonl,
    to_debezium_json,
)

N_EVENTS, N_URLS, N_FILES = 400, 60, 4

CANON_COLS = ["change_lsn", "op", "url", "warc_ts", "html", "lang", "schema_epoch"]


@pytest.fixture(scope="module")
def twin_dirs(tmp_path_factory):
    """The same seeded change stream in both wire formats."""
    root = tmp_path_factory.mktemp("dbz")
    jd, pd_ = str(root / "jsonl"), str(root / "parquet")
    full = synth.write_debezium_stream(jd, N_EVENTS, N_URLS, N_FILES, seed=42)
    synth.write_change_stream(pd_, N_EVENTS, N_URLS, N_FILES, seed=42)
    return jd, pd_, full


def _state(spark, table_path):
    t = LakeTable.load(spark, table_path)
    rows = t.read().orderBy("url").collect()
    return [tuple(r) for r in rows]


def test_parse_matches_parquet_twin(spark, twin_dirs):
    jd, pd_, full = twin_dirs
    parsed = read_debezium_jsonl(spark, jd, pages_wire_payload_schema())
    twin = spark.read.schema(CHANGE_STREAM_SCHEMA).parquet(pd_)
    a = parsed.select(*CANON_COLS).orderBy("change_lsn").collect()
    b = twin.select(*CANON_COLS).orderBy("change_lsn").collect()
    assert len(a) == len(full)
    assert a == b


def test_serializer_is_parser_inverse(spark, twin_dirs):
    jd, _, _ = twin_dirs
    ps = pages_wire_payload_schema()
    canon = read_debezium_jsonl(spark, jd, ps)
    back = parse_debezium(to_debezium_json(canon, ps, ts_ms_col="warc_ts"), ps)
    a = canon.select(*CANON_COLS).orderBy("change_lsn").collect()
    b = back.select(*CANON_COLS).orderBy("change_lsn").collect()
    assert a == b


def test_parse_plan_has_no_python_stage(spark, twin_dirs):
    jd, _, _ = twin_dirs
    parsed = read_debezium_jsonl(spark, jd, pages_wire_payload_schema())
    jvm = parsed.sparkSession._jvm
    plan = parsed._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        assert marker not in plan


def test_stream_converges_to_parquet_pipeline_state(spark, twin_dirs, tmp_path):
    jd, pd_, _ = twin_dirs
    p_dbz = CdcPipeline(
        table_path=str(tmp_path / "t_dbz"), n_buckets=8,
        source_format="debezium-json",
    )
    lineages = p_dbz.run_stream(spark, jd, str(tmp_path / "ck_dbz"))
    p_pq = CdcPipeline(table_path=str(tmp_path / "t_pq"), n_buckets=8)
    p_pq.run_stream(spark, pd_, str(tmp_path / "ck_pq"))
    assert _state(spark, p_dbz.table_path) == _state(spark, p_pq.table_path)
    assert len([ln for ln in lineages if not ln.get("skipped")]) == N_FILES
    assert all("rows_malformed" not in ln for ln in lineages)


def test_redelivery_stays_exactly_once(spark, twin_dirs, tmp_path):
    jd, _, _ = twin_dirs
    p = CdcPipeline(
        table_path=str(tmp_path / "t"), n_buckets=8,
        source_format="debezium-json",
    )
    p.run_stream(spark, jd, str(tmp_path / "ck1"))
    before = _state(spark, p.table_path)
    v_before = LakeTable.load(spark, p.table_path).version
    # wipe the checkpoint: full redelivery; the LSN gate must skip everything
    lineages = p.run_stream(spark, jd, str(tmp_path / "ck2"))
    assert _state(spark, p.table_path) == before
    assert all(ln.get("skipped") for ln in lineages)
    assert LakeTable.load(spark, p.table_path).version == v_before


def test_evolution_through_envelopes(spark, tmp_path):
    jd, pd_ = str(tmp_path / "jsonl"), str(tmp_path / "parquet")
    synth.write_debezium_stream(jd, N_EVENTS, N_URLS, 5, seed=7, evolution=True)
    synth.write_change_stream(pd_, N_EVENTS, N_URLS, 5, seed=7, evolution=True)
    p_dbz = CdcPipeline(
        table_path=str(tmp_path / "t_dbz"), n_buckets=8,
        source_format="debezium-json",
    )
    p_dbz.run_stream(spark, jd, str(tmp_path / "ck_dbz"))
    p_pq = CdcPipeline(table_path=str(tmp_path / "t_pq"), n_buckets=8)
    p_pq.run_stream(spark, pd_, str(tmp_path / "ck_pq"))
    t = LakeTable.load(spark, p_dbz.table_path)
    assert "language" in [f.name for f in t.schema.fields]  # epoch-3 rename
    assert _state(spark, p_dbz.table_path) == _state(spark, p_pq.table_path)


BAD_LINES = [
    "this is not json",
    '{"op": "x", "source": {"lsn": 9001}, "after": {"url": "u"}}',  # bad op
    '{"op": "c", "after": {"url": "https://x/1"}}',  # missing lsn
    '{"op": "c", "source": {"lsn": 9002}}',  # neither before nor after
]


def _write_bad_file(jd: str) -> str:
    """A late-arriving file of only-bad lines (plus one good one so the
    batch isn't empty)."""
    good = (
        '{"op": "c", "source": {"lsn": 9999, "schema_epoch": 1},'
        ' "after": {"url": "https://late.example/x", "warc_ts": 1704067200000,'
        ' "lang": "en"}}'
    )
    path = os.path.join(jd, "events-99999.jsonl")
    with open(path, "w") as f:
        f.write("\n".join(BAD_LINES + [good]) + "\n")
    latest = max(os.stat(p).st_mtime for p in glob.glob(os.path.join(jd, "*.jsonl")))
    os.utime(path, (latest + 1, latest + 1))
    return path


def test_malformed_error_policy_fails_loudly(spark, tmp_path):
    jd = str(tmp_path / "jsonl")
    synth.write_debezium_stream(jd, 100, 20, 2, seed=3)
    _write_bad_file(jd)
    p = CdcPipeline(
        table_path=str(tmp_path / "t"), n_buckets=4,
        source_format="debezium-json",  # on_malformed defaults to "error"
    )
    with pytest.raises(Exception, match="malformed debezium envelope"):
        p.run_stream(spark, jd, str(tmp_path / "ck"))
    # the micro-batch holding the bad lines committed nothing: none of its
    # LSNs (the good late line's 9999 included) is applied, its row absent
    t = LakeTable.load(spark, p.table_path)
    applied = load_applied_ranges(t.properties)
    assert applied and not any(
        lo <= lsn <= hi for lo, hi in applied for lsn in (9001, 9002, 9999)
    )
    assert t.read().filter(F.col("url") == "https://late.example/x").count() == 0


def test_malformed_null_lsn_fails_split_batch_before_any_commit(
    spark, tmp_path
):
    """A bad line with no LSN in a micro-batch that max_events_per_batch
    splits: the sub-batches' LSN-range filters never see it, so the split
    path's bounds aggregate must count it and fail the whole batch before
    the first sub-batch commits."""
    jd = str(tmp_path / "jsonl")
    synth.write_debezium_stream(jd, 100, 20, 1, seed=3)
    (path,) = glob.glob(os.path.join(jd, "*.jsonl"))
    with open(path, "a") as f:
        f.write(BAD_LINES[2] + "\n")  # missing lsn
    p = CdcPipeline(
        table_path=str(tmp_path / "t"), n_buckets=4,
        source_format="debezium-json", max_events_per_batch=30,
    )
    with pytest.raises(Exception, match="malformed debezium envelope"):
        p.run_stream(spark, jd, str(tmp_path / "ck"))
    t = LakeTable.load(spark, p.table_path)
    assert t.version == 1  # the empty table ensure_table created
    assert not load_applied_ranges(t.properties)


def test_malformed_dead_letter_policy(spark, tmp_path):
    jd = str(tmp_path / "jsonl")
    full = synth.write_debezium_stream(jd, 100, 20, 2, seed=3)
    _write_bad_file(jd)
    dlq = str(tmp_path / "dlq")
    p = CdcPipeline(
        table_path=str(tmp_path / "t"), n_buckets=4,
        source_format="debezium-json",
        on_malformed="dead_letter", dead_letter_dir=dlq,
    )
    lineages = p.run_stream(spark, jd, str(tmp_path / "ck"))
    # the bad lines landed in the DLQ, verbatim
    dlq_lines = {r.value for r in spark.read.text(dlq).collect()}
    assert dlq_lines == set(BAD_LINES)
    assert sum(ln.get("rows_malformed", 0) for ln in lineages) == len(BAD_LINES)
    # the good rows (stream + the one good late row) all applied
    t = LakeTable.load(spark, p.table_path)
    urls = {r.url for r in t.read().select("url").collect()}
    assert "https://late.example/x" in urls
    oracle = synth.oracle_final_state(full)
    assert urls == set(oracle["url"]) | {"https://late.example/x"}


def test_batch_reader_policies(spark, tmp_path):
    jd = str(tmp_path / "jsonl")
    synth.write_debezium_stream(jd, 50, 10, 1, seed=5)
    _write_bad_file(jd)
    ps = pages_wire_payload_schema()
    with pytest.raises(ValueError, match="malformed debezium envelope"):
        read_debezium_jsonl(spark, jd, ps, on_malformed="error").count()
    n_good = read_debezium_jsonl(spark, jd, ps, on_malformed="skip").count()
    assert n_good == 50 + 1
    dlq = str(tmp_path / "dlq")
    read_debezium_jsonl(
        spark, jd, ps, on_malformed="dead_letter", dead_letter_dir=dlq
    ).count()
    assert spark.read.text(dlq).count() == len(BAD_LINES)
    with pytest.raises(ValueError, match="requires dead_letter_dir"):
        read_debezium_jsonl(spark, jd, ps, on_malformed="dead_letter")
    with pytest.raises(ValueError, match="must be one of"):
        read_debezium_jsonl(spark, jd, ps, on_malformed="bogus")
