"""Merge-on-read write mode: delta appends + LWW resolution at read time.

Same replay-equivalence bar as COW (test_replay.py): 1 batch == k batches ==
duplicate delivery == oracle; compaction folds deltas without changing the
visible state; COW and MOR runs of the same stream are indistinguishable to
readers.
"""

from __future__ import annotations

import pytest

from migration_pair_spark import synth
from migration_pair_spark.cdc.runner import CdcPipeline
from migration_pair_spark.functions.extract import extract_text
from migration_pair_spark.lakehouse.table import LakeTable

N_EVENTS, N_URLS, N_FILES = 700, 80, 4


@pytest.fixture(scope="module")
def stream_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("mor") / "events")
    full = synth.write_change_stream(d, N_EVENTS, N_URLS, N_FILES, seed=21)
    return d, full


def _state(spark, table_path):
    t = LakeTable.load(spark, table_path)
    pdf = t.read().toPandas().sort_values("url").reset_index(drop=True)
    return [
        (r.url, r.warc_ts, bytes(r.html) if r.html is not None else None, r.text, r.lang)
        for r in pdf.itertuples()
    ]


def _oracle(full):
    o = synth.oracle_final_state(full).sort_values("url")
    return [
        (r.url, r.warc_ts.to_pydatetime(), bytes(r.html), extract_text(r.html), r.lang)
        for r in o.itertuples()
    ]


def _pipe(tmp_path, name):
    return CdcPipeline(table_path=str(tmp_path / name), n_buckets=8, write_mode="mor")


def test_mor_one_batch_equals_oracle(spark, stream_dir, tmp_path):
    d, full = stream_dir
    pipe = _pipe(tmp_path, "one")
    lineage = pipe.apply_batch(spark, spark.read.parquet(d))
    assert not lineage["skipped"] and lineage["write_mode"] == "mor"
    assert _state(spark, pipe.table_path) == _oracle(full)


def test_mor_k_batches_and_duplicate_delivery(spark, stream_dir, tmp_path):
    d, full = stream_dir
    pipe = _pipe(tmp_path, "k")
    lins = pipe.run_stream(spark, d, str(tmp_path / "ck"), max_files_per_trigger=1)
    assert len(lins) == N_FILES and not any(l["skipped"] for l in lins)
    assert _state(spark, pipe.table_path) == _oracle(full)
    # duplicate delivery: fresh checkpoint, nothing re-applied
    lin2 = pipe.run_stream(spark, d, str(tmp_path / "ck2"), max_files_per_trigger=2)
    assert all(l["skipped"] for l in lin2)
    assert _state(spark, pipe.table_path) == _oracle(full)


def test_mor_appends_not_rewrites(spark, stream_dir, tmp_path):
    d, _ = stream_dir
    pipe = _pipe(tmp_path, "append")
    pipe.run_stream(spark, d, str(tmp_path / "ck"), max_files_per_trigger=1)
    t = LakeTable.load(spark, pipe.table_path)
    assert t.is_merge_on_read
    # file count grows with batches (deltas accumulate until compaction)
    n_files = sum(len(fs) for fs in t.manifest["buckets"].values())
    assert n_files >= N_FILES  # at least one delta file per applied batch


def test_mor_compaction_folds_without_changing_state(spark, stream_dir, tmp_path):
    d, full = stream_dir
    pipe = _pipe(tmp_path, "compact")
    pipe.run_stream(spark, d, str(tmp_path / "ck"), max_files_per_trigger=1)
    before = _state(spark, pipe.table_path)
    t = LakeTable.load(spark, pipe.table_path)
    t.compact()
    assert not t.is_merge_on_read
    assert _state(spark, pipe.table_path) == before == _oracle(full)
    # folded: at most one file per non-empty bucket
    non_empty = [fs for fs in t.manifest["buckets"].values() if fs]
    assert all(len(fs) == 1 for fs in non_empty)
    # incremental after compaction still works (mixed-mode lifecycle)
    more = synth.make_change_events(200, N_URLS, seed=99)
    more["change_lsn"] += N_EVENTS
    lin = pipe.apply_batch(spark, spark.createDataFrame(more))
    assert not lin["skipped"]
    assert LakeTable.load(spark, pipe.table_path).is_merge_on_read


def test_cow_apply_resolves_the_mor_buckets_it_rewrites(
    spark, stream_dir, tmp_path
):
    """A COW apply rewrites each touched bucket whole and one row per key,
    so the same commit takes those buckets out of ``mor_buckets``; buckets
    it did not touch keep their deltas and stay flagged."""
    from pyspark.sql import functions as F

    d, full = stream_dir
    events = spark.read.parquet(d)
    path = str(tmp_path / "mixed")
    tail = F.col("change_lsn") > N_EVENTS - 5
    CdcPipeline(table_path=path, n_buckets=8, write_mode="mor").apply_batch(
        spark, events.filter(~tail)
    )
    flagged = LakeTable.load(spark, path).mor_buckets
    lin = CdcPipeline(table_path=path, n_buckets=8, write_mode="cow").apply_batch(
        spark, events.filter(tail)
    )
    touched = {int(b) for b in lin["partition_counts"]}
    t = LakeTable.load(spark, path)
    assert touched and touched <= flagged
    assert t.mor_buckets == flagged - touched
    assert all(len(t.manifest["buckets"][str(b)]) == 1 for b in touched)
    assert _state(spark, path) == _oracle(full)


def test_resolve_applies_only_to_mor_buckets(spark, stream_dir, tmp_path):
    """``read_buckets(resolve=True)`` LWW-resolves exactly when a named
    bucket is in ``mor_buckets``: over the resolved buckets of a table that
    still holds merge-on-read ones it plans no aggregate and returns the
    same rows as the table's resolved read."""

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    def rows(df):
        return sorted((r.asDict() for r in df.collect()), key=lambda r: r["url"])

    d, _ = stream_dir
    pipe = _pipe(tmp_path, "rule")
    pipe.run_stream(spark, d, str(tmp_path / "ck"), max_files_per_trigger=1)
    t = LakeTable.load(spark, pipe.table_path)
    t.compact([b for b in sorted(t.mor_buckets) if b % 2 == 0])
    resolved = sorted(
        int(b)
        for b, fs in t.manifest["buckets"].items()
        if fs and int(b) not in t.mor_buckets
    )
    assert resolved and t.mor_buckets
    got = t.read_buckets(resolved, resolve=True)
    assert "Aggregate" not in plan(got)
    assert "Aggregate" in plan(t.read_buckets(sorted(t.mor_buckets), resolve=True))
    want = (
        t.read(include_tombstones=True)
        .where(t.bucket_expr().isin(resolved))
        .select(*got.columns)
    )
    assert rows(got) == rows(want)


def test_manifest_without_mor_buckets_is_refused(spark, tmp_path):
    """A manifest carrying only the retired table-wide ``mor`` flag cannot
    say which buckets need an LWW resolve: loading it fails loudly, naming
    the table, instead of reading unresolved deltas as rows."""
    path = str(tmp_path / "legacy")
    _pipe(tmp_path, "legacy").apply_batch(
        spark, spark.createDataFrame(synth.make_change_events(50, 10, seed=5))
    )
    t = LakeTable.load(spark, path)
    legacy = {k: v for k, v in t.manifest.items() if k != "mor_buckets"}
    legacy.update(version=t.version + 1, parent=t.version, mor=True)
    t._write_manifest(legacy)
    with pytest.raises(ValueError, match="legacy merge-on-read") as e:
        LakeTable.load(spark, path)
    assert path in str(e.value)


def test_cow_and_mor_agree(spark, stream_dir, tmp_path):
    d, full = stream_dir
    cow = CdcPipeline(table_path=str(tmp_path / "cow"), n_buckets=8, write_mode="cow")
    mor = _pipe(tmp_path, "mor2")
    cow.run_stream(spark, d, str(tmp_path / "ck_cow"), max_files_per_trigger=2)
    mor.run_stream(spark, d, str(tmp_path / "ck_mor"), max_files_per_trigger=2)
    assert _state(spark, cow.table_path) == _state(spark, mor.table_path)


def test_mor_with_schema_evolution(spark, tmp_path):
    d = str(tmp_path / "evo")
    full = synth.write_change_stream(d, 500, 70, 5, seed=31, evolution=True)
    pipe = CdcPipeline(table_path=str(tmp_path / "t"), n_buckets=8, write_mode="mor")
    pipe.run_stream(spark, d, str(tmp_path / "ck"), max_files_per_trigger=1)
    t = LakeTable.load(spark, pipe.table_path)
    res = t.read().toPandas().sort_values("url").reset_index(drop=True)
    oracle = synth.oracle_final_state(full).sort_values("url").reset_index(drop=True)
    assert list(res["url"]) == list(oracle["url"])
    assert list(res["language"]) == list(oracle["lang"])
    # compaction folds mixed-schema deltas onto the current schema
    t.compact()
    res2 = t.read().toPandas().sort_values("url").reset_index(drop=True)
    assert list(res2["url"]) == list(oracle["url"])
    assert list(res2["language"]) == list(oracle["lang"])
