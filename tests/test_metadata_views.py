"""Metadata views (LakeTable.history / files): one row per committed
snapshot / per data file, built from the retained manifests."""

from __future__ import annotations

import json

import pytest

from migration_pair_spark import synth
from migration_pair_spark.cdc.runner import CdcPipeline
from migration_pair_spark.lakehouse.table import LakeTable


@pytest.mark.parametrize("write_mode", ["cow", "mor"])
def test_history_and_files_views(spark, tmp_path, write_mode):
    ev = str(tmp_path / "events")
    synth.write_change_stream(ev, 300, 40, 3, seed=21, evolution=True)
    p = CdcPipeline(
        table_path=str(tmp_path / "t"), n_buckets=4,
        stats_cols=("warc_ts", "_lsn"), write_mode=write_mode,
    )
    p.run_stream(spark, ev, str(tmp_path / "ck"))
    t = LakeTable.load(spark, p.table_path)
    assert t.is_merge_on_read == (write_mode == "mor")
    before = t.version
    compacted = {int(b) for b, fs in t.manifest["buckets"].items() if fs}
    t.compact(sort_by=["warc_ts"])
    # a compaction is ONE snapshot, and it leaves no compacted bucket
    # flagged merge-on-read
    assert t.version == before + 1
    assert not compacted & set(t.manifest["mor_buckets"])
    assert not t.is_merge_on_read

    h = {r["version"]: r for r in t.history().collect()}
    assert sorted(h) == t.snapshot_versions()
    assert h[1]["operation"] == "create" and h[1]["parent"] is None
    applies = [r for r in h.values() if r["operation"] == "cdc-apply"]
    assert len(applies) == 3
    # evolution commits carry their OWN lineage, not the parent apply's
    evolves = [r for r in h.values() if r["operation"] == "evolve"]
    assert len(evolves) == 2  # epochs 2 and 3
    assert "schema_evolution" in json.loads(evolves[0]["lineage_json"])
    assert [r["version"] for r in h.values() if r["operation"] == "compact"] == [
        max(h)
    ]
    # commit clock present and monotone over the chain
    ts = [h[v]["committed_at_ms"] for v in sorted(h)]
    assert all(x is not None for x in ts) and ts == sorted(ts)
    # version chain links
    for v in sorted(h)[1:]:
        assert h[v]["parent"] == v - 1
    # lineage rides along for the applies
    lin = json.loads(applies[0]["lineage_json"])
    assert "lsn_min" in lin and "rows_in_batch" in lin
    # zone maps make row counts exact: history n_rows == actual rows
    cur = h[max(h)]
    assert cur["n_rows"] == t.read(include_tombstones=True).count()

    f = t.files().collect()
    assert len(f) == sum(len(fs) for fs in t.manifest["buckets"].values())
    assert all(r["n_rows"] >= 1 for r in f)
    stats = json.loads(f[0]["stats_json"])
    assert "_lsn" in stats and "warc_ts" in stats
    assert sum(r["n_rows"] for r in f) == cur["n_rows"]
    # files() of an older snapshot reflects that snapshot
    f_old = t.files(version=2).collect()
    assert {r["path"] for r in f_old} != {r["path"] for r in f}


def test_history_without_stats_has_null_rows(spark, tmp_path):
    ev = str(tmp_path / "events")
    synth.write_change_stream(ev, 100, 20, 1, seed=22)
    p = CdcPipeline(table_path=str(tmp_path / "t"), n_buckets=2)  # no stats
    p.run_stream(spark, ev, str(tmp_path / "ck"))
    t = LakeTable.load(spark, p.table_path)
    rows = {r["version"]: r for r in t.history().collect()}
    assert rows[max(rows)]["n_rows"] is None
    assert all(r["stats_json"] is None for r in t.files().collect())


def test_history_labels_rescale_and_purge(spark, tmp_path):
    """Every rescale commit, the metadata-only cut-over included, is
    ``rescale``, and a purge commit is ``purge``, not a plain ``commit``."""
    pdf = synth.make_change_events(120, 30, seed=23)
    p = CdcPipeline(table_path=str(tmp_path / "t"), n_buckets=2)
    p.apply_batch(spark, spark.createDataFrame(pdf))
    t = LakeTable.load(spark, p.table_path)
    t.rescale(4)  # one parent-chunk commit, then the cut-over
    t.purge_keys([t.read().first()["url"]])
    ops = [r["operation"] for r in t.history().orderBy("version").collect()]
    assert ops[-3:] == ["rescale", "rescale", "purge"]


def test_history_labels_index_ingests_and_heals(spark, tmp_path):
    """Incremental index commits classify by their lineage keys: every
    family's ``*_ingest`` (a chunk-index ingest here) is ``dedup-ingest``
    and every ``*_heal`` is ``dedup-heal``, not a plain ``commit``."""
    import pytest

    from migration_pair_spark.operators.incremental import (
        IncrementalChunkIndex,
    )

    ix = IncrementalChunkIndex.create(
        spark, str(tmp_path / "ix"), corpus_buckets=2, index_buckets=2, w=3
    )

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    ix.ingest(docs([(0, "a b c d e f")]), "base")
    # crash between the corpus commit and the index append, then heal
    ix._append_index = lambda *a, **k: (_ for _ in ()).throw(
        RuntimeError("injected crash")
    )
    with pytest.raises(RuntimeError, match="injected crash"):
        ix.ingest(docs([(1, "a b c x y z")]), "b1")
    del ix._append_index
    assert ix.ingest(docs([(1, "a b c x y z")]), "b1")["healed"] == "index"

    def ops(table):
        return [
            (r["operation"], json.loads(r["lineage_json"] or "{}"))
            for r in table.history().orderBy("version").collect()
        ]

    corpus, index = ops(ix.corpus), ops(ix.index)
    assert [op for op, _ in corpus] == ["create", "dedup-ingest", "dedup-ingest"]
    assert [op for op, _ in index] == ["create", "dedup-ingest", "dedup-heal"]
    assert index[1][1]["chunk_ingest"] == "base"
    assert json.loads(index[2][1]["chunk_heal"]) == [[1, 1]]
