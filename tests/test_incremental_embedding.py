"""Incremental embedding near-dup against the persisted SRP index
(operators/incremental.IncrementalEmbeddingIndex): sequential-vs-batch
equivalence against the batch operator, bucket-pruned probe pin, replay
no-op, crash-heal, and the monotone-id gate."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from migration_pair_spark.operators import similarity as sim
from migration_pair_spark.operators.incremental import IncrementalEmbeddingIndex

THR = 0.35
DIM = 16


def _vec(seed: int) -> list[float]:
    """Deterministic pseudo-random unit-ish vector."""
    return [
        round(math.sin(seed * 37 + d * 101) + math.cos(seed * 13 + d * 7), 4)
        for d in range(DIM)
    ]


def _near(v: list[float], eps: float) -> list[float]:
    return [round(x * (1 + eps) + (0.001 if i == 0 else 0), 4) for i, x in enumerate(v)]


BASE = [(i, _vec(i)) for i in range(8)]
# 10 is a planted near-dup of base vec 3; 11 is fresh
BATCH1 = [(10, _near(_vec(3), 0.01)), (11, _vec(40))]
# 20 near-dups batch1's 10 (hence also 3); 21 fresh
BATCH2 = [(20, _near(_vec(3), 0.02)), (21, _vec(50))]


def _df(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _pairs(df):
    return {(r["vec_a"], r["vec_b"], r["cosine"]) for r in df.collect()}


@pytest.fixture()
def index(spark, tmp_path):
    idx = IncrementalEmbeddingIndex.create(
        spark, str(tmp_path / "emb"), threshold=THR, dim=DIM,
        vector_buckets=8, index_buckets=16,
    )
    idx.ingest(_df(spark, BASE), "base")
    return idx


def test_sequential_equals_batch_operator(spark, tmp_path):
    """Union of two sequential ingests' pairs == one combined ingest ==
    the BATCH operator (neardup_pairs_lsh) over the full union, restricted
    to pairs touching the new batches — same weights, same verify."""
    seq = IncrementalEmbeddingIndex.create(
        spark, str(tmp_path / "seq"), threshold=THR, dim=DIM
    )
    seq.ingest(_df(spark, BASE), "base")
    r1 = seq.ingest(_df(spark, BATCH1), "b1")
    r2 = seq.ingest(_df(spark, BATCH2), "b2")

    one = IncrementalEmbeddingIndex.create(
        spark, str(tmp_path / "one"), threshold=THR, dim=DIM
    )
    one.ingest(_df(spark, BASE), "base")
    r12 = one.ingest(_df(spark, BATCH1 + BATCH2), "b12")
    assert _pairs(r1["pairs"]) | _pairs(r2["pairs"]) == _pairs(r12["pairs"])

    full = _df(spark, BASE + BATCH1 + BATCH2)
    batch_pairs = sim.neardup_pairs_lsh(
        full, threshold=THR, n_planes=seq.n_planes, n_tables=seq.n_tables,
        dim=DIM,
    )
    new_ids = {r[0] for r in BATCH1 + BATCH2}
    truth = {
        p for p in _pairs(batch_pairs) if p[0] in new_ids or p[1] in new_ids
    }
    assert _pairs(r12["pairs"]) == truth
    # the planted chain is actually exercised
    got = {(a, b) for a, b, _ in _pairs(r12["pairs"])}
    assert (3, 10) in got and (3, 20) in got and (10, 20) in got


def test_probe_is_bucket_pruned(spark, index):
    new = _df(spark, BATCH2)
    rows = index.index_rows(new).localCheckpoint()
    probe = index.probe_lake_buckets(rows)
    assert 0 < len(probe) < index.index.n_buckets
    all_files = {
        e["path"]
        for files in index.index.manifest["buckets"].values()
        for e in files
    }
    pruned = {
        f.split(index.index.path + "/", 1)[1]
        for f in index.index.read_buckets(probe).inputFiles()
    }
    assert pruned < all_files


def test_replay_heal_empty_and_gate(spark, index):
    # crash between the two commits, then heal
    boom = RuntimeError("crash before index append")
    orig = index._append_index
    index._append_index = lambda *a, **k: (_ for _ in ()).throw(boom)
    with pytest.raises(RuntimeError):
        index.ingest(_df(spark, BATCH1), "b1")
    index._append_index = orig
    res = index.ingest(_df(spark, BATCH1), "b1")
    assert res["replayed"] is True and res["healed"] == "index"
    # full replay: no-op
    vv, iv = index.vectors.version, index.index.version
    assert index.ingest(_df(spark, BATCH1), "b1")["replayed"] is True
    assert (index.vectors.version, index.index.version) == (vv, iv)
    # empty batch: clean no-op
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert index.ingest(empty, "quiet")["empty"] is True
    # gap-absorbed interval: a batch FULLY below the watermark is
    # indistinguishable from a redelivery and no-ops (same contract as the
    # text deduper's gate); a batch STRADDLING the applied boundary is a
    # delivery-order violation and fails loudly
    vv, iv = index.vectors.version, index.index.version
    assert index.ingest(_df(spark, [(4, _vec(4))]), "below")["replayed"] is True
    assert (index.vectors.version, index.index.version) == (vv, iv)
    with pytest.raises(ValueError, match="monotone"):
        index.ingest(
            _df(spark, [(4, _vec(4)), (30, _vec(30))]), "bad"
        )
    # and the healed index finds the cross-batch chain
    r2 = index.ingest(_df(spark, BATCH2), "b2")
    got = {(a, b) for a, b, _ in _pairs(r2["pairs"])}
    assert (10, 20) in got and (3, 20) in got
