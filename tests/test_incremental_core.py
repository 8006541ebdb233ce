"""The index-pair core the three incremental index families share
(operators/incremental.py ``_IndexPair``): the gate runs with AQE off, and
an ingest that fails after entering its session toggles — in the gate or
later — leaves the session config as it found it."""

from __future__ import annotations

import pytest

from migration_pair_spark.cdc import apply as cdc_apply
from migration_pair_spark.operators.incremental import (
    IncrementalChunkIndex,
    IncrementalDeduper,
    IncrementalEmbeddingIndex,
)

_DOCS = ("doc_id long, text string", [(1, "a b c d e f"), (2, "g h i j k l")])
FAMILIES = {
    "dedup": (IncrementalDeduper, {}, _DOCS),
    "chunk": (IncrementalChunkIndex, {}, _DOCS),
    "embedding": (
        IncrementalEmbeddingIndex,
        {"dim": 4},
        (
            "vec_id long, embedding array<float>",
            [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
        ),
    ),
}
_KEYS = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")


@pytest.mark.parametrize("fail", ["gate", "sizing", "body"])
@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_failed_ingest_restores_session_config(spark, tmp_path, family, fail):
    """``gate``: a batch with a duplicated id fails the gate's stats job,
    which runs with AQE already off. ``sizing``: rows_per_task = 0 raises
    while the batch is sized, after AQE is switched off. ``body``: the
    family's probe/verify body raises with both AQE off and the shuffle
    width scoped down. Either way AQE,
    the shuffle width and the refcounted AQE state are restored, and
    nothing is committed."""
    cls, kw, (ddl, rows) = FAMILIES[family]
    ix = cls.create(spark, str(tmp_path / family), **kw)
    before = {k: spark.conf.get(k) for k in _KEYS}
    if fail == "gate":
        rows = rows + rows[:1]
        gate, seen = ix._gate, []

        def spy(*a, **k):
            seen.append(spark.conf.get("spark.sql.adaptive.enabled"))
            return gate(*a, **k)

        ix._gate = spy
        err = ValueError
    elif fail == "sizing":
        ix.rows_per_task = 0
        err = ZeroDivisionError
    else:

        def boom(*a, **k):
            inside = {k: spark.conf.get(k) for k in _KEYS}
            assert inside["spark.sql.adaptive.enabled"] == "false"
            assert inside["spark.sql.shuffle.partitions"] == "1"
            raise RuntimeError("injected failure in the ingest body")

        ix._process = boom
        err = RuntimeError
    with pytest.raises(err):
        ix.ingest(spark.createDataFrame(rows, ddl), "b1")
    if fail == "gate":
        assert seen == ["false"]
    assert {k: spark.conf.get(k) for k in _KEYS} == before
    assert len(cdc_apply._AQE_STATE) == 0
    assert (ix.data.version, ix.index.version) == (1, 1)
