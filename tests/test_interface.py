"""UpsertTarget seam contract: LakeTable satisfies the protocol, and the
CDC merge loop (apply in both write modes, replay, a retry after a lost
commit, and the auto-compaction policy) runs against a proxy that REJECTS
any attribute outside it — the loop needs nothing of a table but the
protocol."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from migration_pair_spark import synth
from migration_pair_spark.cdc.apply import apply_cdc_batch
from migration_pair_spark.cdc.runner import PAGES_SCHEMA
from migration_pair_spark.lakehouse import LakeTable, UpsertTarget
from migration_pair_spark.lakehouse.interface import UpsertTarget as _Proto

SEAM = {
    name
    for name in vars(_Proto)
    if not name.startswith("_") or name in ()
}


def test_laketable_satisfies_protocol(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), PAGES_SCHEMA, key_col="url", n_buckets=4
    )
    assert isinstance(t, UpsertTarget)


def _events(spark):
    return spark.createDataFrame(
        synth.make_change_events(300, 40, seed=7),
        schema="change_lsn long, op string, url string, warc_ts timestamp, "
        "html binary, lang string, schema_epoch int",
    ).withColumn("language", F.lit(None).cast("string")).withColumn(
        "fetch_status", F.lit(None).cast("long")
    )


def _oracle_urls():
    oracle = synth.oracle_final_state(synth.make_change_events(300, 40, seed=7))
    return sorted(oracle["url"])


class SeamProxy:
    """Forwards ONLY protocol members; anything else is a seam violation."""

    def __init__(self, inner):
        object.__setattr__(self, "_inner", inner)

    def __getattr__(self, name):
        if name not in SEAM:
            raise AssertionError(
                f"CDC loop reached outside the UpsertTarget seam: {name!r}"
            )
        return getattr(object.__getattribute__(self, "_inner"), name)


@pytest.mark.parametrize("write_mode", ["cow", "mor"])
def test_cdc_loop_runs_through_the_seam_only(spark, tmp_path, write_mode):
    events = _events(spark)
    table = LakeTable.create(
        spark, str(tmp_path / "pages"), PAGES_SCHEMA, key_col="url", n_buckets=4
    )
    proxy = SeamProxy(table)
    lin = apply_cdc_batch(proxy, events, batch_id=0, write_mode=write_mode)
    assert not lin["skipped"]
    assert lin["rows_upserted"] > 0
    # replay through the seam: skipped by the interval gate
    lin2 = apply_cdc_batch(proxy, events, batch_id=1, write_mode=write_mode)
    assert lin2["skipped"]
    # state is real: final rows match the pandas oracle's url set
    got = sorted(r.url for r in table.read().select("url").collect())
    assert got == _oracle_urls()


def test_apply_retry_after_a_lost_commit_stays_inside_the_seam(
    spark, tmp_path, monkeypatch
):
    """The conflict retry refreshes the target and re-reads its purge
    ledger through protocol members only, and the batch lands once."""
    from test_conflicts import inject_rival_commit

    table = LakeTable.create(
        spark, str(tmp_path / "pages"), PAGES_SCHEMA, key_col="url", n_buckets=4
    )
    proxy = SeamProxy(table)
    state = inject_rival_commit(monkeypatch, spark)
    lin = apply_cdc_batch(proxy, _events(spark), batch_id=0)
    monkeypatch.undo()
    assert state["injected"] == 1
    assert not lin["skipped"] and lin["rows_upserted"] > 0
    assert apply_cdc_batch(proxy, _events(spark), batch_id=1)["skipped"]
    lineages = [
        table.manifest_at(v).get("lineage") or {}
        for v in table.snapshot_versions()
    ]
    assert [l.get("_rival", False) for l in lineages[1:]] == [True, False]
    assert lineages[2]["batch_id"] == 0
    got = sorted(r.url for r in table.read().select("url").collect())
    assert got == _oracle_urls()


def test_seam_proxy_rejects_out_of_protocol_access(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), PAGES_SCHEMA, key_col="url", n_buckets=4
    )
    proxy = SeamProxy(t)
    with pytest.raises(AssertionError, match="outside the UpsertTarget seam"):
        _ = proxy.manifest  # implementation detail, not part of the seam


def test_maintenance_loop_runs_through_the_seam_only(spark, tmp_path):
    """The auto-compaction policy (the other table-touching path in
    CdcPipeline) must also stay inside the protocol — review-caught r2: it
    previously read table.manifest directly."""
    from migration_pair_spark.cdc.runner import CdcPipeline

    events = _events(spark)
    table = LakeTable.create(
        spark, str(tmp_path / "pages"), PAGES_SCHEMA, key_col="url", n_buckets=4
    )
    apply_cdc_batch(SeamProxy(table), events, batch_id=0, write_mode="mor")
    more = events.withColumn("change_lsn", F.col("change_lsn") + 1000)
    apply_cdc_batch(SeamProxy(table), more, batch_id=1, write_mode="mor")
    pipe = CdcPipeline(
        table_path=str(tmp_path / "pages"),
        n_buckets=4,
        auto_compact_files_per_bucket=1,  # 2 delta files/bucket > 1 -> fold
    )
    lineage = {"skipped": False}
    pipe._maybe_auto_compact(SeamProxy(table), lineage)
    assert lineage.get("auto_compacted_buckets"), lineage
    table.refresh()
    assert max(table.files_per_bucket().values()) <= 1
