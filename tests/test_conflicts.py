"""Optimistic-concurrency rebase: recomputable operations that lose a
commit to a rival writer refresh and retry instead of dying.

Contract: the exclusive manifest publish makes EVERY lost race loud
(CommitConflictError); CDC apply, compact, purge and view refresh catch it,
refresh to the rival's snapshot, and recompute their WHOLE operation — safe
for apply by the replay argument (the gate re-reads applied intervals),
for compact because it is a content-preserving fold, for purge because the
anti-join rewrite is idempotent against any newer state, and for view
refresh because the reflected-version check re-derives the remaining span.
Losing attempts leave only invisible orphan files. Exhausted retries
re-raise."""

from __future__ import annotations

import datetime

import pytest

from migration_pair_spark.cdc.runner import CdcPipeline
from migration_pair_spark.cdc.views import MaterializedView
from migration_pair_spark.lakehouse.table import CommitConflictError, LakeTable

BASE_TS = datetime.datetime(2024, 1, 1)
DDL = ("change_lsn long, op string, url string, warc_ts timestamp, "
       "html binary, lang string, schema_epoch int")


def _ev(lsn, url, lang="en", body="x"):
    return (lsn, "insert", url, BASE_TS + datetime.timedelta(minutes=lsn),
            f"<html><body>{body}</body></html>".encode(), lang, 1)


def _rows(spark, rows):
    return spark.createDataFrame(rows, DDL)


def _urls(t):
    return sorted(r.url for r in t.read().select("url").collect())


def inject_rival_commit(monkeypatch, spark, n_rivals=1):
    """Patch LakeTable._write_manifest so the FIRST data-bearing commit is
    beaten to its version number by a rival metadata commit — the
    deterministic version of 'another process committed between my refresh
    and my publish'. Returns a counter dict recording injections."""
    orig = LakeTable._write_manifest
    state = {"injected": 0}

    def chaos(self, manifest):
        lin = manifest.get("lineage") or {}
        if state["injected"] < n_rivals and not lin.get("_rival"):
            state["injected"] += 1
            rival = LakeTable.load(spark, self.path)
            m = rival._next_manifest()
            m["lineage"] = {"_rival": True}
            orig(rival, m)
        return orig(self, manifest)

    monkeypatch.setattr(LakeTable, "_write_manifest", chaos)
    return state


def test_stale_compactor_rebases_past_a_rival_commit(spark, tmp_path):
    pipe = CdcPipeline(table_path=str(tmp_path / "t"), n_buckets=4,
                       write_mode="mor")
    pipe.apply_batch(spark, _rows(spark, [
        _ev(i + 1, f"https://a/{i}") for i in range(6)]), batch_id=0)
    stale = LakeTable.load(spark, pipe.table_path)   # holds this snapshot
    pipe.apply_batch(spark, _rows(spark, [
        _ev(11, "https://a/late")]), batch_id=1)     # rival advances

    before = _urls(LakeTable.load(spark, pipe.table_path))
    v = stale.compact()                              # stale version collides
    t = LakeTable.load(spark, pipe.table_path)
    assert v == t.version
    # the rebase re-read the RIVAL's state: nothing lost, deltas folded
    assert _urls(t) == before and "https://a/late" in before
    assert not t.is_merge_on_read


def test_stale_purge_rebases_and_erases_the_rivals_rows_too(spark, tmp_path):
    victim = "https://victim.example/p"
    pipe = CdcPipeline(table_path=str(tmp_path / "t"), n_buckets=4)
    pipe.apply_batch(spark, _rows(spark, [
        _ev(1, victim), _ev(2, "https://a/keep")]), batch_id=0)
    stale = LakeTable.load(spark, pipe.table_path)
    # rival re-crawls the victim AFTER the purger loaded its snapshot
    pipe.apply_batch(spark, _rows(spark, [
        _ev(11, victim, body="recrawl")]), batch_id=1)

    stale.purge_keys([victim])
    t = LakeTable.load(spark, pipe.table_path)
    # the retry recomputed file candidates against the rival's snapshot,
    # so the re-crawled version is erased as well
    assert _urls(t) == ["https://a/keep"]
    assert t.verify_purged([victim]).get(t.version) is None


def test_apply_retries_when_a_maintenance_commit_wins(
    spark, tmp_path, monkeypatch
):
    pipe = CdcPipeline(table_path=str(tmp_path / "t"), n_buckets=4)
    pipe.apply_batch(spark, _rows(spark, [_ev(1, "https://a/0")]), batch_id=0)
    state = inject_rival_commit(monkeypatch, spark)
    lin = pipe.apply_batch(spark, _rows(spark, [
        _ev(11, "https://a/1"), _ev(12, "https://a/2")]), batch_id=1)
    assert state["injected"] == 1
    assert lin["rows_upserted"] == 2 and not lin["skipped"]
    monkeypatch.undo()
    t = LakeTable.load(spark, pipe.table_path)
    assert _urls(t) == ["https://a/0", "https://a/1", "https://a/2"]
    # both the rival's commit and the re-applied batch are in the history
    lineages = [t.manifest_at(v).get("lineage") for v in t.snapshot_versions()]
    assert any((l or {}).get("_rival") for l in lineages)
    # the batch landed exactly once: replay no-ops
    lin2 = pipe.apply_batch(spark, _rows(spark, [
        _ev(11, "https://a/1"), _ev(12, "https://a/2")]), batch_id=1)
    assert lin2["skipped"]


def test_apply_retry_rederives_suppression_after_rival_purge(
    spark, tmp_path, monkeypatch
):
    # the rival is a PURGE of a key carried by the in-flight batch: the
    # retry must re-derive the suppression ledger from the rival's state —
    # re-applying with the stale (pre-purge) ledger would merge the erased
    # key right back (review-caught)
    victim = "https://a/victim"
    pipe = CdcPipeline(table_path=str(tmp_path / "t"), n_buckets=4)
    pipe.apply_batch(spark, _rows(spark, [_ev(1, "https://a/0")]), batch_id=0)

    orig = LakeTable._write_manifest
    state = {"injected": 0}

    def chaos(self, manifest):
        lin = manifest.get("lineage") or {}
        if state["injected"] == 0 and lin.get("batch_id") == 1:
            state["injected"] = 1
            LakeTable.load(spark, self.path).purge_keys([victim])
        return orig(self, manifest)

    monkeypatch.setattr(LakeTable, "_write_manifest", chaos)
    lin = pipe.apply_batch(spark, _rows(spark, [
        _ev(11, victim), _ev(12, "https://a/2")]), batch_id=1)
    monkeypatch.undo()
    assert state["injected"] == 1
    assert lin["rows_suppressed"] == 1 and lin["rows_upserted"] == 1
    t = LakeTable.load(spark, pipe.table_path)
    assert _urls(t) == ["https://a/0", "https://a/2"]
    assert victim not in _urls(t)


def test_view_refresh_absorbs_a_rival_commit(spark, tmp_path, monkeypatch):
    pipe = CdcPipeline(table_path=str(tmp_path / "t"), n_buckets=4)
    pipe.ensure_table(spark)
    base = LakeTable.load(spark, pipe.table_path)
    view = MaterializedView(
        spark, str(tmp_path / "v"), base, dims=("lang",),
        measures={"chars": "coalesce(length(text), 0)"})
    pipe.apply_batch(spark, _rows(spark, [
        _ev(1, "https://a/0", "en"), _ev(2, "https://a/1", "de")]), batch_id=0)
    state = inject_rival_commit(monkeypatch, spark)
    out = view.refresh()
    assert state["injected"] == 1 and out["refreshed"]
    monkeypatch.undo()
    got = {r.lang: r.n for r in view.read().collect()}
    assert got == {"en": 1, "de": 1}


def test_exhausted_retries_reraise(spark, tmp_path, monkeypatch):
    pipe = CdcPipeline(table_path=str(tmp_path / "t"), n_buckets=4)
    pipe.apply_batch(spark, _rows(spark, [_ev(1, "https://a/0")]), batch_id=0)
    t = LakeTable.load(spark, pipe.table_path)
    # a rival beats EVERY attempt: the loop must give up loudly
    inject_rival_commit(monkeypatch, spark, n_rivals=99)
    with pytest.raises(CommitConflictError):
        t.compact()
