"""Replay-equivalence — the north-rule correctness check (SURVEY.md §5.2 #2-3).

The same deterministic change stream applied (a) as one batch, (b) as k
micro-batches, (c) as a stream killed mid-run and restarted from checkpoint,
(d) delivered twice end-to-end, must produce byte-identical final table
states, all equal to the independent pandas oracle. Exactly-once is asserted
from lineage: no applied batch overlaps a previously-committed LSN range.
"""

from __future__ import annotations

import os

import pytest

from migration_pair_spark import synth
from migration_pair_spark.cdc.apply import WATERMARK_PROP, read_lineage
from migration_pair_spark.cdc.runner import CdcPipeline
from migration_pair_spark.functions.extract import extract_text
from migration_pair_spark.lakehouse.table import LakeTable

N_EVENTS, N_URLS, N_FILES = 800, 90, 5


@pytest.fixture(scope="module")
def stream_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stream") / "events")
    full = synth.write_change_stream(d, N_EVENTS, N_URLS, N_FILES, seed=42)
    return d, full


def _state(spark, table_path):
    """Canonical final-state fingerprint: sorted rows of all user columns."""
    t = LakeTable.load(spark, table_path)
    pdf = t.read().toPandas().sort_values("url").reset_index(drop=True)
    return [
        (r.url, r.warc_ts, bytes(r.html) if r.html is not None else None, r.text, r.lang)
        for r in pdf.itertuples()
    ]


def _oracle_state(full):
    o = synth.oracle_final_state(full).sort_values("url")
    return [
        (
            r.url,
            r.warc_ts.to_pydatetime(),
            bytes(r.html),
            extract_text(r.html),
            r.lang,
        )
        for r in o.itertuples()
    ]


def _pipe(tmp_path, name):
    return CdcPipeline(
        table_path=str(tmp_path / name), n_buckets=8, salt_buckets=8
    )


def test_one_batch_equals_oracle(spark, stream_dir, tmp_path):
    d, full = stream_dir
    pipe = _pipe(tmp_path, "one")
    events = spark.read.parquet(d)
    lineage = pipe.apply_batch(spark, events)
    assert not lineage["skipped"]
    assert _state(spark, pipe.table_path) == _oracle_state(full)


def test_k_micro_batches_equal_one_batch(spark, stream_dir, tmp_path):
    d, full = stream_dir
    pipe = _pipe(tmp_path, "k")
    lineages = pipe.run_stream(
        spark, d, str(tmp_path / "ckpt"), max_files_per_trigger=1
    )
    assert len(lineages) == N_FILES
    assert not any(l["skipped"] for l in lineages)
    assert _state(spark, pipe.table_path) == _oracle_state(full)


def test_duplicate_delivery_converges(spark, stream_dir, tmp_path):
    d, full = stream_dir
    pipe = _pipe(tmp_path, "dup")
    pipe.run_stream(spark, d, str(tmp_path / "ckpt1"), max_files_per_trigger=2)
    # whole stream re-delivered with a FRESH checkpoint
    lin2 = pipe.run_stream(spark, d, str(tmp_path / "ckpt2"), max_files_per_trigger=3)
    assert all(l["skipped"] for l in lin2)
    assert _state(spark, pipe.table_path) == _oracle_state(full)


def test_kill_restart_from_checkpoint(spark, stream_dir, tmp_path):
    d, full = stream_dir
    pipe = _pipe(tmp_path, "kill")
    ckpt = str(tmp_path / "ckpt")

    class Boom(Exception):
        pass

    applied = []

    def killer(batch_id, lineage):
        applied.append(lineage)
        if len(applied) == 2:  # crash after the 2nd applied batch COMMITTED
            raise Boom("injected crash")

    with pytest.raises(Exception):
        pipe.run_stream(spark, d, ckpt, max_files_per_trigger=1, on_batch=killer)
    assert len(applied) >= 2

    # restart from the same checkpoint: must converge, applying each LSN once
    pipe.run_stream(spark, d, ckpt, max_files_per_trigger=1)
    assert _state(spark, pipe.table_path) == _oracle_state(full)

    # exactly-once: applied (non-skipped) lineage LSN ranges are disjoint and
    # monotone; the crashed batch was re-delivered but trimmed/skipped by the
    # watermark gate.
    lineages = [l for l in read_lineage(LakeTable.load(spark, pipe.table_path)) if not l["skipped"]]
    ends = 0
    for l in sorted(lineages, key=lambda x: x["lsn_max"]):
        assert l["lsn_min"] > ends or l["rows_skipped"] > 0
        assert l["lsn_max"] > ends
        ends = l["lsn_max"]
    assert ends == N_EVENTS


def test_watermark_committed_atomically_with_data(spark, stream_dir, tmp_path):
    d, full = stream_dir
    pipe = _pipe(tmp_path, "wm")
    pipe.run_stream(spark, d, str(tmp_path / "ckpt"), max_files_per_trigger=1)
    t = LakeTable.load(spark, pipe.table_path)
    assert int(t.properties[WATERMARK_PROP]) == N_EVENTS
    # every snapshot's manifest carries its own watermark (no side-channel)
    assert t.manifest["lineage"]["lsn_max"] == N_EVENTS


def test_out_of_order_chunk_delivery_converges(spark, stream_dir, tmp_path):
    """Round-1 flake, root-caused: Spark's file source orders pending files by
    MILLISECOND mtime and breaks ties nondeterministically; with a scalar
    max-LSN watermark, a later-LSN file processed first advanced the watermark
    and silently dropped every earlier never-applied file. Force the worst
    case (all mtimes identical) and additionally apply chunks in explicitly
    reversed order: the interval gate must apply every chunk exactly once."""
    import glob
    import shutil

    d, full = stream_dir
    d2 = str(tmp_path / "events-tied")
    shutil.copytree(d, d2)
    t0 = None
    for f in sorted(glob.glob(os.path.join(d2, "*.parquet"))):
        t0 = t0 if t0 is not None else os.stat(f).st_mtime
        os.utime(f, (t0, t0))

    # (a) stream with tied mtimes — order is up to the source's tie-break
    pipe = _pipe(tmp_path, "ooo-stream")
    lineages = pipe.run_stream(
        spark, d2, str(tmp_path / "ckpt"), max_files_per_trigger=1
    )
    assert sum(not l["skipped"] for l in lineages) == N_FILES
    assert _state(spark, pipe.table_path) == _oracle_state(full)

    # (b) adversarial: chunks applied in strictly REVERSED LSN order
    pipe2 = _pipe(tmp_path, "ooo-batch")
    for i, f in enumerate(sorted(glob.glob(os.path.join(d2, "*.parquet")), reverse=True)):
        lin = pipe2.apply_batch(spark, spark.read.parquet(f), batch_id=i)
        assert not lin["skipped"]
    assert _state(spark, pipe2.table_path) == _oracle_state(full)
    t = LakeTable.load(spark, pipe2.table_path)
    import json

    assert json.loads(t.properties["engine.applied_lsn_ranges"]) == [[1, N_EVENTS]]


def test_oversized_batch_splits_into_bounded_subcommits(spark, stream_dir, tmp_path):
    d, full = stream_dir
    pipe = CdcPipeline(
        table_path=str(tmp_path / "split"), n_buckets=8, max_events_per_batch=200
    )
    events = spark.read.parquet(d)
    lineage = pipe.apply_batch(spark, events)
    assert lineage["split_into"] >= N_EVENTS // 200
    assert not lineage["skipped"]
    assert lineage["lsn_max"] == N_EVENTS
    # every sub-batch committed its own snapshot; final state still == oracle
    assert _state(spark, pipe.table_path) == _oracle_state(full)
    subs = [l for l in lineage["sub_batches"] if not l["skipped"]]
    assert all(
        l["lsn_max"] - l["lsn_min"] + 1 <= (N_EVENTS // (N_EVENTS // 200)) + 1
        for l in subs
    )


def test_multifile_trigger_with_gap_does_not_lose_late_file(spark, tmp_path):
    """Review-caught (round 2): with maxFilesPerTrigger > 1, one micro-batch
    can carry NON-ADJACENT files (A: lsn 1-100, C: 201-300) while the middle
    file B arrives later. The gate must publish one interval per file — a
    single [1, 300] span would mark B's range as applied and drop it whole."""
    import datetime as dt

    import pandas as pd

    from migration_pair_spark.cdc.apply import RANGES_PROP

    d = tmp_path / "ev"
    d.mkdir()
    t0 = dt.datetime(2024, 1, 1)

    def write_chunk(name, lo, hi, mtime):
        pdf = pd.DataFrame(
            {
                "change_lsn": range(lo, hi + 1),
                "op": "insert",
                "url": [f"u/{i}" for i in range(lo, hi + 1)],
                "warc_ts": [t0 + dt.timedelta(seconds=i) for i in range(lo, hi + 1)],
                "html": [f"<p>{i}</p>".encode() for i in range(lo, hi + 1)],
                "lang": "en",
                "language": pd.Series([None] * (hi - lo + 1), dtype="string"),
                "fetch_status": 200,
                "schema_epoch": pd.Series([1] * (hi - lo + 1), dtype="int32"),
            }
        )
        p = str(d / name)
        pdf.to_parquet(p, coerce_timestamps="us", allow_truncated_timestamps=True)
        os.utime(p, (mtime, mtime))

    base = 1_700_000_000
    write_chunk("a.parquet", 1, 100, base)        # trigger 1 (with c)
    write_chunk("c.parquet", 201, 300, base + 1)  # trigger 1
    write_chunk("b.parquet", 101, 200, base + 2)  # trigger 2 — the gap chunk

    pipe = CdcPipeline(table_path=str(tmp_path / "t"), n_buckets=8, salt_buckets=8)
    lineages = pipe.run_stream(
        spark, str(d), str(tmp_path / "ckpt"), max_files_per_trigger=2
    )
    applied = [l for l in lineages if not l["skipped"]]
    assert len(applied) == 2  # batch {a, c} then batch {b} — b NOT skipped
    t = LakeTable.load(spark, pipe.table_path)
    assert t.read().count() == 300
    import json

    assert json.loads(t.properties[RANGES_PROP]) == [[1, 300]]
    # after the mid-batch commit the ranges were split: check lineage audit
    assert applied[0]["rows_upserted"] == 200
    assert applied[1]["rows_upserted"] == 100


def test_leading_gap_keeps_scalar_watermark_safe(spark, tmp_path):
    """Review-caught (round 2, second pass): an out-of-order FIRST delivery
    (leading gap) must not advance engine.max_lsn — a scalar-watermark
    reader treats wm as 'everything below is applied'."""
    import datetime as dt

    from migration_pair_spark.cdc.runner import CHANGE_STREAM_SCHEMA

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
    l1 = pipe.apply_batch(spark, chunk(201, 300), batch_id=0)  # leading gap!
    t = LakeTable.load(spark, pipe.table_path)
    assert int(t.properties[WATERMARK_PROP]) == 0  # scalar cannot advance
    l2 = pipe.apply_batch(spark, chunk(1, 200), batch_id=1)  # gap fills
    t.refresh()
    assert int(t.properties[WATERMARK_PROP]) == 300  # now contiguous from 1
    assert t.read().count() == 300


def test_rechunked_overlap_counts_only_truly_fresh_rows(spark, tmp_path):
    """Review-caught (round 2, second pass): a re-chunked unit whose span
    straddles previously-applied interior LSNs must count only the genuinely
    fresh rows as upserted (the interval-difference membership test)."""
    import datetime as dt

    from migration_pair_spark.cdc.runner import CHANGE_STREAM_SCHEMA

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
    pipe.apply_batch(spark, chunk(5, 7), batch_id=0)  # interior unit first
    l2 = pipe.apply_batch(spark, chunk(1, 10), batch_id=1)  # re-chunked span
    assert l2["rows_skipped"] == 3   # 5-7 already applied
    assert l2["rows_upserted"] == 7  # 1-4 and 8-10 only (NOT 10)
    t = LakeTable.load(spark, pipe.table_path)
    assert t.read().count() == 10


@pytest.mark.parametrize("write_mode", ["cow", "mor"])
def test_each_commit_adds_one_file_per_touched_bucket(
    spark, stream_dir, tmp_path, write_mode
):
    """The apply routes the rows it writes by bucket, so every commit adds
    at most one data file to each bucket it touches (the manifest diff
    against the parent snapshot) and touches no other bucket — in both
    write modes, including copy-on-write batches that re-resolve against
    current content — and the final state is the per-key LWW oracle."""
    d, full = stream_dir
    pipe = CdcPipeline(
        table_path=str(tmp_path / write_mode), n_buckets=8, salt_buckets=8,
        write_mode=write_mode,
    )
    lineages = pipe.run_stream(spark, d, str(tmp_path / "ckpt"))
    assert len(lineages) == N_FILES
    assert _state(spark, pipe.table_path) == _oracle_state(full)
    t = LakeTable.load(spark, pipe.table_path)
    for lin in lineages:
        v = lin["snapshot_id"]
        before = t.manifest_at(v - 1)["buckets"]
        after = t.manifest_at(v)["buckets"]
        added = {
            int(b): set(e["path"] for e in files)
            - set(e["path"] for e in before.get(b, []))
            for b, files in after.items()
        }
        added = {b: paths for b, paths in added.items() if paths}
        assert set(added) == {int(b) for b in lin["partition_counts"]}
        assert all(len(paths) == 1 for paths in added.values()), added
