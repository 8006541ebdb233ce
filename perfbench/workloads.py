"""The benchmark's workloads, driven only through the engine's public
functions.

``tail_live``: an OPEN loop. A generator thread lands one pre-written
Debezium JSONL file every ``INTERVAL_S`` seconds by atomic rename into the
directory ``CdcPipeline.follow_stream`` watches (MOR, 32 buckets,
auto-compaction at 40 files per bucket, one file per micro-batch).
Freshness of a file = the commit of the micro-batch that applied it minus
the time the file was DUE, so a stall is charged to every file behind it.
Small batches make the per-batch fixed cost dominate (gate job, planning,
commit, trigger pickup, parse).

``incremental_ingest``: the three incremental index families
(``IncrementalDeduper``, ``IncrementalChunkIndex``,
``IncrementalEmbeddingIndex``) each ingest the first 80% of their input as
a base batch, then the remaining 20% in k equal batches. One op = one
non-base batch; one round = one batch into each family. This is the only
workload that reaches ``operators``.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import threading
import time
from dataclasses import dataclass, field
from typing import NamedTuple

import numpy as np
import pandas as pd

from migration_pair_spark.cdc.runner import CdcPipeline
from perfbench import inputs
from perfbench.stats import generator_lateness, open_loop_latencies, same_rows

# ---------------------------------------------------------------- tail_live

N_BUCKETS = 32
SALT_BUCKETS = 16
AUTO_COMPACT_FILES = 40
#: files applied before the clock starts (JIT and Python-worker warm-up):
#: the first apply takes ~3x the steady wall, the third is within ~10% of it
WARMUP_FILES = 2
#: fixed arrival interval: ~65% of the closed-loop drain capacity of
#: FILE_EVENTS-event files on a 4-core x86 box in its slow phases (measured,
#: not derived at run time). Nearer to capacity, a slow phase of the host
#: queues files and freshness jumps by whole apply walls.
INTERVAL_S = 5.5
#: a file still uncommitted this long after the last due time is failed
DRAIN_TIMEOUT_S = 45.0
#: point lookups per traced state read, ~10% of them for absent keys; each
#: key is looked up once inside a span and once outside
N_LOOKUPS = 5


@dataclass
class TimedPipeline(CdcPipeline):
    """Records when each micro-batch's ``apply_batch`` started and ended
    (two clock reads around the public call)."""

    applies: list = field(default_factory=list)

    def apply_batch(self, spark, events, batch_id=0):
        t0 = time.monotonic()
        out = super().apply_batch(spark, events, batch_id)
        self.applies.append((t0, time.monotonic(), out))
        return out


def tail_files_needed(seconds: float) -> int:
    return WARMUP_FILES + measured_files(seconds)


def measured_files(seconds: float) -> int:
    return max(3, int(seconds // INTERVAL_S))


def build_tail_table(spark, path: str):
    """The starting state of the tail: an empty MOR-ready pages table."""
    pipe = TimedPipeline(
        table_path=path,
        n_buckets=N_BUCKETS,
        salt_buckets=SALT_BUCKETS,
        write_mode="mor",
        auto_compact_files_per_bucket=AUTO_COMPACT_FILES,
        source_format="debezium-json",
    )
    pipe.ensure_table(spark)
    return pipe


def run_tail(spark, pipe, work: str, src: str, n_measured: int) -> dict:
    """Drive the open loop. ``src`` holds the cached files; ``pipe`` owns
    an empty table; the first WARMUP_FILES files are applied before the clock
    starts (their drain, from the stream start, is ``warmup_s``). Returns
    per-file timings and op counts."""
    files = sorted(os.listdir(os.path.join(src, "files")))[: WARMUP_FILES + n_measured]
    staging = os.path.join(work, "staging")
    watch = os.path.join(work, "watch")
    os.makedirs(staging)
    os.makedirs(watch)
    # pre-write before the clock: the generator thread only renames.
    # Strictly increasing mtimes keep the file source's pick order = LSN order.
    base_t = time.time() - 3600
    for i, f in enumerate(files):
        dst = os.path.join(staging, f)
        shutil.copyfile(os.path.join(src, "files", f), dst)
        os.utime(dst, (base_t + i, base_t + i))

    committed: list[tuple[float, float, dict]] = []
    done = threading.Condition()

    def on_batch(_batch_id, lineage):
        with done:
            committed.append((time.monotonic(), time.time(), lineage))
            done.notify_all()

    t_start = time.monotonic()
    query, _ = pipe.follow_stream(
        spark, watch, os.path.join(work, "ckpt"),
        max_files_per_trigger=1, processing_time="0 seconds", on_batch=on_batch,
    )
    sent: list[float] = []
    due: list[float] = []
    backlog: list[int] = []
    stop = threading.Event()
    try:
        for f in files[:WARMUP_FILES]:
            os.rename(os.path.join(staging, f), os.path.join(watch, f))
        _wait(done, lambda: len(committed) >= WARMUP_FILES, query, 120.0)
        warmup_s = time.monotonic() - t_start
        t0 = time.monotonic() + 0.2
        due = [t0 + i * INTERVAL_S for i in range(n_measured)]

        def generate():
            for i, f in enumerate(files[WARMUP_FILES:]):
                delay = due[i] - time.monotonic()
                if delay > 0 and stop.wait(delay):
                    return
                os.rename(os.path.join(staging, f), os.path.join(watch, f))
                sent.append(time.monotonic())
                with done:
                    backlog.append(WARMUP_FILES + i + 1 - len(committed))

        gen = threading.Thread(target=generate, name="tail-generator", daemon=True)
        gen.start()
        deadline = due[-1] + DRAIN_TIMEOUT_S
        _wait(
            done, lambda: len(committed) >= WARMUP_FILES + n_measured, query,
            deadline - time.monotonic(),
        )
    finally:
        stop.set()
        query.stop()
        if "gen" in locals():
            gen.join(10)
    n_lsn = len(files) * inputs.FILE_EVENTS
    # the micro-batch that applied measured file i covers its LSN range
    commit_of: dict[int, float] = {}
    for t, _wall, lin in committed:
        if lin.get("lsn_min") is not None:
            commit_of[(int(lin["lsn_min"]) - 1) // inputs.FILE_EVENTS] = t
    ok = [i for i in range(n_measured) if WARMUP_FILES + i in commit_of]
    fresh = open_loop_latencies(
        [due[i] for i in ok], [commit_of[WARMUP_FILES + i] for i in ok]
    )
    applies = pipe.applies[WARMUP_FILES:]
    apply_walls = [b - a for a, b, _ in applies]
    return {
        "warmup_s": warmup_s,
        "attempted": n_measured,
        "committed": len(ok),
        "freshness_s": fresh,
        "apply_walls_s": apply_walls,
        "events_applied": len(applies) * inputs.FILE_EVENTS,
        "late_s": generator_lateness(due[: len(sent)], sent),
        "backlog": backlog,
        "n_lsn": n_lsn if len(committed) == len(files) else None,
        "commits": committed,
    }


def _wait(cond, pred, query, timeout: float) -> None:
    end = time.monotonic() + max(timeout, 0.0)
    with cond:
        while not pred():
            if not query.isActive:
                exc = query.exception()
                raise RuntimeError(f"tail stream stopped: {exc}")
            left = end - time.monotonic()
            if left <= 0:
                return
            cond.wait(min(left, 0.5))


def _epoch_us(ts: pd.Series) -> pd.Series:
    if ts.dt.tz is not None:
        ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
    return ts.astype("datetime64[us]").astype("int64")


def tail_oracle_rows(src: str, n_lsn: int) -> list[tuple]:
    from migration_pair_spark import synth

    ev = pd.read_parquet(os.path.join(src, "events.parquet"))
    ev = ev[ev["change_lsn"] <= n_lsn]
    win = synth.oracle_final_state(ev)
    ts = _epoch_us(win["warc_ts"])
    return list(zip(win["url"], ts.tolist(), win["change_lsn"].astype(int).tolist()))


def check_tail_table(spark, table_path: str, src: str, n_lsn: int | None) -> dict:
    """Final table == synth.oracle_final_state over every applied event
    (count + order-insensitive hash of (url, warc_ts, _lsn)), and the
    applied LSN ranges are exactly [[1, N]]. The committed files are read
    with pyarrow and resolved last-writer-wins in pandas, independently of
    the engine's read path."""
    import pyarrow.parquet as pq

    from migration_pair_spark.cdc.apply import RANGES_PROP
    from migration_pair_spark.lakehouse.table import LakeTable

    if n_lsn is None:
        return {"ok": False, "why": "not every file committed"}
    table = LakeTable.load(spark, table_path)
    ranges_ok = json.loads(table.properties[RANGES_PROP]) == [[1, n_lsn]]
    paths = [
        os.path.join(table_path, e["path"])
        for files in table.manifest["buckets"].values() for e in files
    ]
    cols = ["url", "warc_ts", "_lsn", "_deleted"]
    df = pd.concat([pq.read_table(p, columns=cols).to_pandas() for p in paths],
                   ignore_index=True)
    df["ts"] = _epoch_us(df["warc_ts"])
    win = df.sort_values(["url", "ts", "_lsn"]).groupby("url").tail(1)
    win = win[~win["_deleted"].fillna(False).astype(bool)]
    rows = list(zip(win["url"], win["ts"].tolist(), win["_lsn"].astype(int).tolist()))
    same = same_rows(rows, tail_oracle_rows(src, n_lsn))
    return {"ok": bool(ranges_ok and same), "rows": len(rows), "files": len(paths),
            "ranges_ok": ranges_ok, "rows_ok": same}


def state_reads(spark, table_path: str, src: str, n_lsn: int, seed: int, tracer) -> dict:
    """Seeded point lookups on the tail's MOR table, each checked against
    the oracle row (or its absence), then one resolved scan. Every key is
    looked up twice, untraced and inside a span, in alternating order, so
    the two medians compare the cost of tracing on the same work."""
    from pyspark.sql import functions as F

    from migration_pair_spark.lakehouse.table import LakeTable

    table = LakeTable.load(spark, table_path)
    expected = {u: (ts, lsn) for u, ts, lsn in tail_oracle_rows(src, n_lsn)}
    rng = np.random.default_rng(seed + 17)
    present = sorted(expected)
    keys = [
        f"https://absent.example/p/{int(rng.integers(1 << 30))}"
        if rng.random() < 0.1 else present[int(rng.integers(len(present)))]
        for _ in range(N_LOOKUPS)
    ]

    def lookup(key, traced: bool):
        t0 = time.monotonic()
        with tracer.span("lakehouse.lookup") if traced else contextlib.nullcontext():
            df = table.lookup(key)
            got = df.select(F.unix_micros("warc_ts").alias("ts")).collect()
        wall = time.monotonic() - t0
        want = expected.get(key)
        bad = (want is None) != (not got) or bool(want and int(got[0]["ts"]) != want[0])
        return wall, bad, len(df.inputFiles())

    walls = {False: [], True: []}
    wrong, scanned = 0, []
    for i, key in enumerate(keys):
        for traced in ((True, False) if i % 2 else (False, True)):
            wall, bad, n_files = lookup(key, traced)
            wrong += bad
            if i:  # the first key compiles the plan shapes
                walls[traced].append(wall)
                scanned.append(n_files)
    fpb = table.files_per_bucket()
    t0 = time.monotonic()
    with tracer.span("lakehouse.read"):
        scan = table.read()
        n_rows = scan.count()
    return {
        "scan_rows": n_rows,
        "scan_s": time.monotonic() - t0,
        "scan_files": len(scan.inputFiles()),
        "lookup_walls_s": walls[False],
        "lookup_traced_walls_s": walls[True],
        "lookup_files": scanned,
        "lookups": 2 * len(keys),
        "wrong": wrong,
        "files_per_bucket_max": max(fpb.values()) if fpb else 0,
    }


# ---------------------------------------------------------------- incremental

class Family(NamedTuple):
    name: str
    cls: str  # class in operators.incremental
    table: str  # input table
    id_col: str
    create_kw: dict  # as the registry's incremental query creates it
    registry: str  # registry entry whose DuckDB SQL is the oracle
    output: str  # key of the ingest result the oracle checks


FAMILIES = (
    # on_bridge="greedy": on some seeds a new document joins two committed
    # duplicate clusters, which the default policy refuses as a failed batch.
    # The verified pairs the oracle checks do not depend on the policy.
    Family("dedup", "IncrementalDeduper", "documents", "doc_id",
           {"corpus_buckets": 8, "index_buckets": 8, "on_bridge": "greedy"},
           "incremental_dedup_docs", "pairs"),
    Family("chunk", "IncrementalChunkIndex", "documents", "doc_id",
           {"corpus_buckets": 8, "index_buckets": 8},
           "incremental_chunk_dedup", "rewritten"),
    Family("embedding", "IncrementalEmbeddingIndex", "embeddings", "vec_id",
           {"threshold": 0.35, "vector_buckets": 8, "index_buckets": 8},
           "incremental_embedding_neardup", "pairs"),
)


def batches_for(seconds: float) -> int:
    """k, the number of non-base batches. A round of three ingests takes
    11-20 s on a 4-core box. Its run-to-run spread comes from the host's
    speed, which a second round in the same run does not average out (ten
    seeds: 0.19 for the first round alone, 0.19 for the mean of two)."""
    return max(1, int(seconds // 15))


def build_indexes(spark, root: str) -> dict:
    """The starting state: one empty (data, index) table pair per family."""
    from migration_pair_spark.operators import incremental as inc

    return {
        f.name: getattr(inc, f.cls).create(spark, os.path.join(root, f.name), **f.create_kw)
        for f in FAMILIES
    }


def run_incremental(spark, indexes: dict, src: str, k: int) -> dict:
    """Load the inputs, ingest each family's base batch (the starting state,
    timed as ``setup_s``), then the k measured rounds."""
    from pyspark.sql import functions as F

    t_setup = time.monotonic()
    frames = {
        name: spark.read.parquet(os.path.join(src, f"{name}.parquet")).cache()
        for name in ("documents", "embeddings")
    }
    base, batches = {}, {}
    items = 0
    for f in FAMILIES:
        df = frames[f.table]
        n = df.count()
        thr = (n - 1) * 4 // 5  # the registry's (max(id) * 4) // 5 split
        edges = np.linspace(thr + 1, n, k + 1).astype(int)
        base[f.name] = df.filter(F.col(f.id_col) <= thr)
        batches[f.name] = [
            df.filter((F.col(f.id_col) >= int(lo)) & (F.col(f.id_col) < int(hi)))
            for lo, hi in zip(edges[:-1], edges[1:])
        ]
        items += n - thr - 1
    base_s = {}
    for f in FAMILIES:
        t0 = time.monotonic()
        indexes[f.name].ingest(base[f.name], "base")
        base_s[f.name] = time.monotonic() - t0
    setup_s = time.monotonic() - t_setup
    walls = {f.name: [] for f in FAMILIES}
    results = {f.name: [] for f in FAMILIES}
    rounds = []
    for r in range(k):
        round_s = 0.0
        for f in FAMILIES:
            t0 = time.monotonic()
            res = indexes[f.name].ingest(batches[f.name][r], f"b{r}")
            w = time.monotonic() - t0
            walls[f.name].append(w)
            round_s += w
            results[f.name].append(res)
        rounds.append(round_s)
    for df in frames.values():
        df.unpersist()
    return {"walls": walls, "rounds": rounds, "results": results,
            "base_s": base_s, "setup_s": setup_s, "items": items}


def check_incremental(src: str, results: dict) -> dict:
    """Per family: the union of the new batches' outputs equals the
    registry's DuckDB oracle run on the same inputs."""
    import duckdb

    from migration_pair_spark.queries import REGISTRY

    con = duckdb.connect()
    try:
        for name in ("documents", "embeddings"):
            path = os.path.join(src, f"{name}.parquet").replace("'", "''")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        ok = {}
        for f in FAMILIES:
            oracle = con.execute(REGISTRY[f.registry].sql).df()
            parts = [res[f.output].toPandas() for res in results[f.name]]
            ok[f.name] = _frames_equal(pd.concat(parts, ignore_index=True), oracle)
        return ok
    finally:
        con.close()


def _frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    cols = sorted(want.columns)
    if sorted(got.columns) != cols:
        return False

    def rows(df):
        out = []
        for rec in df[cols].itertuples(index=False):
            out.append(tuple(
                round(float(v), 4) if isinstance(v, (float, np.floating)) else
                int(v) if isinstance(v, (int, np.integer)) else v
                for v in rec
            ))
        return out

    return same_rows(rows(got), rows(want))


# ---------------------------------------------------------------- isolated

def noop(df) -> float:
    """Run ``df`` to completion into the noop sink; returns the wall. A
    persisted ``df`` is cached by the same run, so the next layer reads its
    output without computing it again."""
    t0 = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    return time.monotonic() - t0


def isolated_probes(spark, tail_src: str, inc_src: str) -> dict:
    """Time the lazy layers by running each alone into the noop sink on
    the workloads' own inputs, each layer reading the cached output of the
    one before. They run after both workloads, so the JVM and the Python
    workers are already warm."""
    from migration_pair_spark.cdc.lww import lww_dedup_agg
    from migration_pair_spark.cdc.runner import pages_wire_payload_schema
    from migration_pair_spark.functions.extract import with_extracted_text
    from migration_pair_spark.operators import dedup as dd
    from migration_pair_spark.sources.debezium import read_debezium_jsonl

    f = os.path.join(tail_src, "files", sorted(os.listdir(os.path.join(tail_src, "files")))[0])
    schema = pages_wire_payload_schema()
    parsed = read_debezium_jsonl(spark, f, schema).persist()
    out = {"sources.debezium.parse_s": noop(parsed)}
    out["sources.debezium.rows_per_s"] = inputs.FILE_EVENTS / out["sources.debezium.parse_s"]
    winners = lww_dedup_agg(parsed, ("url",), ("warc_ts", "change_lsn")).persist()
    out["cdc.lww.s"] = noop(winners)
    out["functions.extract.s"] = noop(with_extracted_text(winners))
    out["functions.extract.rows_per_event"] = winners.count() / parsed.count()
    winners.unpersist()
    parsed.unpersist()

    docs = spark.read.parquet(os.path.join(inc_src, "documents.parquet"))
    docs = docs.repartition(spark.sparkContext.defaultParallelism).persist()
    docs.count()
    sigs = dd.minhash_signatures(docs).persist()
    out["operators.dedup.minhash_s"] = noop(sigs)
    cands = dd.lsh_candidate_pairs(sigs).persist()
    out["operators.dedup.lsh_candidates_s"] = noop(cands)
    out["operators.dedup.jaccard_verify_s"] = noop(dd.jaccard_verify(docs, cands))
    for df in (cands, sigs, docs):
        df.unpersist()
    return out
