"""Benchmark entry point.

    python3 perfbench/run.py --workload tail_live --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of the repository. It generates (or reuses)
the seeded inputs, starts a local[nproc] Spark session through the engine's
own factory, builds the workload's starting state, measures for
``--seconds``, checks every output against an oracle and prints, as the
last line of standard output, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end ones of BENCHMARK.json; with ``--trace 1`` they are the
per-layer ones, and the spans plus a per-span self-time table are written
under ``.perfbench/traces/``. The line before the result is a JSON detail
record (generation time, box calibration, sample counts).

Everything the run writes stays under ``<checkout>/.perfbench``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("tail_live", "incremental_ingest")
#: reduced shapes of the traced run (per-layer numbers only)
TRACED_TAIL_FILES = 2
TRACED_BATCHES = 1


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep every scratch file of Spark, the JVM and Python under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")


def start_spark(work: str, traced: bool, cores: int | None = None):
    from migration_pair_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        # keep every job and stage of the run in the status store until
        # the spans are harvested at the end
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    return get_spark("perfbench", master=f"local[{cores or cpus()}]", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM the session launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------- untraced

def tail_percentile(samples_s) -> dict | None:
    """The highest percentile the sample supports (ten samples beyond it),
    in ms; None when even the median does not qualify."""
    from perfbench.stats import highest_supported_percentile, percentile

    p = highest_supported_percentile(len(samples_s))
    if p is None:
        return None
    return {"p": p, "ms": percentile(samples_s, p) * 1000.0, "n": len(samples_s)}


def run_tail_live(spark, work, seed, seconds, session_s) -> tuple[dict, dict]:
    from perfbench import inputs, workloads as w
    from perfbench.stats import median

    src, gen_s = inputs.tail_files(CHECKOUT, seed, w.tail_files_needed(seconds))
    t0 = time.monotonic()
    pipe = w.build_tail_table(spark, os.path.join(work, "pages"))
    build_s = time.monotonic() - t0
    res = w.run_tail(spark, pipe, os.path.join(work, "tail"), src, w.measured_files(seconds))
    chk = w.check_tail_table(spark, pipe.table_path, src, res["n_lsn"])
    if not res["freshness_s"]:
        raise RuntimeError("no measured file committed")
    failed = res["attempted"] - res["committed"] if chk["ok"] else res["attempted"]
    metrics = {
        # the starting state of the measured window: the table after the
        # warm-up files, built by the engine's own stream
        "setup_s": session_s + build_s + res["warmup_s"],
        "op_p50_ms": median(res["freshness_s"]) * 1000.0,
    }
    detail = {
        "gen_s": gen_s, "session_s": session_s, "build_s": build_s,
        "warmup_s": res["warmup_s"],
        "freshness_ms": [round(x * 1000, 1) for x in res["freshness_s"]],
        "freshness_tail": tail_percentile(res["freshness_s"]),
        "events_per_apply_s": res["events_applied"] / sum(res["apply_walls_s"]),
        "apply_walls_s": [round(x, 3) for x in res["apply_walls_s"]],
        "generator_late_ms_max": max(res["late_s"], default=0.0) * 1000,
        "backlog_max_files": max(res["backlog"], default=0),
        "check": chk,
    }
    return {"attempted": res["attempted"], "failed": failed, "metrics": metrics}, detail


def run_incremental_ingest(spark, work, seed, seconds, session_s) -> tuple[dict, dict]:
    from perfbench import inputs, workloads as w
    from perfbench.stats import median

    src, gen_s = inputs.incremental_tables(CHECKOUT, seed)
    t0 = time.monotonic()
    indexes = w.build_indexes(spark, os.path.join(work, "indexes"))
    build_s = time.monotonic() - t0
    k = w.batches_for(seconds)
    res = w.run_incremental(spark, indexes, src, k)
    t0 = time.monotonic()
    ok = w.check_incremental(src, res["results"])
    check_s = time.monotonic() - t0
    failed = k * sum(1 for v in ok.values() if not v)
    metrics = {
        # the starting state: empty index pairs, then each family's base batch
        "setup_s": session_s + build_s + res["setup_s"],
        "op_p50_ms": median(res["rounds"]) * 1000.0,
    }
    detail = {
        "gen_s": gen_s, "session_s": session_s, "build_s": build_s,
        "base_s": res["base_s"], "rounds_s": res["rounds"],
        "items_per_ingest_s": res["items"] / sum(res["rounds"]),
        "batch_s": res["walls"], "check": ok, "check_s": check_s,
        "dedup_bridges": sum(len(r["bridges"]) for r in res["results"]["dedup"]),
    }
    return {"attempted": k * len(w.FAMILIES), "failed": failed, "metrics": metrics}, detail


# ---------------------------------------------------------------- traced

def run_traced(spark, work, workload, seed, seconds) -> tuple[dict, dict]:
    """Both workloads in reduced form, every Spark-running entry point
    spanned, then the isolated lazy-layer probes. The per-layer metric set
    is the same whichever workload is named."""
    from pyspark.sql import functions as F

    from migration_pair_spark.lakehouse.table import LakeTable
    from perfbench import inputs, workloads as w
    from perfbench.stats import median
    from perfbench.trace import Tracer

    tracer = Tracer(spark, f"pb{seed}")
    tracer.install()
    m: dict = {}
    try:
        # -- tail_live, reduced: WARMUP_FILES + TRACED_TAIL_FILES files
        tail_src, _ = inputs.tail_files(CHECKOUT, seed, w.tail_files_needed(seconds))
        pipe = w.build_tail_table(spark, os.path.join(work, "pages"))
        tail = w.run_tail(spark, pipe, os.path.join(work, "tail"), tail_src,
                          TRACED_TAIL_FILES)
        chk = w.check_tail_table(spark, pipe.table_path, tail_src, tail["n_lsn"])
        if not chk["ok"]:
            raise RuntimeError(f"tail check failed: {chk}")
        reads = w.state_reads(spark, pipe.table_path, tail_src, tail["n_lsn"], seed, tracer)

        # a quarter of the buckets keeps the traced run short
        LakeTable.load(spark, pipe.table_path).compact(list(range(w.N_BUCKETS // 4)))
        # -- incremental_ingest, reduced: base + TRACED_BATCHES rounds
        inc_src, _ = inputs.incremental_tables(CHECKOUT, seed)
        indexes = w.build_indexes(spark, os.path.join(work, "indexes"))
        inc = w.run_incremental(spark, indexes, inc_src, TRACED_BATCHES)
        inc_ok = w.check_incremental(inc_src, inc["results"])
    finally:
        tracer.uninstall()
    probes = w.isolated_probes(spark, tail_src, inc_src)
    tracer.harvest()

    # -- cdc: the measured (post-warm-up) micro-batches
    W = w.WARMUP_FILES
    applies = tracer.by_name("cdc.apply")[W:]
    lineages = [out for _a, _b, out in pipe.applies[W:]]
    writes = tracer.by_name("lakehouse.append_delta_buckets")[W:]
    commit_s = [s["driver_only_s"] for s in writes]
    phase = [lin.get("phase_ms", {}) for lin in lineages]
    trees = [tracer.tree_stats(s) for s in applies]
    m["cdc.apply.wall_s"] = median([t["wall_s"] for t in trees])
    m["cdc.apply.gate_s"] = median([p.get("gate", 0) / 1000 for p in phase])
    m["cdc.apply.plan_s"] = median([p.get("plan", 0) / 1000 for p in phase])
    m["cdc.apply.write_s"] = median(
        [p.get("write_commit", 0) / 1000 - c for p, c in zip(phase, commit_s)]
    )
    m["cdc.apply.commit_s"] = median(commit_s)
    m["cdc.apply.jobs"] = median([t["jobs"] for t in trees])
    m["cdc.apply.driver_only_s"] = median([t["driver_only_s"] for t in trees])
    commits = tail["commits"][W:]
    m["cdc.runner.pickup_s"] = median(
        [f - t["wall_s"] for f, t in zip(tail["freshness_s"], trees)]
    )
    m["cdc.runner.post_apply_s"] = median(
        [c[1] - s["end"] for c, s in zip(commits, applies)]
    )
    m["cdc.lww.s"] = probes["cdc.lww.s"]
    for k in ("sources.debezium.parse_s", "sources.debezium.rows_per_s",
              "functions.extract.s", "functions.extract.rows_per_event"):
        m[k] = probes[k]

    # -- lakehouse
    def walls(name):
        return [s["end"] - s["start"] for s in tracer.by_name(name)]

    m["lakehouse.append_delta_s"] = median([s["end"] - s["start"] for s in writes])
    m["lakehouse.append_buckets_s"] = median(walls("lakehouse.append_buckets"))
    # replace_buckets runs in every compaction and in the index writes
    m["lakehouse.replace_buckets_s"] = median(walls("lakehouse.replace_buckets"))
    m["lakehouse.compact_s"] = median(walls("lakehouse.compact"))
    m["lakehouse.compactions"] = len(walls("lakehouse.compact"))
    # delta files one measured micro-batch added
    m["lakehouse.files_written"] = median([s["files_added"] for s in writes])
    m["lakehouse.files_per_bucket_max"] = reads["files_per_bucket_max"]
    lookups = tracer.by_name("lakehouse.lookup")[1:]
    lk = [tracer.tree_stats(s) for s in lookups]
    m["lakehouse.lookup.p50_ms"] = median(reads["lookup_walls_s"]) * 1000
    m["lakehouse.lookup.files_scanned"] = median(reads["lookup_files"])
    m["lakehouse.lookup.jobs"] = median([t["jobs"] for t in lk])
    m["lakehouse.lookup.driver_only_ms"] = median([t["driver_only_s"] for t in lk]) * 1000
    scan = tracer.tree_stats(tracer.by_name("lakehouse.read")[-1])
    m["lakehouse.read.files"] = reads["scan_files"]
    m["lakehouse.read.shuffle_bytes"] = scan["shuffle_bytes"]
    m["lakehouse.read.rows_per_s"] = reads["scan_rows"] / reads["scan_s"]

    # -- operators: the non-base batch of each family
    for fam in (f.name for f in w.FAMILIES):
        span = tracer.by_name(f"operators.incremental.{fam}")[-1]
        t = tracer.tree_stats(span)
        res = inc["results"][fam][-1]
        pre = f"operators.incremental.{fam}"
        m[f"{pre}.batch_s"] = t["wall_s"]
        m[f"{pre}.jobs"] = t["jobs"]
        m[f"{pre}.driver_only_s"] = t["driver_only_s"]
        m[f"{pre}.executor_run_s"] = t["executor_run_s"]
        m[f"{pre}.shuffle_bytes"] = t["shuffle_bytes"]
        m[f"{pre}.probe_buckets_ratio"] = (
            len(res["probe_buckets"]) / indexes[fam].index.n_buckets
        )
    dedup = inc["results"]["dedup"][-1]
    pairs = dedup["pairs"]
    n_pairs = pairs.count()
    m["operators.incremental.dedup.candidates"] = n_pairs
    m["operators.incremental.dedup.verified_ratio"] = (
        pairs.filter(F.col("jaccard") >= indexes["dedup"].threshold).count() / max(n_pairs, 1)
    )
    chunk = inc["results"]["chunk"][-1]
    m["operators.incremental.chunk.candidates"] = chunk["n_chunks"]
    m["operators.incremental.chunk.verified_ratio"] = (
        (chunk["n_chunks"] - chunk["n_kept"]) / max(chunk["n_chunks"], 1)
    )
    for k in ("operators.dedup.minhash_s", "operators.dedup.lsh_candidates_s",
              "operators.dedup.jaccard_verify_s"):
        m[k] = probes[k]

    # -- Spark metrics by layer: each span's self share
    for layer in ("cdc", "lakehouse", "operators"):
        spans = [s for s in tracer.spans if s["name"].split(".")[0] == layer]
        m[f"spark.{layer}.self_s"] = sum(s["self_s"] for s in spans)
        for key in ("jobs", "stages", "tasks", "executor_run_s",
                    "shuffle_read_bytes", "shuffle_write_bytes", "input_bytes"):
            m[f"spark.{layer}.{key}"] = sum(s[key] for s in spans)

    m["tail.generator_late_ms_max"] = max(tail["late_s"], default=0.0) * 1000
    m["tail.backlog_max_files"] = max(tail["backlog"], default=0)
    # the same lookups inside a span and its job group ÷ outside
    m["trace.overhead_ratio"] = (
        median(reads["lookup_traced_walls_s"]) / median(reads["lookup_walls_s"])
    )

    attempted = tail["attempted"] + reads["lookups"] + TRACED_BATCHES * len(w.FAMILIES)
    failed = (tail["attempted"] - tail["committed"]) + reads["wrong"]
    failed += TRACED_BATCHES * sum(1 for v in inc_ok.values() if not v)
    detail = {"tail_check": chk, "incremental_check": inc_ok,
              "freshness_ms": [round(x * 1000, 1) for x in tail["freshness_s"]],
              # compare with the untraced tail_live op_p50_ms of the same seed
              "freshness_p50_ms_traced": median(tail["freshness_s"]) * 1000.0,
              "lookup_ms": [round(x * 1000, 1) for x in reads["lookup_walls_s"]],
              "lookup_traced_ms": [round(x * 1000, 1) for x in reads["lookup_traced_walls_s"]],
              "lookup_tail": tail_percentile(reads["lookup_walls_s"])}
    write_spans(tracer, workload, seed, detail)
    return {"attempted": attempted, "failed": min(failed, attempted), "metrics": m}, detail


def write_spans(tracer, workload: str, seed: int, detail: dict) -> None:
    """Spans plus a per-span-name self-time table, written once at the end."""
    table: dict = {}
    for s in tracer.spans:
        row = table.setdefault(s["name"], {"calls": 0, "wall_s": 0.0, "self_s": 0.0,
                                           "driver_only_s": 0.0, "jobs": 0,
                                           "executor_run_s": 0.0})
        row["calls"] += 1
        row["wall_s"] += s["end"] - s["start"]
        for k in ("self_s", "driver_only_s", "jobs", "executor_run_s"):
            row[k] += s[k]
    out_dir = os.path.join(CHECKOUT, ".perfbench", "traces")
    os.makedirs(out_dir, exist_ok=True)
    spans = [{k: v for k, v in s.items() if k != "stage_intervals"} for s in tracer.spans]
    with open(os.path.join(out_dir, f"spans-{workload}-{seed}.json"), "w") as f:
        json.dump({"spans": spans, "self_time": table}, f, indent=1)
    detail["self_time"] = {k: {kk: round(vv, 3) for kk, vv in v.items()} for k, v in table.items()}


# ---------------------------------------------------------------- main

def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(CHECKOUT, "migration_pair_spark")):
        print("perfbench: the migration_pair_spark package is not in this "
              "checkout; nothing to measure", file=sys.stderr)
        return 2
    sys.path.insert(0, CHECKOUT)
    work = os.path.join(CHECKOUT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    from perfbench.box import calibrate, cpu_ticks, steal_share
    from perfbench.procs import become_subreaper, reap_all

    become_subreaper()
    # a termination request unwinds through the finally blocks below, which
    # stop the JVM and end every child
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ticks = cpu_ticks()
    try:
        cal_pre = calibrate(cpus())
        t0 = time.monotonic()
        spark = start_spark(work, bool(args.trace))
        session_s = time.monotonic() - t0
        try:
            if args.trace:
                result, detail = run_traced(spark, work, args.workload, args.seed, args.seconds)
            elif args.workload == "tail_live":
                result, detail = run_tail_live(spark, work, args.seed, args.seconds, session_s)
            else:
                result, detail = run_incremental_ingest(
                    spark, work, args.seed, args.seconds, session_s)
        finally:
            stop_spark(spark)
        cal_post = calibrate(cpus())
    finally:
        procs_left = reap_all()
        shutil.rmtree(work, ignore_errors=True)
    cal = {"pre_s": cal_pre, "post_s": cal_post,
           "cal_ratio": max(cal_pre, cal_post) / min(cal_pre, cal_post),
           "steal_share": steal_share(ticks, cpu_ticks())}
    detail["box"] = cal
    detail["procs_left"] = procs_left
    if args.trace:
        result["metrics"]["box.cal_ratio"] = cal["cal_ratio"]
        result["metrics"]["box.steal_share"] = cal["steal_share"]
    print(json.dumps({"workload": args.workload, "seed": args.seed, "detail": detail},
                      default=float))
    units = _units(bool(args.trace))
    out = {
        "correct": result["failed"] == 0,
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in result["metrics"].items()},
    }
    print(json.dumps(out), flush=True)
    return 0


def _units(traced: bool) -> dict:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if traced else "end_to_end"]}


if __name__ == "__main__":
    sys.exit(main())
