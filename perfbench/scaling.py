"""Scaling diagnostic: the bulk copy-on-write merge (``--events`` events
onto a table built from as many earlier events, 32 buckets) at local[1]
and at local[nproc], each side in a process of its own, and an Amdahl fit
of the two median merge walls.

    python3 perfbench/scaling.py --seed 1 [--events 20000]

prints ``scaling.efficiency_1toN`` (T1 / (N * TN)) and
``scaling.serial_s_est`` (the serial seconds s of T(k) = s + p / k).
``--cores K`` runs one side only and prints its walls. The diagnostic is
kept out of the traced run of ``run.py``: two more JVMs would take that
run past its time limit."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

MERGES = 3


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--events", type=int, default=20_000)
    args = ap.parse_args()
    checkout = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, checkout)
    from perfbench import inputs, run
    from perfbench.stats import amdahl, median

    if args.cores is None:
        n = run.cpus()
        sides = {}
        for cores in (1, n):
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--cores", str(cores),
                 "--seed", str(args.seed), "--events", str(args.events)],
                capture_output=True, text=True, check=True,
            )
            sides[cores] = json.loads(out.stdout.strip().splitlines()[-1])
        eff, serial = amdahl(sides[1]["merge_s"], sides[n]["merge_s"], n)
        print(json.dumps({"scaling.efficiency_1toN": eff, "scaling.serial_s_est": serial,
                          "n": n, "sides": sides}))
        return 0

    work = os.path.join(checkout, ".perfbench", f"scaling-{os.getpid()}")
    run.prepare_env(work)
    try:
        src, _ = inputs.bulk_stream(checkout, args.seed, args.events)
        spark = run.start_spark(work, False, args.cores)
        try:
            from migration_pair_spark.cdc.runner import CHANGE_STREAM_SCHEMA, CdcPipeline

            def events(i):
                path = os.path.join(src, f"events-{i:05d}.parquet")
                return spark.read.schema(CHANGE_STREAM_SCHEMA).parquet(path)

            base = os.path.join(work, "base")
            CdcPipeline(table_path=base, n_buckets=32).apply_batch(spark, events(0), 0)
            walls, writes = [], []
            for r in range(MERGES):
                path = os.path.join(work, f"t{r}")
                shutil.copytree(base, path)
                t0 = time.monotonic()
                lin = CdcPipeline(table_path=path, n_buckets=32).apply_batch(spark, events(1), 1)
                walls.append(time.monotonic() - t0)
                writes.append(lin["phase_ms"].get("write_exec_ms", 0) / 1000)
        finally:
            run.stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"cores": args.cores, "merge_s": median(walls), "walls": walls,
                      "replace_buckets_s": median(writes)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
