"""The repo benchmark. From the root of a checkout:

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> \
        --trace <0|1> [--queries subset|all] [--tables <dir>] [--heap <size>]

Builds the engine and the benchmark (perfbench/build.py), generates the
workload's inputs from the seed in a fresh directory, runs the workload in
one JVM and prints every metric by name with its unit, the output checks
and, with --trace 1, the per-layer tables. The last line of standard output
is the result object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json (--trace 0) or its per-layer
metrics (--trace 1). `--queries all` runs a whole registry instead of the
workload's subset; `--tables` points the query workloads at an existing
directory of the ten tables instead of generated ones; `--heap` sets the
JVM's maximum heap (default 3g). With --workload all
it runs each workload in turn and the last line sums the checks and
prefixes each metric with its workload.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen    # noqa: E402

WORKLOADS = ["star_olap", "curation_sql", "warehouse_etl", "curation_feed"]
JVM_TIMEOUT_S = 170
# scale factor of the generated tables: one five-second run must hold a
# cold warm-up pass plus two timed passes of the query subset
TABLES_SF = 0.01
# lineitem rows delivered as sales per warehouse cycle; they fall on about
# as many distinct ship dates, so each cycle appends about as many
# sale_date partition files
VENTES_PER = 100


def generate(workload: str, seed: int, inputs: str, seconds: float) -> None:
    # a cycle or a batch takes well over a second, so `seconds` + 6 of
    # them outlast any run
    ops = int(seconds) + 6
    if workload in ("star_olap", "curation_sql"):
        gen.tables(f"{inputs}/tables", seed, TABLES_SF)
    elif workload == "warehouse_etl":
        gen.warehouse(f"{inputs}/warehouse", seed, cycles=ops,
                      ventes_per=VENTES_PER)
    else:
        gen.feed(f"{inputs}/feed", seed, batches=ops, fresh_per=20,
                 doc_words=150)


def run_one(args, workload: str, jar: str) -> dict:
    runs = os.path.join(build.OUT, "runs")
    os.makedirs(runs, exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"{workload}-", dir=runs)
    proc = None
    try:
        inputs, work = f"{root}/inputs", f"{root}/work"
        os.makedirs(f"{work}/tmp")
        t0 = time.time()
        if not (args.tables and workload in ("star_olap", "curation_sql")):
            generate(workload, args.seed, inputs, args.seconds)
        print(f"[bench] {workload}: inputs generated in "
              f"{time.time() - t0:.2f} s (not part of setup_s)", flush=True)
        out = f"{root}/result.json"
        cmd = build.java(work, [
            "--workload", workload, "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--inputs", inputs, "--work", work,
            "--out", out, "--queries", args.queries] +
            (["--tables", os.path.abspath(args.tables)] if args.tables else []),
            f"-XX:SharedArchiveFile={build.ARCHIVE}", args.heap)
        log = open(f"{root}/jvm.log", "w")
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                                stderr=log, text=True,
                                start_new_session=True)
        limit = JVM_TIMEOUT_S if args.queries == "subset" else 3000
        try:
            stdout, _ = proc.communicate(timeout=limit)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"perfbench: {workload} exceeded {limit} s")
        finally:
            log.close()
        sys.stdout.write(stdout)
        sys.stdout.flush()
        if proc.returncode != 0 or not os.path.exists(out):
            with open(f"{root}/jvm.log") as f:
                sys.stderr.write(f.read()[-4000:])
            raise SystemExit(f"perfbench: {workload} JVM exited with "
                             f"code {proc.returncode}")
        with open(out) as f:
            return json.load(f)
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    # a terminated run still stops its JVM and deletes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True,
                   choices=WORKLOADS + ["all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--queries", choices=["subset", "all"], default="subset")
    p.add_argument("--tables")
    p.add_argument("--heap", default="3g")
    args = p.parse_args()
    t0 = time.time()
    jar = build.build()
    print(f"[bench] build ready in {time.time() - t0:.1f} s", flush=True)
    names = WORKLOADS if args.workload == "all" else [args.workload]
    results = {w: run_one(args, w, jar) for w in names}
    if len(names) == 1:
        res = results[names[0]]
    else:
        res = {"correct": all(r["correct"] for r in results.values()),
               "attempted": sum(r["attempted"] for r in results.values()),
               "failed": sum(r["failed"] for r in results.values()),
               "metrics": {f"{w}.{k}": v for w, r in results.items()
                           for k, v in r["metrics"].items()}}
    print(json.dumps(res))


if __name__ == "__main__":
    main()
