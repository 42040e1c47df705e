#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {nass_etl,query_mix} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Generates the workload's inputs
(timed as ``bench.gen_s``: the NASS inputs from the seed; the sf0.1
tables, which are the same for every seed), runs ``worker.py`` in a fresh
process with its own Spark local and temp directories, removes them,
and prints one JSON line: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics, or with ``--trace 1`` the
per-layer ones). Everything it writes stays under ``.bench_data/`` in
the working directory. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".bench_data")
#: digests and wall_s of correct untraced runs, per workload and
#: version of the code (see code_key)
HISTORY = os.path.join(STATE, "history")
#: the spans of each traced run
TRACES = os.path.join(STATE, "traces")

#: NASS input size: counties drawn from the swap study area
NASS_COUNTIES = 40
#: a run is cut (and fails) after this long
WORKER_TIMEOUT_S = 170


def generate(workload: str, seed: int, data: str) -> dict:
    import gen

    if workload == "nass_etl":
        return gen.write_nass_inputs(data, seed, NASS_COUNTIES)
    # the engine's sf0.1 tables; the seed orders the ops instead
    gen.write_star_schema(data, gen.SF01_SEED)
    return {}


def code_key() -> str:
    """Hash of the engine and benchmark sources: outputs recorded by
    one version of the code are compared only with runs of the same
    version."""
    h = hashlib.sha256()
    for top in ("nass_summary_spark", "perfbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(d, name)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def kill_group(pgid: int) -> None:
    """Stop every process left in the worker's process group and wait
    until they are gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        for _ in range(50):
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def run_worker(args, run_dir: str, data: str, facts_path: str, trace: int) -> dict | None:
    out = os.path.join(run_dir, f"result-{trace}.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(
        os.environ,
        # per-run scratch: shuffle files, JVM and Python temp files
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        SPARK_GRAFT_DRIVER_MEM="2g",
        PYTHONHASHSEED="0",
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(trace),
        "--data", data, "--work", os.path.join(run_dir, f"work-{trace}"),
        "--facts", facts_path, "--out", out,
    ]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"worker timed out after {WORKER_TIMEOUT_S}s", file=sys.stderr)
    finally:
        kill_group(proc.pid)
        proc.wait()
    if proc.returncode != 0 or not os.path.exists(out):
        return None
    with open(out) as f:
        return json.load(f)


def history(workload: str) -> list[dict]:
    path = os.path.join(HISTORY, f"{workload}-{code_key()}.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def record(workload: str, res: dict, seed: int) -> None:
    """Keep a run that passed every check as a reference for later runs
    of the same code."""
    if res["errors"]:
        return
    os.makedirs(HISTORY, exist_ok=True)
    with open(os.path.join(HISTORY, f"{workload}-{code_key()}.jsonl"), "a") as f:
        f.write(json.dumps({
            "seed": seed, "wall_s": res["metrics"]["wall_s"][0],
            "loadavg": res["loadavg"], "digests": res.get("digests"),
        }) + "\n")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["nass_etl", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "nass_summary_spark", "__init__.py")):
        print("run from the repository root: nass_summary_spark/ not found", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    run_dir = os.path.join(STATE, f"run-{os.getpid()}")
    try:
        data = os.path.join(run_dir, "input")
        t = time.perf_counter()
        facts = generate(args.workload, args.seed, data)
        gen_s = time.perf_counter() - t
        facts_path = os.path.join(run_dir, "facts.json")
        with open(facts_path, "w") as f:
            json.dump(facts, f)

        if args.trace and not history(args.workload):
            # trace overhead needs an untraced wall time to compare with
            base = run_worker(args, run_dir, data, facts_path, 0)
            if base is None or base["errors"]:
                print("the untraced reference run failed", file=sys.stderr)
                return 1
            record(args.workload, base, args.seed)
        res = run_worker(args, run_dir, data, facts_path, args.trace)
        if res is None:
            return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    # outputs of one seed must not change between runs of the same code
    for h in history(args.workload):
        if h["seed"] == args.seed and h.get("digests") and res.get("digests") and h["digests"] != res["digests"]:
            res["errors"].append("export digests differ from an earlier run of this seed")
            res["failed"] = res["attempted"]
            break
    for e in res["errors"]:
        print(f"check failed: {e}", file=sys.stderr)
    print(f"rounds={res['rounds']} ops={res['ops']} loadavg={res['loadavg']}", file=sys.stderr)
    if args.trace:
        os.makedirs(TRACES, exist_ok=True)
        with open(os.path.join(TRACES, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump(res["spans"], f)
        metrics = res["layers"]
        wall = res["metrics"]["wall_s"][0]
        metrics["bench.gen_s"] = (gen_s, "s")
        untraced = statistics.median(h["wall_s"] for h in history(args.workload))
        metrics["bench.trace_overhead_s"] = (wall - untraced, "s")
    else:
        metrics = res["metrics"]
        record(args.workload, res, args.seed)
    print(json.dumps({
        "correct": not res["errors"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
