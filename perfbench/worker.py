"""One benchmark run in one fresh process: start Spark, warm up, run
the workload's rounds for the requested time, check the outputs, stop
Spark and wait for its JVM. ``run.py`` generates the inputs and starts
this script; see ``README.md`` for the workloads and metrics.

Writes one JSON result to ``--out``.
"""

from __future__ import annotations

import argparse
import csv
import glob
import hashlib
import json
import os
import random
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.getcwd()
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark import SparkContext  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from nass_summary_spark.plans import nass  # noqa: E402
from nass_summary_spark.plans.queries import QUERIES  # noqa: E402
from nass_summary_spark.session import get_spark  # noqa: E402
from nass_summary_spark.sources.readers import read_csv_clean, read_json_records  # noqa: E402
from nass_summary_spark.sources.writers import write_csv  # noqa: E402

from tracing import UNATTRIBUTED_TOLERANCE, Tracer  # noqa: E402

#: fixed session shape: recorded here and in README.md
K = 4
SESSION_CONFIGS = {
    "spark.ui.showConsoleProgress": "false",
    # the inputs are a few MB per table: split scans at row-group
    # granularity so every core gets work (bench.py does the same)
    "spark.sql.files.maxPartitionBytes": "4m",
    "spark.sql.files.openCostInBytes": "1m",
}
SHUFFLE_PARTITIONS = 8

#: the query mix: NASS-shaped A-block queries plus two from other
#: operator families (catalog presence, event windows). Every one has
#: a DuckDB oracle and a small output, so checking it costs less than
#: running it (README.md lists what was left out and why). The count
#: is odd on purpose: with every query run equally often, an even
#: count puts the median and the 90th percentile exactly between two
#: queries' latencies, where they jump from run to run.
QUERY_MIX = [
    "pricing_summary", "harvest_rollup", "rollup_unit_price",
    "rollup_avg_of_avgs", "yield_by_class_pivot", "total_and_sum_merge",
    "irrigation_split", "crosstab_matrix", "swap_apportion",
    "catalog_presence", "events_windowed",
]


def proctree_cpu(root: int) -> float:
    """CPU seconds (user + system, reaped children included) of
    ``root`` and every live descendant: the Python driver, the JVM
    and the Python workers."""
    tick = os.sysconf("SC_CLK_TCK")
    stats = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        fields = s[s.rindex(")") + 2:].split()
        stats[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for pid, (ppid, _) in stats.items():
            if ppid == p and pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    return sum(stats[p][1] for p in tree if p in stats) / tick


def stop_spark(spark) -> None:
    """Stop Spark and wait until its JVM has exited: the gateway JVM
    exits when its stdin closes."""
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------------------
# output digests (nass_etl)
# ---------------------------------------------------------------------------

def _norm_cell(v: str) -> str:
    """Doubles rounded to 6 significant digits: Spark float sums can
    reorder between runs and move the last digits."""
    try:
        return f"{float(v):.6g}"
    except ValueError:
        return v


def read_export(path: str) -> list[list[str]]:
    """Rows of an exported CSV directory (header dropped), as strings."""
    rows = []
    for part in sorted(glob.glob(f"{path}/*.csv")):
        with open(part, newline="") as f:
            rows.extend(list(csv.reader(f))[1:])
    return rows


def digest(rows: list[list[str]]) -> str:
    h = hashlib.sha256()
    for r in sorted("\x1f".join(_norm_cell(c) for c in r) for r in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

class NassEtl:
    """One op = one reference pass over the nass schema: read the
    Quick Stats CSV, the crosswalk and the usda_api JSON, build every
    table of run_nass_pipeline, export each with write_csv."""

    #: one pass at local[4] on a 4-vCPU VM (sets the rounds a run makes)
    nominal_round_s = 40.0

    def __init__(self, spark, data_dir: str, work_dir: str, facts: dict, tracer):
        self.spark, self.d, self.work, self.facts, self.t = spark, data_dir, work_dir, facts, tracer
        self.exports: list[dict[str, str]] = []
        if tracer.enabled:
            # run_nass_pipeline reaches the rollup through this module name
            nass.tree_rollup_pg = tracer.wrap(nass.tree_rollup_pg, "operators.rollup", "operators")

    def warmup(self) -> None:
        # none: every run's single pass starts equally cold, and a
        # warm-up read of the inputs would cost the run budget about 6 s
        pass

    def _ingest(self):
        qs = nass.load_quickstats_csv(self.spark, f"{self.d}/quickstats.csv")
        api = read_json_records(self.spark, f"{self.d}/usda_api.json")
        region = read_csv_clean(self.spark, f"{self.d}/usda_region.csv")
        self.counts = (qs.count(), api.count())
        return qs, api, region

    def round(self, rng) -> list[str]:
        return ["pass"]

    def op(self, name: str) -> None:
        t = self.t
        with t.span("sources.ingest", "sources"):
            qs, api, region = self._ingest()
        with t.span("plans.build", "plans"):
            tables = nass.run_nass_pipeline(qs, region, api)
        out = {}
        for tname, df in tables.items():
            path = f"{self.work}/{name}{len(self.exports)}/{tname}"
            with t.span("sources.export", "sources"):
                write_csv(pg_arrays(df), path, single_file=True)
            t.count("sources.export_bytes", sum(os.path.getsize(p) for p in glob.glob(f"{path}/*")))
            out[tname] = path
        self.exports.append(out)

    def check(self) -> list[str]:
        """Failures found in the exports of every pass (empty = pass)."""
        f = self.facts
        errors = []
        if self.counts != (f["quickstats_distinct"], f["api_records"]):
            errors.append(f"ingest counts {self.counts}")
        digests = []
        for out in self.exports:
            rows = {k: read_export(p) for k, p in out.items()}
            errors += [f"{k}: empty export" for k, r in rows.items() if not r]
            n = len(f["counties"])
            n_asd = len({(c[:2], a) for c, a in f["asd"].items()})
            n_states = len({c[:2] for c in f["counties"]})
            expect = {
                "county_adc": n,
                "location": n + n_asd + n_states,
                "stats_location": f["census_rows"],
                "land_rent": len(f["rent_rows"]),
                "explicit_yield": f["explicit_yield_rows"],
            }
            for k, v in expect.items():
                if len(rows[k]) != v:
                    errors.append(f"{k}: {len(rows[k])} rows, expected {v}")
            # no suppressed value reaches stats_location: every value parses
            if any(not r[3] or r[3].startswith("(") for r in rows["stats_location"]):
                errors.append("stats_location: suppressed or empty value")
            # land_rent rows equal the generated rent rows
            rent = sorted((r[0], r[1], r[6], float(r[5])) for r in rows["land_rent"])
            if rent != [tuple(x) for x in f["rent_rows"]]:
                errors.append("land_rent: rows differ from the generated rent rows")
            digests.append({k: (len(r), digest(r)) for k, r in rows.items()})
        if any(d != digests[0] for d in digests):
            errors.append("exports differ between passes")
        self.digests = digests[0] if digests else {}
        return errors

    def failed_ops(self, op_names: list[str]) -> set[int]:
        return set(range(len(op_names)))


def pg_arrays(df):
    """CSV cannot hold arrays: render them as PostgreSQL array text
    ``{a,b}``, the way the reference's psql exports do."""
    return df.select(*[
        F.concat(F.lit("{"), F.array_join(c.name, ","), F.lit("}")).alias(c.name)
        if c.dataType.typeName() == "array" else F.col(c.name)
        for c in df.schema.fields
    ])


class QueryMix:
    """One op = ``QUERIES[name](spark, dir)`` followed by ``.count()``,
    the action bench.py times. One round runs every query of
    QUERY_MIX once, in a seeded order."""

    nominal_round_s = 6.0

    def __init__(self, spark, data_dir: str, work_dir: str, facts: dict, tracer):
        self.spark, self.d, self.t = spark, data_dir, tracer
        #: row counts the timed ops saw, per query
        self.counts: dict[str, set[int]] = {}

    def warmup(self) -> None:
        # one pass of the timed op; a second would take the run over its
        # budget on a slow host (README.md, "What was left out")
        for name in QUERY_MIX:
            QUERIES[name](self.spark, self.d).count()

    def round(self, rng) -> list[str]:
        order = list(QUERY_MIX)
        rng.shuffle(order)
        return order

    def op(self, name: str) -> None:
        t = self.t
        with t.span("plans.build", "plans"):
            df = QUERIES[name](self.spark, self.d)
        if t.enabled:
            # ROADMAP D1 recipe: plan the Dataset that actually runs and
            # read its QueryPlanningTracker phases, then execute it
            with t.span("catalyst.plan", "catalyst"):
                agg = df.groupBy().count()
                qe = agg._jdf.queryExecution()
                qe.executedPlan()
            phases = qe.tracker().phases()
            for ph in ("analysis", "optimization", "planning"):
                p = phases.get(ph)
                if p.isDefined():
                    t.count(f"catalyst.{ph}_s", p.get().durationMs() / 1000.0)
            with t.span("exec.action", "exec"):
                n = agg.collect()[0][0]
        else:
            n = df.count()
        self.counts.setdefault(name, set()).add(n)

    def check(self) -> list[str]:
        """Each query against its DuckDB oracle on the same files, with
        tools/verify_oracle.py's ``compare``; every timed count must
        equal the rows compare() collected."""
        import duckdb

        from tools import verify_oracle

        verify_oracle.sf_dir = self.d  # compare() reads the module-level data dir
        con = duckdb.connect()
        for p in glob.glob(f"{self.d}/*.parquet"):
            con.execute(f"CREATE VIEW {os.path.basename(p).removesuffix('.parquet')} AS SELECT * FROM '{p}'")
        errors = []
        self.failed_queries = set()
        for name in QUERY_MIX:
            r = verify_oracle.compare(name, self.spark, con)
            if r.get("status") != "OK":
                errors.append(f"{name}: {json.dumps(r, default=str)[:300]}")
            elif self.counts.get(name, set()) - {r["spark_rows"]}:
                errors.append(f"{name}: timed counts {sorted(self.counts[name])}, compare() rows {r['spark_rows']}")
            else:
                continue
            self.failed_queries.add(name)
        return errors

    def failed_ops(self, op_names: list[str]) -> set[int]:
        return {i for i, n in enumerate(op_names) if n in self.failed_queries}


WORKLOADS = {"nass_etl": NassEtl, "query_mix": QueryMix}


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--facts", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(args.facts) as f:
        facts = json.load(f)

    configs = dict(SESSION_CONFIGS)
    configs["spark.sql.warehouse.dir"] = f"{args.work}/warehouse"
    configs["spark.driver.extraJavaOptions"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    if args.trace:
        # the status REST API serves the per-stage metrics; timed runs
        # keep the UI off
        configs.update({
            "spark.ui.enabled": "true",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })

    load_start = os.getloadavg()
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{K}]", shuffle_partitions=SHUFFLE_PARTITIONS,
                      extra_configs=configs)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    tracer = Tracer(spark, enabled=bool(args.trace))
    wl = WORKLOADS[args.workload](spark, args.data, args.work, facts, tracer)
    wl.warmup()
    t2 = time.perf_counter()

    rng = random.Random(args.seed)
    op_names, op_walls = [], []
    raised = set()
    cpu0, w0 = proctree_cpu(os.getpid()), time.time()
    start = time.perf_counter()
    # a run is a fixed number of rounds: --seconds over the nominal
    # round time, so every run of a workload does the same work
    planned = max(1, round(args.seconds / wl.nominal_round_s))
    n_rounds = 0
    while n_rounds < planned:
        for name in wl.round(rng):
            s = time.perf_counter()
            try:
                with tracer.op(name):
                    wl.op(name)
            except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
                raised.add(len(op_names))
                traceback.print_exc()
            op_walls.append(time.perf_counter() - s)
            op_names.append(name)
        n_rounds += 1
        if time.perf_counter() - start > 4 * args.seconds:
            break  # far slower than nominal: stop before the run is cut
    t3 = time.perf_counter()
    cpu, w1 = proctree_cpu(os.getpid()) - cpu0, time.time()
    load_end = os.getloadavg()
    for name, w in zip(op_names, op_walls):
        print(f"op {name} {w:.3f}", file=sys.stderr)

    # a failed output check fails every op whose output it covers
    errors = wl.check()
    print(f"phases: session {t1 - t0:.1f}s warm-up {t2 - t1:.1f}s timed {t3 - start:.1f}s "
          f"check {time.perf_counter() - t3:.1f}s", file=sys.stderr)
    bad = wl.failed_ops(op_names) if errors else set()
    failed = len(raised | bad)

    q = statistics.quantiles(op_walls, n=10, method="inclusive") if len(op_walls) > 1 else [op_walls[0]] * 9
    result = {
        "attempted": len(op_names),
        "failed": failed,
        "errors": errors,
        "rounds": n_rounds,
        "ops": len(op_walls),
        "loadavg": [load_start, load_end],
        "metrics": {
            "wall_s": ((t3 - start) / n_rounds, "s"),
            "cpu_s": (cpu / n_rounds, "s"),
            "setup_s": (t2 - t0, "s"),
            "op_p50_s": (statistics.median(op_walls), "s"),
            "op_p90_s": (q[8], "s"),
        },
        "digests": getattr(wl, "digests", None),
    }
    if args.trace:
        result["layers"] = tracer.report(
            window=(w0, w1), rounds=n_rounds, k=K,
            session=(t1 - t0, t2 - t1), op_wall=sum(op_walls),
        )
        result["spans"] = tracer.spans
        if result["layers"]["trace.unattributed_share"][0] > UNATTRIBUTED_TOLERANCE:
            errors.append("layer self times leave too much of the op wall time unattributed")
    stop_spark(spark)
    with open(args.out, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
