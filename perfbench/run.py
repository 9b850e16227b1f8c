"""Benchmark: the medallion pipeline and the Arrow/operator query mix.

    python3 perfbench/run.py --workload medallion_pipeline --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload arrow_operator_queries --seed 1 --seconds 10 --trace 1

One Python process, one closed-loop client on ``local[<cores>]``. The
seed makes the inputs: the bronze rows of the pipeline, the query order
of each pass. The medallion workload times one checked pipeline pass in
the fresh session; the query workload runs one checked warm-up pass,
then timed passes until ``--seconds`` have elapsed. A human summary goes
to stderr; the last stdout line is one JSON object
``{correct, attempted, failed, metrics}`` with the end-to-end metrics of
BENCHMARK.json (``--trace 0``) or its per-layer metrics from a traced run
(``--trace 1``, spans written to ``.perfbench_out/``). See README.md.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# 1,000 rows per source, a fifth of the reference's 5,000: a cold pass is
# ~30 s on 4 cores, most of it silver, and still writes ~3,400 files.
PIPELINE_ROWS = 1000
PIPELINE_STAGES = ("bronze", "silver", "merge", "gold")
# The repository's test fixture tables at one scale factor, copied
# unchanged into data/ (see README.md).
QUERY_DATA = os.path.join(HERE, "data", "sf0.001")
ARROW_QUERIES = (
    "bootstrap_ci", "fa_scores_summary", "mc_scenarios", "sim_cosine_topk_ivf_trained",
    "text_docsim_topk", "dedup_minhash_lsh", "dedup_embedding_srp", "sketch_quantile_kmv",
    "stream_ks_drift", "clean_full_kernel",
)
WORKLOADS = ("medallion_pipeline", "arrow_operator_queries")

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "latency_p50_s": "s",
    "success_rate": "ratio",
}
SELF_LAYERS = ("bench", "pipeline", "queries", "queries.build", "queries.exec", "operators", "trace")


def per_layer_units() -> dict[str, str]:
    from tracing import SPARK_COUNTERS, WRAPPED_OPERATORS

    units = {
        "session.get_spark_s": "s",
        "session.warmup_s": "s", "sources.load_table_s": "s",
    }
    for st in PIPELINE_STAGES:
        units.update({
            f"pipeline.{st}_s": "s", f"pipeline.{st}.jobs": "count",
            f"pipeline.{st}.tasks": "count", f"pipeline.{st}.files": "count",
            f"pipeline.{st}.rows_per_file": "rows",
        })
    units["pipeline.files_written"] = "count"
    units["pipeline.bytes_per_input_byte"] = "ratio"
    for mod, fns in WRAPPED_OPERATORS.items():
        units.update({f"operators.{mod}.{fn}_s": "s" for fn in fns})
    for q in ARROW_QUERIES:
        units.update({f"q.{q}.build_s": "s", f"q.{q}.exec_s": "s", f"q.{q}.jobs": "count"})
    for c in SPARK_COUNTERS:
        units[c] = "s" if c.endswith("_s") else "ms" if c.endswith("_ms") else (
            "bytes" if c.endswith("bytes") else "count")
    units.update({f"self.{layer}_s": "s" for layer in SELF_LAYERS})
    units.update({
        "trace.span_coverage_min": "ratio", "bench.pass_s": "s",
        "bench.passes": "count", "bench.ops": "count",
    })
    units["memory.peak_rss_mb"] = "MB"
    return units


def pass_order(names, seed: int, pass_idx: int) -> list[str]:
    """The query order of one pass: a shuffle seeded by (seed, pass)."""
    order = list(names)
    random.Random(seed * 1_000_003 + pass_idx).shuffle(order)
    return order


def median_hd(values) -> float:
    """The Harrell-Davis estimate of the median: the mean of the sorted
    values weighted by the Beta((n+1)/2, (n+1)/2) probability of each
    1/n-wide slice of [0, 1], integrated by the midpoint rule.

    A timed pass holds ten different queries, so the sample median is the
    mean of the 5th and 6th latency, and it moved by up to 10% between
    passes of one run as queries traded places around the middle. This
    estimate draws on the middle four to six latencies and moved about as
    little as the pass total (coefficient of variation over six passes:
    0.045, sample median 0.061, pass total 0.041). No value is dropped."""
    x = sorted(values)
    n, steps = len(x), 256
    a = (n + 1) / 2
    weights = [
        sum(math.exp((a - 1) * math.log(t * (1 - t)))
            for t in ((i + (k + 0.5) / steps) / n for k in range(steps)))
        for i in range(n)
    ]
    return sum(w * v for w, v in zip(weights, x)) / sum(weights)


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - PROCESS_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _driver_pids() -> tuple[int, int]:
    """The Python driver and its JVM child."""
    from pyspark import SparkContext

    return os.getpid(), SparkContext._gateway.proc.pid


def reset_peak_rss() -> None:
    """Reset the peak RSS of the driver and its JVM to their current RSS,
    so the peak read later covers only what ran in between."""
    for pid in _driver_pids():
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def peak_rss_mb() -> float:
    """Summed VmHWM of the Python driver and its JVM child, in MiB."""
    total = 0.0
    for pid in _driver_pids():
        with open(f"/proc/{pid}/status") as f:
            total += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:")) / 1024
    return total


class Run:
    """State of one benchmark run: session, counts, passes and spans."""

    def __init__(self, args, work: str) -> None:
        from tracing import Tracer

        self.args, self.work = args, work
        self.tracer = Tracer(args.trace == 1)
        self.probe = None
        self.spark = None
        self.lake = QUERY_DATA
        self.attempted = self.failed = 0
        self.setup_times: dict[str, float] = {}
        self.passes: list[dict] = []

    # --- set-up -----------------------------------------------------------

    def setup(self) -> None:
        """The cold set-up, timed from process start: imports, JVM launch,
        a new session, a warm-up job, and the table/footer loads."""
        from urban_traffic_data_lake_project_spark.session import get_spark
        from urban_traffic_data_lake_project_spark.sources import TESTDATA_TABLES, load_table

        tmp = os.path.join(self.work, "tmp")
        self.spark = get_spark(
            "perfbench",
            master=f"local[{len(os.sched_getaffinity(0))}]",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            },
        )
        t0, t1 = PROCESS_START, time.perf_counter()
        self.spark.range(0, 100_000, numPartitions=4).selectExpr("sum(id)").collect()
        t2 = time.perf_counter()
        if self.args.workload != "medallion_pipeline":
            for t in TESTDATA_TABLES:
                load_table(self.spark, self.lake, t)
        t3 = time.perf_counter()
        self.setup_times = {
            "setup_s": t3 - t0, "session.get_spark_s": t1 - t0,
            "session.warmup_s": t2 - t1, "sources.load_table_s": t3 - t2,
        }

    # --- ops ----------------------------------------------------------------

    def op(self, name: str, layer: str, op_id: int, fn) -> dict:
        """Run one op; returns its latency, success and (traced) counters."""
        rec = {"name": name, "ok": True, "counters": None}
        first = self.probe.next_job_id() if self.probe else 0
        e0, t0 = time.time(), time.perf_counter()
        try:
            with self.tracer.span(name, layer, op_id):
                rec.update(fn() or {})
        except Exception:
            traceback.print_exc()
            rec["ok"] = False
        rec["latency"] = time.perf_counter() - t0
        if self.probe:
            with self.tracer.span("trace.collect", "trace", op_id):
                rec["counters"] = self.probe.collect(first, e0, time.time())
        self.attempted += 1
        self.failed += not rec["ok"]
        return rec

    def query(self, name: str, op_id: int, collect: bool = False) -> dict:
        """One registry query, written to the noop sink, or collected to
        pandas (``result``) when its output is to be checked."""
        from urban_traffic_data_lake_project_spark.queries import REGISTRY

        spec = REGISTRY[name]

        def body():
            t0 = time.perf_counter()
            with self.tracer.span(f"q.{name}.build", "queries.build"):
                df = spec.fn(self.spark, self.lake)
            t1 = time.perf_counter()
            with self.tracer.span(f"q.{name}.exec", "queries.exec"):
                if collect:
                    result = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
            out = {"build_s": t1 - t0, "exec_s": time.perf_counter() - t1}
            if collect:
                out["result"] = result
            return out

        return self.op(name, "queries", op_id, body)

    def check_queries(self, ops: list[dict], oracles: dict) -> None:
        """Compare each collected result with its oracle result (a future);
        a mismatch fails the op."""
        from checks import query_problems

        for rec in ops:
            result = rec.pop("result", None)
            if not rec["ok"]:
                continue
            problems = query_problems(rec["name"], result, oracles[rec["name"]].result())
            if problems:
                print(f"{rec['name']} output check failed: {'; '.join(problems)}", file=sys.stderr)
                rec["ok"] = False
                self.failed += 1

    # --- passes ---------------------------------------------------------------

    def warmup_query_pass(self) -> None:
        """The untimed first pass: every query is collected and checked
        against DuckDB, which computes the oracle results beside it on one
        thread. The queries run one at a time, as in the timed passes:
        after a warm-up that ran three at once, the first timed pass still
        ran 10-25% slower than the passes after it, by a varying amount;
        after a one-at-a-time warm-up it did not."""
        from concurrent.futures import ThreadPoolExecutor
        from contextlib import closing

        from urban_traffic_data_lake_project_spark.testing import duckdb_con

        from checks import oracle_sql

        def oracle(con, name):
            sql = oracle_sql(name)
            return None if sql is None else con.execute(sql).df()

        order = pass_order(ARROW_QUERIES, self.args.seed, 0)
        with closing(duckdb_con(self.lake)) as con, ThreadPoolExecutor(max_workers=1) as pool:
            con.execute("SET threads TO 1")
            oracles = {q: pool.submit(oracle, con, q) for q in order}
            self.check_queries([self.query(q, i, True) for i, q in enumerate(order)], oracles)

    def query_pass(self, pass_idx: int) -> dict:
        order = pass_order(ARROW_QUERIES, self.args.seed, pass_idx)
        t0 = time.perf_counter()
        with self.tracer.span("pass", "bench") as root:
            ops = [self.query(q, i) for i, q in enumerate(order)]
        return {"wall": time.perf_counter() - t0, "ops": ops, "root": root, "peak_rss_mb": self.peak_rss()}

    def pipeline_pass(self) -> dict:
        from checks import lake_stats, pipeline_problems

        from urban_traffic_data_lake_project_spark.plans import pipeline as P

        paths = P.LayerPaths(os.path.join(self.work, "medallion"))
        seed, spark = self.args.seed, self.spark
        stages = {
            "bronze": lambda: P.run_bronze(spark, paths, PIPELINE_ROWS, seed),
            "silver": lambda: P.run_silver(spark, paths),
            "merge": lambda: P.run_merge(spark, paths),
            "gold": lambda: P.run_gold(spark, paths, seed),
        }
        ops: list[dict] = []
        t0 = time.perf_counter()
        with self.tracer.span("pass", "bench") as root:
            for i, st in enumerate(PIPELINE_STAGES):
                if ops and not ops[-1]["ok"]:
                    # a later stage cannot run without its input: it fails too
                    ops.append({"name": st, "ok": False, "latency": 0.0, "counters": None})
                    self.attempted += 1
                    self.failed += 1
                    continue
                ops.append(self.op(st, "pipeline", i, stages[st]))
        out = {"wall": time.perf_counter() - t0, "ops": ops, "root": root, "layer": {},
               "peak_rss_mb": self.peak_rss()}
        if all(o["ok"] for o in ops):
            for stage, problems in pipeline_problems(paths).items():
                rec = ops[PIPELINE_STAGES.index(stage)]
                if problems:
                    print(f"pipeline {stage} check failed: {problems}", file=sys.stderr)
                    if rec["ok"]:
                        rec["ok"] = False
                        self.failed += 1
            if self.tracer.enabled:
                out["layer"] = lake_stats(paths)
        shutil.rmtree(paths.base, ignore_errors=True)
        return out

    # --- metrics ------------------------------------------------------------

    def peak_rss(self) -> float | None:
        return peak_rss_mb() if self.tracer.enabled else None

    def end_to_end(self) -> dict[str, float]:
        if self.args.workload == "medallion_pipeline":
            # A user's operation is one whole pipeline run; the stage
            # times are the per-layer pipeline.<stage>_s.
            lat = [p["wall"] for p in self.passes if all(o["ok"] for o in p["ops"])]
        else:
            lat = [o["latency"] for p in self.passes for o in p["ops"] if o["ok"]]
        return {
            "setup_s": self.setup_times["setup_s"],
            "pass_s": statistics.median(p["wall"] for p in self.passes),
            "latency_p50_s": median_hd(lat or [0.0]),
            "success_rate": (self.attempted - self.failed) / self.attempted,
        }

    def per_layer(self) -> dict[str, float]:
        from tracing import SPARK_COUNTERS, self_times

        units = per_layer_units()
        per_pass = []
        for p in self.passes:
            vals = dict.fromkeys(units, 0.0)
            vals.update(p.get("layer", {}))
            for o in p["ops"]:
                c = o["counters"] or {}
                for k in SPARK_COUNTERS:
                    vals[k] += c.get(k, 0.0)
                if o["name"] in PIPELINE_STAGES:
                    vals[f"pipeline.{o['name']}_s"] = o["latency"]
                    vals[f"pipeline.{o['name']}.jobs"] = c.get("spark.jobs", 0.0)
                    vals[f"pipeline.{o['name']}.tasks"] = c.get("spark.tasks", 0.0)
                else:
                    vals[f"q.{o['name']}.build_s"] = o.get("build_s", 0.0)
                    vals[f"q.{o['name']}.exec_s"] = o.get("exec_s", 0.0)
                    vals[f"q.{o['name']}.jobs"] = c.get("spark.jobs", 0.0)
            root = p["root"]
            spans = [s for s in self.tracer.spans if root.start <= s.start and s.end <= root.end]
            for s in spans:
                if s.layer == "operators":
                    vals[f"{s.name}_s"] += s.end - s.start
            selfs = self_times(spans)
            for layer in SELF_LAYERS:
                vals[f"self.{layer}_s"] = selfs.get(layer, 0.0)
            vals["trace.span_coverage_min"] = 1.0 - selfs["bench"] / (root.end - root.start)
            vals["bench.ops"] = len(p["ops"])
            vals["bench.pass_s"] = p["wall"]
            per_pass.append(vals)
        out = {k: statistics.median(v[k] for v in per_pass) for k in units}
        out["trace.span_coverage_min"] = min(v["trace.span_coverage_min"] for v in per_pass)
        out["bench.passes"] = len(per_pass)
        for k in ("session.get_spark_s", "session.warmup_s", "sources.load_table_s"):
            out[k] = self.setup_times[k]
        out["memory.peak_rss_mb"] = max(p["peak_rss_mb"] for p in self.passes)
        return out


def execute(args, work: str) -> dict:
    """Set up, then run the checked passes of the workload."""
    run = Run(args, work)
    try:
        run.setup()
        log(f"set-up: {run.setup_times['setup_s']:.3f} s")
        if run.tracer.enabled:
            from tracing import SparkProbe

            run.probe = SparkProbe(run.spark)
            run.tracer.install_operator_wrappers()
        if args.workload == "medallion_pipeline":
            # One pipeline run per process, in the fresh session, as the
            # pipeline CLI runs it: a user pays the cold pass every time.
            if run.tracer.enabled:
                reset_peak_rss()
            run.passes.append(run.pipeline_pass())
            log(f"pass 1 (checked): {run.passes[-1]['wall']:.3f} s")
        else:
            run.warmup_query_pass()
            log(f"warm-up pass checked: {run.failed} of {run.attempted} ops failed")
            run.tracer.drop()
            if run.tracer.enabled:
                reset_peak_rss()
            t_start = time.perf_counter()
            while not run.passes or time.perf_counter() - t_start < args.seconds:
                run.passes.append(run.query_pass(len(run.passes) + 1))
                p = run.passes[-1]
                log(f"pass {len(run.passes)}: {p['wall']:.3f} s, median query "
                    f"{statistics.median(o['latency'] for o in p['ops']):.3f} s")
        if run.tracer.enabled:
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            run.tracer.write(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl"))
            run.tracer.uninstall()
            run.probe.close(run.spark)
        metrics, units = (run.per_layer(), per_layer_units()) if run.tracer.enabled else (
            run.end_to_end(), END_TO_END)
    finally:
        if run.spark is not None:
            shutdown(run.spark)
            log("spark and its JVM stopped")
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


def shutdown(spark) -> None:
    """Stop Spark, then its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def configure_env(work: str) -> None:
    """Keep every file the run writes inside ``work``, and let Python
    workers import the package from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_env(work)
    try:
        result = execute(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only if no other run is using it
    for name, m in result["metrics"].items():
        print(f"{name:45s} {m['value']:>16.6g} {m['unit']}", file=sys.stderr)
    print(f"correct={result['correct']} attempted={result['attempted']} failed={result['failed']}",
          file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
