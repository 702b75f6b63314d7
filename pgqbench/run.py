"""Run one workload of the SQL/PGQ benchmark and print its metrics.

    python3 pgqbench/run.py --workload interactive --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  The run generates its inputs from the
seed, sets the engine up several times (the median is `setup_s`), runs an
untimed warm-up and then the workload's fixed operation sequence through
the engine's public API with one closed-loop client, checks every answer
against `check.Reference` outside the timed interval, and prints one
`name value unit` line per metric followed by a one-line JSON summary.
`--trace 1` runs the sequence untraced, with the span wrappers installed,
and untraced again, and reports the per-layer metrics instead.  The exit
code is 0 only when every answer was right.  Generated files, Spark's
scratch space, the full report and the span file live under
`.pgqbench-work/` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".pgqbench-work")
SETUP_REPS = 3
JVM_HEAP = "2g"
# HotSpot compiles a method after 10x fewer calls than by default, so the
# driver-side code paths (Catalyst, py4j dispatch) are compiled within the
# first query of each kind instead of over minutes; this is what makes a
# fresh session's timings repeatable (see README.md)
JVM_OPTS = "-XX:CompileThresholdScaling=0.1 -XX:ReservedCodeCacheSize=512m"
P90_MIN_SAMPLES = 100
KIND_METRICS = {
    "pagerank": "pagerank_s",
    "wcc": "wcc_s",
    "lcc": "lcc_s",
    "shortest_path": "shortest_path_s",
    "cheapest_path": "cheapest_path_s",
    "reach_1_3": "reach_1_3_s",
}


@dataclass
class Result:
    qid: str
    kind: str
    args: tuple
    version: int
    seconds: float
    rows: list | None
    error: str | None


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Bench:
    def __init__(self, args, run_dir: str):
        from duckpgq_extension_spark import PGQSession, get_spark

        from pgqbench import gen, workloads

        self.args = args
        self.gen, self.workloads = gen, workloads
        self._PGQSession, self._get_spark = PGQSession, get_spark
        self.data_dir = os.path.join(run_dir, "data")
        self.spark_dir = os.path.join(run_dir, "spark-local")
        tmp = os.path.join(run_dir, "tmp")
        for d in (self.spark_dir, tmp):
            os.makedirs(d, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = None
        # for every JVM spark-submit starts, the launcher included: no
        # performance-counter file in the system temp directory
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        self.conf = {
            "spark.driver.memory": JVM_HEAP,
            "spark.local.dir": self.spark_dir,
            "spark.driver.extraJavaOptions": JVM_OPTS,
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.hadoop.hadoop.tmp.dir": os.path.join(run_dir, "hadoop"),
            "spark.ui.retainedJobs": "10000",
            "spark.ui.retainedStages": "50000",
        }
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = self.pgq = self.ds = self.files = None
        self.knows_batches: list[str] = []
        self.tracer = None
        self._seen_stages: set[int] = set()

    # -- set-up ---------------------------------------------------------
    def setup(self) -> dict[str, float]:
        """Session start, data generation, view registration, graph DDL and
        one untimed warm query; returns the time of each phase."""
        clock = time.perf_counter
        t0 = clock()
        self.spark = self._get_spark(
            app_name="pgqbench", cpus=self.cpus, shuffle_partitions=self.cpus,
            extra_conf=self.conf,
        )
        t1 = clock()
        shutil.rmtree(self.data_dir, ignore_errors=True)
        self.ds = self.gen.generate(self.args.seed)
        self.files = self.gen.write_base(self.ds, self.data_dir)
        t2 = clock()
        self.knows_batches = []
        for name, path in self.files.items():  # a table is the directory of its files
            self.spark.read.parquet(os.path.dirname(path)).createOrReplaceTempView(name)
        t3 = clock()
        self.pgq = self._PGQSession(self.spark)
        self.pgq.execute(self.workloads.GRAPH_DDL)
        t4 = clock()
        self.pgq.sql(self.workloads.warm_query(self.ds).sql).collect()
        t5 = clock()
        return {
            "setup.session_s": t1 - t0, "setup.generate_s": t2 - t1,
            "setup.register_s": t3 - t2, "setup.ddl_s": t4 - t3,
            "setup.warm_s": t5 - t4, "setup_s": t5 - t0,
        }

    def next_job_id(self) -> int:
        return self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    # -- the timed sequence ---------------------------------------------
    def apply_batch(self, c: int) -> None:
        """Append Knows batch `c` as a new file in the table's directory,
        re-register the view and replace the property graph."""
        path = self.gen.batch_path(self.data_dir, c)
        self.gen.write_table(self.ds.batches[c], path)
        self.knows_batches.append(path)
        self.spark.read.parquet(os.path.dirname(path)).createOrReplaceTempView("knows")
        self.pgq.execute(self.workloads.GRAPH_DDL)

    def run_op(self, op) -> Result:
        tracer = self.tracer
        if tracer is not None:
            tracer.qid = op.qid
            span = tracer.open("update" if op.kind == "update" else "query")
            span.attrs["job0"] = self.next_job_id()
        rows = error = None
        t0 = time.perf_counter()
        try:
            if op.kind == "update":
                self.apply_batch(op.args[0])
            else:
                df = self.pgq.sql(op.sql)
                if tracer is None:
                    rows = df.collect()
                else:
                    with tracer.span("spark.plan"):
                        df._jdf.queryExecution().executedPlan()
                    with tracer.span("spark.action"):
                        rows = df.collect()
        except Exception as exc:  # noqa: BLE001 - a failed query is a result, not a crash
            first_line = (str(exc).strip().splitlines() or [""])[0]
            error = f"{type(exc).__name__}: {first_line[:300]}"
        seconds = time.perf_counter() - t0
        if tracer is not None:
            tracer.close(span)
            span.attrs["job1"] = self.next_job_id()
        return Result(op.qid, op.kind, op.args, op.version, seconds, rows, error)

    def run_sequence(self, ops) -> tuple[list[Result], float]:
        t0 = time.perf_counter()
        results = [self.run_op(op) for op in ops]
        return results, time.perf_counter() - t0

    def count_tasks(self, spans) -> None:
        """Attach to each query span the tasks its Spark jobs completed,
        each stage counted once per run (a reused stage runs no tasks)."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        status = sc.statusTracker()
        for s in spans:
            if s.name not in ("query", "update"):
                continue
            tasks = 0
            for jid in range(s.attrs.pop("job0"), s.attrs.pop("job1")):
                info = status.getJobInfo(jid)
                for sid in info.stageIds if info is not None else ():
                    if sid in self._seen_stages:
                        continue
                    self._seen_stages.add(sid)
                    stage = status.getStageInfo(sid)
                    tasks += stage.numCompletedTasks if stage is not None else 0
            s.attrs["tasks"] = tasks

    def stop(self) -> None:
        stop_spark(self.spark)


def stop_spark(spark) -> None:
    """Stop Spark and the JVM behind it, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def check_results(results: list[Result], bench: Bench) -> list[dict]:
    """Failures (raised or wrong) by query id, checked against the
    independent reference."""
    from pgqbench import check

    failures = []
    ref = check.Reference(bench.files, bench.knows_batches)
    try:
        for r in results:
            if r.error is not None:
                failures.append({"qid": r.qid, "kind": r.kind, "error": r.error})
            elif r.kind != "update":
                want = ref.expected(r.kind, r.args, r.version)
                diff = check.compare(r.kind, check.canonical(r.kind, r.rows), want)
                if diff is not None:
                    failures.append({"qid": r.qid, "kind": r.kind, "wrong": diff})
    finally:
        ref.close()
    return failures


def latency_metrics(results: list[Result]) -> dict[str, float]:
    reads = [r.seconds for r in results if r.kind != "update"]
    m = {"latency_p50_s": statistics.median(reads), "latency_samples": len(reads)}
    if len(reads) >= P90_MIN_SAMPLES:
        m["latency_p90_s"] = statistics.quantiles(reads, n=10)[-1]
    for kind, name in KIND_METRICS.items():
        times = [r.seconds for r in results if r.kind == kind]
        if times:
            m[name] = statistics.median(times)
    updates = [r.seconds for r in results if r.kind == "update"]
    if updates:
        m["update_s"] = statistics.median(updates)
    return m


UNITS = {"jvm_peak_rss_mb": "MB", "failed_frac": "ratio", "trace.overhead_frac": "ratio",
         "paths.adj_cache_hit_ratio": "ratio", "latency_samples": "count"}


def unit_of(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    return "s" if name.endswith("_s") else "count"


def measure(bench: Bench, args) -> tuple[dict, list[Result], list]:
    """Returns (metrics, results, spans) for one invocation."""
    wl = bench.workloads
    if args.trace:
        metrics = bench.setup()
        del metrics["setup_s"]
    else:
        setups = []
        for rep in range(SETUP_REPS):
            if rep:
                bench.spark.stop()
            setups.append(bench.setup())
        metrics = {k: statistics.median(s[k] for s in setups) for k in setups[0]}
    warm, metrics["warmup_s"] = bench.run_sequence(wl.warm_up(args.workload, bench.ds))
    ops = wl.build(args.workload, bench.ds, args.seconds)
    results, metrics["wall_s"] = bench.run_sequence(ops)
    if not args.trace:
        metrics.update(latency_metrics(results))
        return metrics, warm + results, []

    # the same sequence twice more: traced, then untraced again (evolving
    # appends further batches each time).  Comparing the traced run with the
    # mean of the untraced runs either side of it cancels the steady
    # speed-up of a JVM that is still warming up.
    from pgqbench.spans import Tracer, layer_metrics

    def again(stream: int):
        if args.workload == "evolving":
            return wl.build(args.workload, bench.ds, args.seconds, stream=stream)
        return ops

    tracer = Tracer(job_counter=bench.next_job_id)
    tracer.install()
    bench.tracer = tracer
    try:
        traced, metrics["traced_wall_s"] = bench.run_sequence(again(1))
    finally:
        bench.tracer = None
        tracer.uninstall()
    after, metrics["untraced_wall_after_s"] = bench.run_sequence(again(2))
    bench.count_tasks(tracer.spans)
    metrics.update(layer_metrics(tracer.spans))
    untraced = (metrics["wall_s"] + metrics["untraced_wall_after_s"]) / 2
    metrics["trace.overhead_frac"] = metrics["traced_wall_s"] / untraced - 1.0
    return metrics, warm + results + traced + after, tracer.spans


def load_contract() -> dict:
    """BENCHMARK.json: which metrics the summary line carries."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import duckpgq_extension_spark
    except ImportError as exc:
        print(f"pgqbench: cannot import the engine package from {ROOT}: {exc}", file=sys.stderr)
        return 2
    engine = os.path.realpath(duckpgq_extension_spark.__file__)
    if not engine.startswith(os.path.realpath(ROOT) + os.sep):
        print(f"pgqbench: the engine was imported from {engine}, not from this checkout "
              f"({ROOT})", file=sys.stderr)
        return 2
    from pgqbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"pgqbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    contract = load_contract()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    run_dir = os.path.join(WORK, f"{tag}-{os.getpid()}")
    reports = os.path.join(WORK, "reports")
    os.makedirs(reports, exist_ok=True)
    bench = Bench(args, run_dir)
    try:
        metrics, results, spans = measure(bench, args)
        failures = check_results(results, bench)
        metrics["jvm_peak_rss_mb"] = jvm_peak_rss_mb(
            bench.spark.sparkContext._gateway.proc.pid
        )
    finally:
        bench.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = len(results)
    metrics["failed_frac"] = len(failures) / attempted
    with open(os.path.join(reports, f"{tag}.json"), "w") as f:
        json.dump({"args": vars(args), "cpus": bench.cpus, "metrics": metrics,
                   "failures": failures,
                   "latencies": [[r.qid, r.kind, r.seconds] for r in results]}, f, indent=1)
    if spans:
        from pgqbench.spans import write_spans

        write_spans(spans, os.path.join(reports, f"{tag}-spans.jsonl"))

    print(f"# pgqbench {tag} cpus={bench.cpus} operations={attempted} "
          f"latency_samples={metrics.get('latency_samples')}")
    for name in sorted(metrics):
        value = metrics[name]
        print(f"{name} {value if value is not None else 'n/a'} {unit_of(name)}")
    for fail in failures:
        print(f"FAILED {json.dumps(fail)}")
    declared = contract["per_layer" if args.trace else "end_to_end"]
    summary = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in declared},
    }
    print(json.dumps(summary))
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
