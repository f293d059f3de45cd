"""KG-build benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload {plain_words,web_pages}
        --seed N --seconds S --trace {0,1}

Run from the repository root. The engine package is imported from there;
inputs, Spark scratch space and outputs live under ``.perfbench/`` in the
same directory and are removed at exit (kernel span files are kept under
``.perfbench/spans/``).

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``attempted`` counts
the jobs run. A failed output check exits with code 1, a missing engine
with code 2, a metric of ``BENCHMARK.json`` that no probe measured with
code 3.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPS = 3
MIN_WARM_JOBS = 2
TRACE_MIN_JOBS = 2
DRIVER_MEMORY = "2g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def isolate(root: str, work: str) -> None:
    """Keep the engine importable by Spark's Python workers and every
    scratch file (Spark local dirs, JVM and Python temp files) inside
    ``work``."""
    tmp = f"{work}/tmp"
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    # both JVMs spark-submit starts: temp files here, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, HERE, os.environ.get("PYTHONPATH")) if p
    )


def make_spark(work: str, cores: int):
    """Session pinned to this host: local[cores], shuffle partitions
    scaled to the core count, a driver heap that fits a 15 GB machine."""
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        # a fixed, pre-touched heap: the JVM's resident memory follows
        # neither G1's resizing nor how far into the heap it got before a
        # collection, so peak_rss_mb moves with off-heap and worker memory
        .config("spark.driver.extraJavaOptions", f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch")
        .config("spark.local.dir", f"{work}/spark-local")
        .config("spark.sql.warehouse.dir", f"{work}/warehouse")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def percentile_note(times: list[float]) -> str:
    """The highest percentile with at least ten samples beyond it."""
    n = len(times)
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            q = statistics.quantiles(times, n=100, method="inclusive")[p - 1]
            return f"p{p}={q:.4f}s over n={n}"
    return f"n={n} jobs: too few for any percentile above the median"


class Run:
    def __init__(self, args, work: str, spans_dir: str) -> None:
        from workloads import WORKLOADS

        self.args = args
        self.work = work
        self.spans_dir = spans_dir
        self.cores = host_cores()
        self.wl = WORKLOADS[args.workload](args.seed, self.cores)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def log(self, msg: str) -> None:
        print(f"[{self.args.workload} seed={self.args.seed}] {msg}", flush=True)

    def attempt(self, rep: str, after_job=None) -> tuple[float, dict | None]:
        """One timed job plus its output check (the check is untimed);
        ``after_job()`` runs inside the timed part, before the check."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            result = self.wl.job(self.spark, rep)
        except Exception:  # a failed job is counted, not fatal
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3))
            return time.perf_counter() - t0, None
        if after_job is not None:
            after_job()
        wall = time.perf_counter() - t0
        errors = self.wl.check(self.spark, result)
        if errors:
            self.failed += 1
            self.errors.extend(errors)
        return wall, result

    def setup_once(self, k: int) -> float:
        """Session start + input materialization + ontology compile and
        broadcast + the cold first job, on a fresh SparkContext (so fresh
        Python workers); the job's output is checked too, outside the
        set-up time."""
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = make_spark(self.work, self.cores)
        t1 = time.perf_counter()
        input_dir = f"{self.work}/input-{k}"
        self.wl.materialize(input_dir)
        self.wl.prepare(self.spark, input_dir, self.work)
        t2 = time.perf_counter()
        wall, result = self.attempt(f"setup{k}")
        setup = t2 - t0 + wall  # the output check is the benchmark's, not set-up
        self.log(f"setup {k}: session {t1 - t0:.2f}s, input {t2 - t1:.2f}s, "
                 f"cold job {wall:.2f}s")
        self.cleanup(result)
        return setup

    def cleanup(self, result) -> None:
        if result is not None and hasattr(self.wl, "cleanup"):
            self.wl.cleanup(result)

    def timed_jobs(self, seconds: float, tag: str, min_jobs: int, after) -> tuple[list, list]:
        """Back-to-back jobs for ``seconds`` (at least ``min_jobs``);
        ``after(result)`` runs untimed after each."""
        walls, results = [], []
        deadline = time.perf_counter() + seconds
        while len(walls) < min_jobs or time.perf_counter() < deadline:
            wall, result = self.attempt(f"{tag}{len(walls)}")
            walls.append(wall)
            results.append(result)
            after(result)
        return walls, results

    def end_to_end(self) -> dict:
        """Three set-ups, each on a fresh SparkContext, then warm jobs in the
        last one for ``--seconds`` (at least ``MIN_WARM_JOBS``). By
        then the JVM has run three cold jobs, so the JIT is warm and the
        timed jobs see a steady engine."""
        from probes import RssProbe

        setups = []
        rss = None
        for k in range(SETUP_REPS):
            setups.append(self.setup_once(k))
            if rss is None:
                rss = RssProbe(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
            rss.new_session()
            rss.sample()

        def after(result):
            rss.sample()
            self.cleanup(result)

        walls, results = self.timed_jobs(self.args.seconds, "job", MIN_WARM_JOBS, after)
        job_s = statistics.median(walls)
        rows = statistics.median(r["rows_out"] if r else 0 for r in results)
        self.log(f"setup_s reps {[round(s, 3) for s in setups]}; {len(walls)} warm jobs "
                 f"{[round(w, 3) for w in walls]}; {percentile_note(walls)}")
        return {
            "docs_per_s": self.wl.n_docs / job_s,
            "rows_out_per_s": rows / job_s,
            "job_s": job_s,
            "setup_s": statistics.median(setups),
            "peak_rss_mb": rss.peak_mb(),
            "ok_frac": (self.attempted - self.failed) / self.attempted,
        }

    def traced(self) -> dict:
        """Per-layer metrics: plan metrics of traced jobs, the workload's
        own layer calls, and the driver-side kernel replay."""
        from probes import KernelTracer, PlanRecorder
        from pyspark.sql import functions as F

        self.setup_once(0)
        spark, wl = self.spark, self.wl
        # untraced and traced jobs alternate, so JIT warm-up during the
        # run does not count as tracing overhead
        untraced, traced, plans, results = [], [], [], []
        deadline = time.perf_counter() + self.args.seconds
        while len(traced) < TRACE_MIN_JOBS or time.perf_counter() < deadline:
            wall, result = self.attempt(f"plain{len(traced)}")
            untraced.append(wall)
            self.cleanup(result)
            recorder = PlanRecorder(spark, f"{wl.input_dir}/docs")
            # reading the plans is part of the traced job's cost, and
            # happens before the output check adds queries of its own
            wall, result = self.attempt(
                f"traced{len(traced)}", lambda: plans.append(recorder.collect())
            )
            recorder.close()
            traced.append(wall)
            results.append(result)
        layers = {key: statistics.median(p[key] for p in plans) for key in plans[0]}
        job_s = statistics.median(untraced)
        layers["trace.overhead_frac"] = statistics.median(traced) / job_s - 1

        layers.update(wl.trace_layers(spark, [r for r in results if r], PlanRecorder))
        for errors in wl.trace_checks:
            self.attempted += 1
            if errors:
                self.failed += 1
                self.errors.extend(errors)
        for result in results:
            self.cleanup(result)

        docs = wl.docs(spark, wl.input_dir)
        layers["sources.scan_s"] = median_time(
            lambda: docs.write.format("noop").mode("overwrite").save()
        )
        layers["arrow.boundary_s"] = median_time(lambda: wl.boundary_job(spark, wl.input_dir))
        per_part = [r["count"] for r in docs.groupBy(F.spark_partition_id()).count().collect()]
        layers["skew.partition_rows_max_over_median"] = max(per_part) / statistics.median(per_part)

        layers.update(wl.replay_layers(KernelTracer))
        # the kernel's share of a job: its single-core replay time over the
        # largest input partition (the task that finishes last), over the
        # untraced job time
        kernel_s = max(per_part) / layers["tagger.docs_per_s_core"]
        layers["tagger.job_share"] = kernel_s / job_s
        if getattr(wl, "tracer", None) is not None:
            os.makedirs(self.spans_dir, exist_ok=True)
            wl.tracer.write(f"{self.spans_dir}/{wl.name}-seed{self.args.seed}.tsv")
        return layers


def median_time(fn, reps: int = 3) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def load_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def main(argv) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    sys.path[:0] = [HERE, root]
    try:
        import dss_plugin_nlp_analysis_spark  # noqa: F401  (the engine under test)

        spec = load_spec(root)
    except (ImportError, OSError) as exc:
        print(f"perfbench: cannot run here: {exc}", file=sys.stderr)
        return 2
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; one of {names}", file=sys.stderr)
        return 2

    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    isolate(root, work)
    run = Run(args, work, os.path.join(base, "spans"))
    metric_specs = spec["per_layer"] if args.trace else spec["end_to_end"]
    try:
        measured = run.traced() if args.trace else run.end_to_end()
    finally:
        stop_spark(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    for err in run.errors:
        print(f"CHECK FAILED: {err}", file=sys.stderr)
    missing = [m["name"] for m in metric_specs if m["name"] not in measured]
    if missing:
        # every workload reports each metric, 0 for a layer it does not
        # run: a name nothing measured is a fault of the benchmark
        print(f"perfbench: no measurement for {missing}", file=sys.stderr)
        return 3
    metrics = {}
    for m in metric_specs:
        value = measured[m["name"]]
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
        print(f"  {m['name']:<40} {value:>16.6g} {m['unit']}")
    correct = run.failed == 0
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
