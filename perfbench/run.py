"""Run one benchmark workload and print its metrics.

Usage (from the repository root)::

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20 --trace 0

One client drives the engine in a closed loop through its public entry
points: each query runs as ``QUERIES[name](spark, data_dir).collect()`` and
the next starts when it returns. ``--seed`` fixes the query order of every
pass; the inputs are the engine's read-only fixture tables at the
workload's scale factor. Every result is checked against the query's
DuckDB oracle, computed in a child process before any timing.

With ``--trace 0`` the end-to-end metrics are printed. With ``--trace 1``
warm passes alternate between untraced and traced, and the per-layer
metrics of the traced passes are printed, with the traced-vs-untraced pass
time as ``trace.overhead_frac``; spans are written to
``.perfbench_work/spans/``. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. ``--workload all``
runs each workload in its own process and prints one such line each.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

import tracing

#: measured executions per run. With ten or fewer there is no percentile with
#: ten samples above it, so ``query_tail_s`` is the maximum in every run.
MAX_MEASURED = 10
#: unmeasured passes between the cold pass and the measured window: the
#: first warm pass still pays for JIT compilation and runs ~25% slower.
WARMUP_PASSES = 1
#: driver JVM heap. The engine's own default (16 GB) is more than the
#: whole memory of the 15 GB, shared 4-core host the benchmark is sized for;
#: 4 GB is what the JVM itself picks there (a quarter of physical memory)
#: and is well above the 1-2.5 GB of heap the workloads use at their peak.
#: At 16 GB, G1's heap growth differs from run to run and warm pass times
#: spread twice as wide (interquartile range up to 26% of the median).
DRIVER_MEM = "4g"
#: most full GCs ``retained_mb`` waits through for the heap to stop shrinking.
SETTLE_GCS = 6

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "retained_mb": "MB",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment(root: str, run_tmp: str) -> None:
    """Process environment the engine, its JVM and its Python workers inherit;
    set before the session starts."""
    import tempfile

    os.makedirs(run_tmp)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = run_tmp
    os.environ["SPARK_LOCAL_DIRS"] = run_tmp
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(run_tmp, "warehouse")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={run_tmp} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    tempfile.tempdir = None  # re-read TMPDIR


def fixture_dir(sf: float) -> str:
    """The engine's fixture tables at ``sf``: beside its default fixture
    directory, which ``SPARK_GRAFT_SF_DIR`` moves."""
    from lithops_dataframe_spark.session import DEFAULT_SF_DIR

    return os.path.join(os.path.dirname(DEFAULT_SF_DIR), f"sf{sf:g}")


def fits(t0: float, seconds: float, last_pass: float) -> bool:
    """Whether another pass as long as the last one ends inside the measured window."""
    return time.perf_counter() - t0 + last_pass <= seconds


def proc_status_mb(pid: int | str, key: str) -> float:
    """A memory line of ``/proc/<pid>/status`` (``VmHWM``, ``VmRSS``) in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no {key} for pid {pid}")


class Bench:
    """One workload run in this process: session, fixture, oracle and timings."""

    def __init__(self, workload, seed: int, data_dir: str, expected: dict, traced: bool):
        self.w = workload
        self.rng = random.Random(seed)
        self.data_dir = data_dir
        self.expected = expected
        self.traced = traced
        self.spark = None
        self.tracer = None
        self.reader = None
        self.attempted = 0
        self.failed = 0
        self.executed: list[str] = []
        self.failures: list[str] = []
        self.setup_s = 0.0
        self.last_pass = 0.0
        self.undo_spans: list = []

    # -- session -----------------------------------------------------------
    def start(self) -> None:
        """Start the session (``get_spark()`` plus one one-row job); this fresh
        process launches its JVM here."""
        from lithops_dataframe_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.range(1).collect()
        self.setup_s = time.perf_counter() - t0
        if self.traced:
            self.tracer = tracing.Tracer()
            self.reader = tracing.JvmReader(self.spark)
            self.undo_spans = tracing.install_layer_spans(self.tracer)
            print(f"# layer spans on {len(self.undo_spans)} package functions", file=sys.stderr)
            self.spark.streams.addListener(tracing.epoch_listener(self.tracer))
        from lithops_dataframe_spark.plans import ordered_queries

        self.queries = ordered_queries()

    def stop(self) -> float:
        """Stop the session and its JVM; returns the driver's peak RSS (JVM + Python) in MB."""
        from pyspark import SparkContext

        tracing.remove_layer_spans(self.undo_spans)
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        peak = proc_status_mb(jvm_pid, "VmHWM") + proc_status_mb("self", "VmHWM")
        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        return peak

    def retained_mb(self) -> float:
        """Memory the driver holds after the measured passes: JVM heap in use
        after full GCs, plus JVM non-heap, plus the Python driver's resident set.

        Unlike the resident peak, this does not follow how far G1 has grown
        the heap, which varied by a third between runs."""
        mx = self.spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        # Python's collector first releases the JVM objects that py4j proxies
        # in dead Python cycles still pin. Spark's ContextCleaner drops
        # broadcast and shuffle state only after a GC has found its owners
        # dead, on its own thread, so the JVM collects at least three times, a
        # second apart, until the heap stops shrinking; after a single GC the
        # figure varies by ~150 MB between runs, and the third GC is the first
        # that reliably finds the cleaned state.
        gc.collect()
        mx.gc()
        heap = [mx.getHeapMemoryUsage().getUsed()]
        while len(heap) < SETTLE_GCS and (len(heap) < 3 or heap[-2] - heap[-1] > 2**20):
            time.sleep(1.0)
            mx.gc()
            heap.append(mx.getHeapMemoryUsage().getUsed())
        print(f"# heap after each GC: {', '.join(f'{h / 2**20:.1f}' for h in heap)} MB", file=sys.stderr)
        jvm = heap[-1] + mx.getNonHeapMemoryUsage().getUsed()
        return jvm / 2**20 + proc_status_mb("self", "VmRSS")

    # -- executions --------------------------------------------------------
    def run_query(self, name: str, label: str, traced: bool) -> float:
        """Build, run and collect one query; check it; returns its latency."""
        tracer = self.tracer if traced else None
        ex = tracer.start_execution(label) if tracer else None
        j0 = jb = self.reader.job_mark() if tracer else 0
        df = rows = action = err = None
        t0 = time.perf_counter()
        try:
            with tracing.span(tracer, "plans.build", "plans"):
                df = self.queries[name](self.spark, self.data_dir)
            if tracer:
                jb = self.reader.job_mark()
            with tracing.span(tracer, "exec.action", "exec") as action:
                rows = df.collect()
        except Exception as e:  # a failed query is counted, and the loop goes on
            err = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
        latency = time.perf_counter() - t0
        if tracer:
            self.reader.sync()  # deliver this execution's listener events while it is open
            tracer.finish_execution(ex)
            if err is None:
                self._read_counters(ex, df, rows, j0, jb, action)
        if err is None:
            import oracle

            err = oracle.check(df, rows, self.expected[name])
        self.attempted += 1
        self.executed.append(label)
        if err is not None:
            self.failed += 1
            self.failures.append(label)
            print(f"FAIL {label}: {err}", file=sys.stderr)
        return latency

    def _read_counters(self, ex, df, rows, j0: int, jb: int, action_span) -> None:
        r = self.reader
        j1 = r.job_mark()
        build = r.stages(j0, jb)
        act = r.stages(jb, j1)
        ex.add("plans.build_jobs", build["jobs"])
        ex.add("plans.build_stages", build["stages"])
        ex.add("sources.written_bytes", build["output_bytes"] + act["output_bytes"])
        for key in ("jobs", "stages", "tasks", "failed_tasks", "input_bytes", "shuffle_read_bytes",
                    "shuffle_write_bytes", "spill_bytes"):
            ex.add(f"exec.{key}", act[key])
        ex.add("exec.executor_run_s", act["run_s"])
        ex.add("exec.executor_cpu_s", act["cpu_s"])
        ex.add("exec.gc_s", act["gc_s"])
        ex.add("exec.action_s", action_span.end - action_span.start)
        for phase, ms in r.phases(df).items():
            ex.add(f"catalyst.{phase}_ms", ms)
        for key, v in r.plan_counters(df).items():
            ex.add(f"exec.{key}", v)
        ex.add("collect.rows", len(rows))
        ex.add("cache.cached_bytes", r.cached_bytes())

    def run_pass(self, index: int, traced: bool = False) -> tuple[float, list[float]]:
        order = list(self.w.queries)
        self.rng.shuffle(order)
        t0 = time.perf_counter()
        lat = [self.run_query(n, f"{self.w.name}/{index}/{n}", traced) for n in order]
        wall = time.perf_counter() - t0
        self.last_pass = wall
        print(f"# pass {index}{' traced' if traced else ''}: {wall:.3f} s; "
              + ", ".join(f"{n} {t:.3f}" for n, t in zip(order, lat)), file=sys.stderr)
        return wall, lat

    # -- the two kinds of run -----------------------------------------------
    def warm_up(self) -> float:
        """Run the cold pass and the unmeasured warm-up passes; returns the cold pass time."""
        cold, _ = self.run_pass(0)
        for i in range(WARMUP_PASSES):
            self.run_pass(-1 - i)
        return cold

    def measure(self, seconds: float) -> dict[str, float]:
        cold = self.warm_up()
        passes: list[float] = []
        lats: list[float] = []
        t0 = time.perf_counter()
        while not passes or (fits(t0, seconds, passes[-1]) and len(lats) + len(self.w.queries) <= MAX_MEASURED):
            wall, lat = self.run_pass(len(passes) + 1)
            passes.append(wall)
            lats.extend(lat)
        print(f"# setup: {self.setup_s:.3f} s", file=sys.stderr)
        print(f"# {self.w.name}: {len(passes)} warm passes, {len(lats)} warm executions; "
              f"query_tail_s is p100 of {len(lats)}", file=sys.stderr)
        return {
            "setup_s": self.setup_s,
            "cold_pass_s": cold,
            "pass_s": statistics.median(passes),
            "query_p50_s": statistics.median(lats),
            "query_tail_s": max(lats),
            "retained_mb": self.retained_mb(),
        }

    def measure_traced(self, seconds: float, spans_path: str) -> dict[str, float]:
        self.warm_up()
        plain: list[float] = []
        traced: list[tuple[float, set[int]]] = []
        t0 = time.perf_counter()
        while len(traced) < 1 or fits(t0, seconds, self.last_pass):
            on = len(plain) > len(traced)
            first = len(self.tracer.executions)
            wall, _ = self.run_pass(len(plain) + len(traced) + 1, traced=on)
            if on:
                traced.append((wall, {e.trace for e in self.tracer.executions[first:]}))
            else:
                plain.append(wall)
        per_pass = [self._layer_totals(ids) for _, ids in traced]
        out = {k: statistics.median(p.get(k, 0.0) for p in per_pass) for k in tracing.LAYER_METRICS}
        out["session.start_s"] = self.setup_s
        out["trace.overhead_frac"] = statistics.median(w for w, _ in traced) / statistics.median(plain) - 1
        self.tracer.write(spans_path)
        return out

    def _layer_totals(self, trace_ids: set[int]) -> dict[str, float]:
        """Per-layer totals of one traced pass: span self times and counters summed
        over its executions."""
        t = self.tracer
        out: dict[str, float] = {}
        for ex in t.executions:
            if ex.trace in trace_ids:
                for k, v in ex.counters.items():
                    out[k] = out.get(k, 0.0) + v
        self_s = t.self_times(trace_ids)
        spans = [s for s in t.spans if s.trace in trace_ids]
        for name in ("plans.build", "operators.build", "frame.build", "streaming.build",
                     "catalog.load", "sources.read", "sources.write"):
            out[f"{name}_s"] = self_s.get(name, 0.0)
        out["catalog.load_calls"] = sum(s.name == "catalog.load" for s in spans)
        out["cache.persists"] = sum(s.name == "cache.track" for s in spans)
        out["trace.spans"] = len(spans)
        busy = nproc() * out.get("exec.action_s", 0.0)
        out["exec.slot_busy_frac"] = out.get("exec.executor_run_s", 0.0) / busy if busy else 0.0
        return out


def run_workload(name: str, seed: int, seconds: float, trace: bool, root: str,
                 sf: float | None = None, corrupt: str | None = None) -> tuple[dict, Bench]:
    """Run one workload in this process; returns the result object and the
    finished run, whose ``executed`` and ``failures`` list execution labels.

    ``sf`` overrides the workload's input size and ``corrupt`` names a query
    whose expected hash is replaced, so that its check must fail; both exist
    for the benchmark's self-test."""
    from workloads import WORKLOADS

    import oracle

    w = WORKLOADS[name]
    sf = w.sf if sf is None else sf
    work = os.path.join(root, ".perfbench_work")
    data_dir = fixture_dir(sf)
    expected = oracle.expected_in_child(data_dir, sf, list(w.queries))
    if corrupt is not None:
        expected[corrupt] = oracle.Expected(expected[corrupt].cols, expected[corrupt].rows, "0" * 32)

    bench = Bench(w, seed, data_dir, expected, trace)
    bench.start()
    try:
        if trace:
            spans_dir = os.path.join(work, "spans")
            os.makedirs(spans_dir, exist_ok=True)
            metrics = bench.measure_traced(seconds, os.path.join(spans_dir, f"{name}-seed{seed}.jsonl"))
            units = tracing.LAYER_METRICS
        else:
            metrics = bench.measure(seconds)
            units = END_TO_END
    finally:
        peak = bench.stop()
    if trace:
        metrics["driver.peak_rss_mb"] = peak
    print(f"# {name}: failed_frac {bench.failed / bench.attempted} "
          f"({bench.failed} of {bench.attempted} executions)", file=sys.stderr)
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    return result, bench


def print_table(result: dict) -> None:
    for k, m in result["metrics"].items():
        print(f"{k:32s} {m['value']:>16.6g} {m['unit']}")
    print(f"{'failed_frac':32s} {result['failed'] / result['attempted']:>16.6g} ratio")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "lithops_dataframe_spark"))
            and os.path.isfile(os.path.join(root, "tools", "driver_sim.py"))):
        print("perfbench: run from the repository root (engine package not found)", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload == "all":
        for name in WORKLOADS:
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(args.trace)]
            out = subprocess.run(cmd, check=True, stdout=subprocess.PIPE, text=True).stdout
            result = json.loads(out.strip().splitlines()[-1])
            print(f"== {name}")
            print_table(result)
            print(json.dumps(result), flush=True)
        return 0
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    sys.path.insert(0, root)
    run_tmp = os.path.join(root, ".perfbench_work", "tmp", f"run-{os.getpid()}")
    prepare_environment(root, run_tmp)
    try:
        result, _ = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), root)
    finally:
        shutil.rmtree(run_tmp, ignore_errors=True)
    print_table(result)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
