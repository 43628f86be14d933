#!/usr/bin/env python3
"""The repo benchmark: one command, every end-to-end metric, every output checked.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One run is one process with one Spark session on ``local[nproc]``:

1. generate the workload's inputs from ``--seed`` (cached per seed under
   ``.perfbench/inputs``) and read them once, so the page cache is warm;
2. set up cold: import pyspark and the engine, launch the JVM, build the
   session with ``get_spark`` as any caller does, import the registry and
   run one fixed warm-up query.  ``setup_s`` is the time from process
   start to the end of that query, less the time step 1 took;
3. run every query once, untimed, and check its output (DuckDB oracle for
   registry lanes, Python twin for labs) -- this pass is also the warm-up;
4. run timed passes over the frozen query list until ``--seconds`` have
   passed and the tail percentile has at least ten samples beyond it.  A
   query that raises is timed and counted like any other: it lowers
   ``success_rate`` and stays in every pass;
5. force a full GC and report the heap still in use.

Every time is a wall time scaled by ``unstolen``: the share of runnable cpu
time the hypervisor did not give to other guests.  On a dedicated host that
share is 1 and the times are plain wall times.

With ``--trace 1`` the timed passes alternate traced and untraced, and the
run reports per-layer metrics (``tracing.py``) instead of end-to-end ones,
with the tracing overhead measured against the untraced passes of the same
run.  The last stdout line is the result JSON; a ``RECORD`` line before it,
also written under ``.perfbench/records``, carries the host state and the
per-query detail.  Everything the run writes stays under ``.perfbench``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import stats  # noqa: E402

#: Once the tail percentile is supported, no pass starts that would, at
#: the last pass's pace, end later than this many seconds into the
#: process, so a run ends inside its 180 s limit.
HARD_STOP_S = 165.0


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def foreign_spark_jvms() -> list[int]:
    """Pids of Spark JVMs already running (ours has not started yet).
    ``bench._warn_if_contended`` makes the same scan but only prints a
    warning; the record needs the pids."""
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"org.apache.spark" in f.read():
                    pids.append(int(pid))
        except OSError:
            continue
    return pids


def cpu_counters() -> tuple[float, float]:
    """(busy, stolen) cpu seconds of this VM so far, summed over its cpus.
    Stolen is ``steal`` in /proc/stat: time a runnable cpu was withheld by
    the hypervisor for other guests.  It stays 0 on a dedicated host."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9])
    tick = os.sysconf("SC_CLK_TCK")
    return (user + nice + system + irq + softirq) / tick, steal / tick


def unstolen(wall: float, before: tuple[float, float], after: tuple[float, float]) -> float:
    """``wall`` scaled by the share of runnable cpu time the hypervisor did
    not withhold in the interval: the time the interval would have taken on
    a host of its own.  Equal to ``wall`` when nothing was stolen."""
    busy, stolen = after[0] - before[0], after[1] - before[1]
    if stolen <= 0:
        return wall
    return wall * busy / (busy + stolen)


def warm_page_cache(path: str) -> int:
    """Read every input file once; returns the bytes read."""
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            with open(os.path.join(dirpath, name), "rb") as f:
                while chunk := f.read(1 << 20):
                    total += len(chunk)
    return total


class Bench:
    def __init__(self, args, root: str, workload: dict):
        self.args = args
        self.root = root
        self.wl = workload
        self.cores = len(os.sched_getaffinity(0))
        self.work = os.path.join(root, ".perfbench")
        self.spark = None
        self.tracer = None
        self.errors: dict[str, str] = {}
        self.attempted = 0
        self.failed = 0

    # -- environment ---------------------------------------------------------

    def prepare_env(self) -> None:
        for sub in ("tmp", "spark-local", "warehouse"):
            shutil.rmtree(os.path.join(self.work, sub), ignore_errors=True)
        for sub in ("tmp", "spark-local", "warehouse", "records", "out"):
            os.makedirs(os.path.join(self.work, sub), exist_ok=True)
        tmp = os.path.join(self.work, "tmp")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ["PYSPARK_PYTHON"] = sys.executable
        # every JVM the run starts (the launcher too) keeps its files here
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        sys.path.insert(0, self.root)

    def spark_conf(self) -> dict[str, str]:
        """Only where the run keeps its files and binds; heap and every
        engine setting stay ``get_spark``'s own."""
        return {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.host": "127.0.0.1",
            "spark.driver.bindAddress": "127.0.0.1",
            "spark.ui.showConsoleProgress": "false",
        }

    # -- set-up --------------------------------------------------------------

    def setup(self, before_s: float) -> dict:
        """The cold set-up.  ``before_s`` is the process's time before the
        inputs phase (interpreter start-up, argument parsing); the set-up
        adds the import of pyspark and the engine, the JVM launch, the
        session, the registry import and one fixed warm-up query, without
        the time stolen by the hypervisor."""
        t0, c0 = time.perf_counter(), cpu_counters()
        session = importlib.import_module("hadoop_lab_spark.session")
        t_sess = time.perf_counter()
        self.spark = session.get_spark(
            app_name="perfbench", master=f"local[{self.cores}]", extra_conf=self.spark_conf()
        )
        t_sess = time.perf_counter() - t_sess
        self.spark.sparkContext.setLogLevel("ERROR")
        registry = importlib.import_module("hadoop_lab_spark.plans.registry")
        registry.load_all_query_modules()
        from pyspark.sql import functions as F

        (self.spark.range(0, 200_000, numPartitions=self.cores)
         .groupBy((F.col("id") % 97).alias("k")).count().collect())
        setup_s = before_s + unstolen(time.perf_counter() - t0, c0, cpu_counters())
        self.registry = registry.REGISTRY
        self.labs = importlib.import_module("hadoop_lab_spark.labs")
        self.ckpt = importlib.import_module("hadoop_lab_spark.checkpoint")
        return {"setup_s": setup_s, "session_start_s": t_sess}

    def shutdown(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()

    # -- queries ---------------------------------------------------------------

    def queries(self) -> list[str]:
        if self.wl["kind"] == "lanes":
            missing = [q for q in self.wl["queries"] if q not in self.registry]
            if missing:
                raise SystemExit(f"frozen lanes missing from the registry: {missing}")
        return list(self.wl["queries"])

    def fail(self, name: str, why: str) -> None:
        self.failed += 1
        self.errors.setdefault(name, why)

    def run_query(self, name: str, check: bool):
        """Run one query; returns (seconds, unstolen seconds, ok, result).
        An exception counts as a failure and returns ``ok`` false.  Blocks
        the query left pinned are freed afterwards, outside its timing."""
        tr = self.tracer
        session = self.spark.newSession()
        sc = self.spark.sparkContext
        listener = tr.listener if tr is not None and tr.active else None
        if listener is not None:
            session.streams.addListener(listener)
        before = self.ckpt.persistent_rdd_ids(sc)
        self.attempted += 1
        ok, result = True, None
        c0, t0 = cpu_counters(), time.perf_counter()
        try:
            with _span(tr, "query", name):
                if self.wl["kind"] == "lanes":
                    with _span(tr, "plans", name):
                        df = self.registry[name].fn(session, self.inputs)
                    if check:
                        result = (df.columns, df.collect())
                    else:
                        if tr is not None and tr.active:
                            with _span(tr, "exec.plan", name):
                                df._jdf.queryExecution().executedPlan()
                        with _span(tr, "exec", name):
                            df.write.format("noop").mode("overwrite").save()
                else:
                    lab = int(name[3:])
                    self.labs.run_lab(session, lab, self.lab_input(lab), self.lab_output(lab))
        except Exception as exc:  # a failing query is counted, not fatal
            self.fail(name, f"{type(exc).__name__}: {str(exc)[:300]}")
            ok = False
        elapsed = time.perf_counter() - t0
        alone = unstolen(elapsed, c0, cpu_counters())
        after = self.ckpt.persistent_rdd_ids(sc)
        if before is not None and after is not None:
            if tr is not None and tr.active:
                tr.counts["checkpoint.rdds_leaked"] += len(after - before)
            self.ckpt.unpersist_rdds(sc, after - before)
        if listener is not None:
            session.streams.removeListener(listener)
        return elapsed, alone, ok, result

    def lab_input(self, lab: int) -> str:
        return os.path.join(self.inputs, self.lab_files[lab])

    def lab_output(self, lab: int) -> str:
        return os.path.join(self.work, "out", f"{self.args.workload}-lab{lab}")

    def check_pass(self, names: list[str]) -> dict[str, float]:
        """Untimed first pass, which is also the warm-up: run each query
        once and check its output."""
        outcomes = {n: self.run_query(n, check=True) for n in names}
        if self.wl["kind"] == "lanes":
            oracle = checks.Oracle(self.root, self.inputs, self.cores)
            try:
                for name in names:
                    _t, _a, ok, result = outcomes[name]
                    if ok and (why := oracle.mismatch(self.registry[name].oracle, *result)):
                        self.fail(name, f"mismatch: {why}")
            finally:
                oracle.close()
        else:
            self.expected = {
                n: checks.expected_lines(int(n[3:]), self.lab_input(int(n[3:]))) for n in names
            }
            for name in names:
                if outcomes[name][2]:
                    self.check_lab(name)
        return {n: outcomes[n][0] for n in names}

    def check_lab(self, name: str) -> None:
        why = checks.lab_output_mismatch(self.lab_output(int(name[3:])), self.expected[name])
        if why:
            self.fail(name, f"mismatch: {why}")

    def timed_passes(self, names: list[str], seconds: float, p_tail: float, min_passes: int = 1):
        """Timed passes until ``seconds`` have passed, ``min_passes`` ran
        and the tail percentile ``p_tail`` has ``stats.MIN_BEYOND`` samples
        beyond it.  Every attempt is a sample, a failed one too, so a
        failing query cannot leave the tail short of samples.

        Times are wall times scaled by ``unstolen``: on a shared host the
        cpu the hypervisor withholds, not the program, is what moves a run
        most.  With tracing, a first untraced pass lets the run settle and
        the rest run traced and untraced in the order T U U T ..., so a
        drift along the run (the JIT still warming) cancels out of the
        tracing overhead."""
        passes, alone, latencies = [], [], {n: [] for n in names}
        traced = []
        gc_s, heap = 0.0, []
        t0 = time.perf_counter()
        tr = self.tracer
        while True:
            i = len(passes)
            if tr is not None:
                tr.active = i > 0 and (i - 1) % 4 in (0, 3)
                if tr.active:
                    gc0, _ = tr.jvm_state()
                    w0 = time.time()
            c0, p0 = cpu_counters(), time.perf_counter()
            with _span(tr, "pass", f"pass{i}"):
                for name in names:
                    latencies[name].append(self.run_query(name, check=False)[1])
            passes.append(time.perf_counter() - p0)
            alone.append(unstolen(passes[-1], c0, cpu_counters()))
            if tr is not None and tr.active:
                tr.active = False
                tr.collect_jobs()
                gc1, heap_now = tr.jvm_state()
                gc_s += gc1 - gc0
                heap.append(heap_now)
                traced.append((i, w0, time.time()))
            now = time.perf_counter()
            ready = (len(passes) >= min_passes
                     and len(passes) * len(names) >= stats.min_samples(p_tail))
            if ready and (now - t0 >= seconds or now - T_START + passes[-1] > HARD_STOP_S):
                break
        return passes, alone, latencies, traced, gc_s, heap

    def retained_heap_mb(self) -> float:
        jvm = self.spark.sparkContext._jvm
        for _ in range(2):
            jvm.System.gc()
            time.sleep(0.1)
        used = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed()
        return used / (1024.0 * 1024.0)

    # -- the run -----------------------------------------------------------------

    def run(self) -> tuple[dict, dict]:
        args, wl = self.args, self.wl
        mark = time.perf_counter()
        phases = {"before_inputs_s": mark - T_START}
        self.prepare_env()
        from bench import _loadavg

        host = {"cores": self.cores, "foreign_spark_jvms": foreign_spark_jvms(),
                "loadavg_start": _loadavg(), "duckdb_threads": self.cores,
                "spark_master": f"local[{self.cores}]"}
        cpu0 = cpu_counters()

        def phase(name):
            nonlocal mark
            now = time.perf_counter()
            phases[name] = now - mark
            mark = now

        import gen  # numpy and pyarrow: the generator's imports, not the program's

        self.lab_files = gen.LAB_FILES
        self.inputs = gen.ensure_inputs(os.path.join(self.work, "inputs"), args.seed, wl["kind"])
        input_bytes = warm_page_cache(self.inputs)
        phase("inputs_s")

        setup = self.setup(phases["before_inputs_s"])
        phase("setup_s")
        names = self.queries()
        check_s = self.check_pass(names)
        phase("check_s")

        if args.trace:
            import tracing

            self.tracer = tracing.Tracer(self.spark, self.cores)
            self.tracer.install()
            self.tracer.listener = self.tracer.streaming_listener()
        p_tail = wl["tail_percentile"]
        passes, alone, latencies, traced, gc_s, heap = self.timed_passes(
            names, args.seconds, p_tail, min_passes=5 if args.trace else 1)
        phase("timed_s")
        if wl["kind"] == "labs":
            for name in names:
                if name not in self.errors:
                    self.check_lab(name)
        retained = self.retained_heap_mb()
        phase("final_s")
        samples = [t for ts in latencies.values() for t in ts]
        host["loadavg_end"] = _loadavg()
        cpu1 = cpu_counters()
        host["cpu_busy_s"] = cpu1[0] - cpu0[0]
        host["cpu_stolen_s"] = cpu1[1] - cpu0[1]

        if args.trace:
            traced_ids = {i for i, _a, _b in traced}
            untraced = [p for i, p in enumerate(passes) if i > 0 and i not in traced_ids]
            metrics = self.tracer.layer_metrics(
                len(traced), statistics.median(untraced), [(a, b) for _i, a, b in traced])
            metrics["session.start_s"] = setup["session_start_s"]
            metrics["jvm.gc_s"] = gc_s / max(1, len(traced))
            metrics["jvm.heap_used_mb"] = statistics.mean(heap) if heap else 0.0
            metrics["trace.steal_s"] = statistics.mean(passes[i] - alone[i] for i in traced_ids)
            self.tracer.dump(os.path.join(
                self.work, "records", f"{args.workload}-seed{args.seed}.spans.json"))
            units = {k: _unit(k) for k in metrics}
        else:
            metrics = end_to_end_metrics(alone, samples, p_tail, setup["setup_s"], retained,
                                         self.failed, self.attempted)
            units = E2E_UNITS
        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "seconds": args.seconds, "host": host, "phases_s": phases,
            "input_mb": round(input_bytes / 1e6, 3),
            "setup_s": setup["setup_s"], "passes_s": passes, "passes_unstolen_s": alone,
            "traced_passes": [i for i, _a, _b in traced],
            "tail_percentile": p_tail, "latency_samples": len(samples),
            "samples_beyond_tail": stats.beyond(len(samples), p_tail),
            "check_pass_s": check_s,
            "query_median_s": {n: statistics.median(v) for n, v in latencies.items() if v},
            "errors": self.errors, "attempted": self.attempted, "failed": self.failed,
        }
        result = {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
        return record, result


E2E_UNITS = {"pass_s": "s", "query_p50_s": "s", "query_tail_s": "s", "setup_s": "s",
             "jvm_heap_retained_mb": "MB", "success_rate": "ratio"}


def end_to_end_metrics(pass_times, samples, p_tail, setup_s, retained_mb, failed, attempted):
    """The six end-to-end metrics of an untraced run."""
    return {
        "pass_s": statistics.median(pass_times),
        "query_p50_s": stats.nearest_rank(samples, 0.5),
        "query_tail_s": stats.tail(samples, p_tail),
        "setup_s": setup_s,
        "jvm_heap_retained_mb": retained_mb,
        "success_rate": 1.0 - stats.error_rate(failed, attempted),
    }


def _span(tracer, layer: str, name: str):
    return nullcontext() if tracer is None else tracer.span(layer, name)


def _unit(metric: str) -> str:
    if metric.endswith(("_s", ".s")):
        return "s"
    if metric.endswith("_mb") or metric == "checkpoint.bytes":
        return "MB"
    return "count"


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "hadoop_lab_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout that holds hadoop_lab_spark/",
              file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "manifest.json")) as f:
        manifest = json.load(f)
    if args.workload not in manifest["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    bench = Bench(args, root, manifest["workloads"][args.workload])
    try:
        record, result = bench.run()
    finally:
        t0 = time.perf_counter()
        bench.shutdown()
    record["phases_s"]["shutdown_s"] = time.perf_counter() - t0
    record["phases_s"]["total_s"] = time.perf_counter() - T_START
    path = os.path.join(bench.work, "records",
                        f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump({**record, "result": result}, f, indent=1)
    print("RECORD " + json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
