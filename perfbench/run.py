#!/usr/bin/env python3
"""Benchmark of the pandas-plus-spark engine on the sf0.1 tables.

    python3 perfbench/run.py --workload groupby --seed 1 --seconds 25 --trace 0

Run from the repository root. One run boots ``local[N]`` with N half the
CPUs this process may use (the other half is left to the JVM's JIT and GC
threads and the Python driver, so they do not compete with the tasks being
timed) and then:

1. runs one cold pass that is also the verification pass: every step of the
   workload runs once, and its output is collected and compared with its
   DuckDB twin (``tests/oracle_harness.compare``); the tables are loaded and
   memoized here, as the steps ask for them;
2. runs timed passes until ``--seconds`` have elapsed, each in its own
   seed-shuffled order, materializing every step through the noop sink and
   calling ``util.release_cached`` after it. The first of them is still slow
   while the JIT compiles; the medians over the window leave it out.

With ``--trace 1`` the timed passes alternate between untraced and traced;
the traced ones wrap each engine layer's entry points (``trace.py``) and read
Spark's status store per step and phase, and the run reports per-layer
metrics, including the tracing overhead (traced minus untraced pass). Spans
are written to ``.perfbench/spans-<workload>-seed<seed>.jsonl``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The lines before it
list every metric with its unit, and the host's CPU steal share and a fixed
CPU-burn time, so a contended run can be told apart.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

# Metric names and units, in the order BENCHMARK.json lists them.
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
END_TO_END = tuple((m["name"], m["unit"]) for m in SPEC["end_to_end"])
PER_LAYER = tuple((m["name"], m["unit"]) for m in SPEC["per_layer"])
# A run must end within 180 s: no timed pass starts once the process is
# this old, whatever --seconds asks for.
LAST_PASS_START_S = 140.0


def process_age() -> float:
    """Seconds since this process started (kernel start time, 10 ms ticks)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# perf_counter reading at the moment the process started
PROCESS_START = time.perf_counter() - process_age()


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already counted in user/nice
    return fields[7], sum(fields[:8])


def sentinel_s() -> float:
    """Median of three runs of a fixed pure-Python CPU burn."""
    def burn() -> float:
        t0 = time.perf_counter()
        acc = 0
        for i in range(2_000_000):
            acc += i * i % 7
        return time.perf_counter() - t0
    return statistics.median(burn() for _ in range(3))


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", default="sf0.1",
                   help="table set under perfbench/data (sf0.001 for tests)")
    return p.parse_args(argv)


def isolate_scratch(scratch: Path) -> None:
    """Point Spark's, the JVM's and Python's temporary files into the
    checkout; set before the JVM starts."""
    scratch.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(scratch)
    os.environ["TMPDIR"] = str(scratch)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={scratch} -XX:-UsePerfData"'
        " pyspark-shell")
    import tempfile
    tempfile.tempdir = None


class Run:
    """One benchmark run: a Spark session, a workload, and what was measured."""

    def __init__(self, args, spark, data_dir: str, cpus: int):
        from perfbench.trace import ExecProbe
        from perfbench.workloads import Workload

        self.spark = spark
        self.data_dir = data_dir
        self.cpus = cpus
        self.workload = Workload(args.workload, args.seed)
        self.probe = ExecProbe(spark)
        self.tracer = None
        self.attempted = 0
        self.errors: dict[str, str] = {}      # step name -> first exception
        self.mismatches: dict[str, str] = {}  # step name -> compare problems
        self.executions: dict[str, int] = {}  # step name -> times attempted
        self.untraced: list[dict] = []        # per timed pass: wall, latencies
        self.traced: list[dict] = []          # per traced pass: layer numbers
        self.oracle_s = 0.0                   # DuckDB + compare time (untimed)

    # -------------------------------------------------------------- passes

    def _execute(self, step, sink):
        """Build one step and hand its frame to ``sink``; returns the sink's
        result, or None when the step raised."""
        from pandas_plus_spark import util

        self.attempted += 1
        self.executions[step.name] = self.executions.get(step.name, 0) + 1
        try:
            df = step.build(self.spark, self.data_dir)
            if df is None:
                return True
            out = sink(df)
            util.release_cached(df)
            return out
        except Exception as e:  # a failed step is counted, the pass goes on
            self.errors.setdefault(step.name, f"{type(e).__name__}: {e}"[:300])
            return None

    def noop_pass(self, index: int) -> dict:
        """One pass through the noop sink: wall time and the latency of each
        query (a registry query, or the whole reuse block)."""
        latencies: dict[str, float] = {}
        t_pass = time.perf_counter()
        for step in self.workload.steps(index):
            t0 = time.perf_counter()
            if self._execute(step, _noop) is not None:
                latencies[step.unit] = latencies.get(step.unit, 0.0) + (
                    time.perf_counter() - t0)
        return {"wall": time.perf_counter() - t_pass, "latency": latencies}

    def verify_pass(self, index: int) -> None:
        """Collect every step's output and compare it with DuckDB."""
        import oracle_harness

        con = oracle_harness.duck_connection(self.data_dir)
        try:
            for step in self.workload.steps(index):
                pdf = self._execute(step, lambda df: step.check(df).toPandas())
                if pdf is None or step.oracle is None:
                    continue
                t0 = time.perf_counter()
                try:
                    problems = oracle_harness.compare(pdf, con.sql(step.oracle).df())
                except Exception as e:  # a broken twin fails the step too
                    problems = [f"oracle failed: {type(e).__name__}: {e}"[:300]]
                if problems:
                    self.mismatches[step.name] = "; ".join(problems[:3])
                self.oracle_s += time.perf_counter() - t0
        finally:
            con.close()

    def traced_pass(self, index: int) -> dict:
        """One pass with the tracer installed and Spark counters read per
        step and phase (build, then plan + sink)."""
        from pandas_plus_spark import plans
        from pandas_plus_spark.sources import tables
        from perfbench.trace import ExecStats

        sc = self.spark.sparkContext
        tracer = self.tracer
        rec = {"sink_s": 0.0, "plan_s": 0.0, "plan_lines": 0, "exchanges": 0,
               "apply_s": 0.0, "persist_s": 0.0, "read_s": 0.0,
               "cache_bytes": 0, "load_misses": 0,
               "exec": ExecStats(), "sink_exec": ExecStats()}
        n_spans = len(tracer.spans)
        tracer.install()
        t_pass = time.perf_counter()
        try:
            for step in self.workload.steps(index):
                qid = f"{index}:{step.name}"
                tracer.query = qid
                misses0 = len(tables._TABLE_CACHE)
                m0 = self.probe.mark()
                sc.setJobGroup(f"perfbench:{qid}:build", step.name)
                phase = {"inspect_s": 0.0}

                def sink(df):
                    phase["m1"] = self.probe.mark()
                    sc.setJobGroup(f"perfbench:{qid}:sink", step.name)
                    t0 = time.perf_counter()
                    with tracer.span("exec", "plan"):
                        df._jdf.queryExecution().executedPlan()
                    t1 = time.perf_counter()
                    rec["plan_lines"] += len(plans.plan_text(df).splitlines())
                    rec["exchanges"] += plans.plan_stats(df)["exchanges"]
                    t2 = time.perf_counter()
                    with tracer.span("exec", "sink"):
                        df.write.format("noop").mode("overwrite").save()
                    rec["plan_s"] += t1 - t0
                    rec["sink_s"] += time.perf_counter() - t2
                    # the planning and plan inspection above are tracing
                    # work: the untraced sink plans inside its write
                    phase["inspect_s"] = t2 - t0
                    if step.name == "reuse_persist":
                        rec["cache_bytes"] = self.probe.cached_bytes()
                    return True

                t0 = time.perf_counter()
                with tracer.span("query", step.name):
                    ok = self._execute(step, sink)
                latency = time.perf_counter() - t0 - phase["inspect_s"]
                m2 = self.probe.mark()
                sc.setJobGroup(None, None)
                rec["load_misses"] += len(tables._TABLE_CACHE) - misses0
                if ok is None:
                    continue
                m1 = phase.get("m1", m2)
                sink_stats = self.probe.stats(m1, m2)
                rec["exec"].add(self.probe.stats(m0, m1))
                rec["exec"].add(sink_stats)
                rec["sink_exec"].add(sink_stats)
                if step.name == "reuse_persist":
                    rec["persist_s"] += latency
                elif step.unit == "reuse" and step.oracle is not None:
                    rec["read_s"] += latency
                if any(s.name == "GroupBy.apply" and s.query == qid
                       for s in tracer.spans[n_spans:]):
                    rec["apply_s"] += latency
        finally:
            tracer.uninstall()
            tracer.query = None
        rec["wall"] = time.perf_counter() - t_pass
        rec["spans"] = tracer.spans[n_spans:]
        return rec

    # ------------------------------------------------------------- metrics

    def failed(self) -> int:
        bad = set(self.errors) | set(self.mismatches)
        # every execution of a step whose output did not verify counts
        return sum(n for name, n in self.executions.items() if name in bad)

    def end_to_end(self, setup_s: float) -> dict[str, float]:
        names = sorted({n for p in self.untraced for n in p["latency"]})
        medians = [statistics.median(p["latency"][n] for p in self.untraced
                                     if n in p["latency"]) for n in names]
        return {
            "setup_s": setup_s,
            "warm_pass_s": statistics.median(p["wall"] for p in self.untraced),
            "query_geomean_s": geomean(medians),
            "ok_rate": (self.attempted - self.failed()) / self.attempted,
        }

    def per_layer(self, setup: dict, host: dict) -> dict[str, float]:
        per_pass = [self._layer_numbers(p) for p in self.traced]
        out = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
        out.update(setup)
        out.update(host)
        untraced = statistics.median(p["wall"] for p in self.untraced)
        out["trace.overhead_s"] = out["trace.warm_pass_s"] - untraced
        return out

    def _layer_numbers(self, rec: dict) -> dict[str, float]:
        spans = rec["spans"]
        self_s = self.tracer.self_times(spans)
        by_layer: dict[str, list] = {}
        for s in spans:
            by_layer.setdefault(s.layer, []).append(s)

        def layer(name):
            return by_layer.get(name, [])

        def named(name):
            return [s for s in spans if s.name == name]

        loads = named("tables.load_table")
        cuts = named("util.lineage_cut")
        ex, sink_ex = rec["exec"], rec["sink_exec"]
        input_bytes = os.path.getsize(os.path.join(self.data_dir, "lineitem.parquet"))
        return {
            "sources.load_table.calls": len(loads),
            "sources.load_table.miss_rate": rec["load_misses"] / len(loads) if loads else 0.0,
            "sources.load_table_s": sum(s.end - s.start for s in loads),
            "groupby.calls": len(layer("groupby")),
            "groupby.self_s": sum(self_s[s.id] for s in layer("groupby")),
            "groupby.apply_s": rec["apply_s"],
            "groupby.persist_s": rec["persist_s"],
            "groupby.cache_bytes": rec["cache_bytes"],
            "groupby.cache_bytes_per_input_byte": rec["cache_bytes"] / input_bytes,
            "groupby.read_s": rec["read_s"],
            "ordered.calls": len(layer("ordered")),
            "ordered.self_s": sum(self_s[s.id] for s in layer("ordered")),
            "ordered.jobs": sum(s.jobs for s in layer("ordered")),
            "functions.calls": len(layer("functions")),
            "functions.self_s": sum(self_s[s.id] for s in layer("functions")),
            "operators.calls": len(layer("operators")),
            "operators.self_s": sum(self_s[s.id] for s in layer("operators")),
            "operators.jobs": sum(s.jobs for s in layer("operators")),
            "util.lineage_cut.calls": len(cuts),
            "util.lineage_cut_s": sum(s.end - s.start for s in cuts),
            "util.release_cached_s": sum(s.end - s.start for s in named("util.release_cached")),
            "plans.plan_lines": rec["plan_lines"],
            "plans.exchanges": rec["exchanges"],
            "exec.sink_s": rec["sink_s"],
            "exec.plan_s": rec["plan_s"],
            "exec.jobs": ex.jobs,
            "exec.stages": ex.stages,
            "exec.tasks": ex.tasks,
            "exec.failed_tasks": ex.failed_tasks,
            "exec.shuffle_write_bytes": ex.shuffle_write_bytes,
            "exec.spill_bytes": ex.spill_bytes,
            "exec.executor_run_s": ex.executor_run_s,
            "exec.core_util": (sink_ex.executor_run_s / (rec["sink_s"] * self.cpus)
                               if rec["sink_s"] else 0.0),
            "trace.warm_pass_s": rec["wall"],
        }


def _noop(df) -> bool:
    df.write.format("noop").mode("overwrite").save()
    return True


def warm_session(spark) -> None:
    """Run one noop write, so the first step of the cold pass does not pay
    for sink set-up. Tables are loaded (and memoized) by the cold pass, which
    reads only those the workload uses."""
    spark.range(1000).selectExpr("sum(id) AS s").write.format("noop").mode(
        "overwrite").save()


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    steal0, total0 = cpu_ticks()
    if not (ROOT / "pandas_plus_spark").is_dir() or not (ROOT / "__spark_entry__.py").is_file():
        print(f"perfbench: no engine sources next to {HERE.name}/ — run from a "
              "full checkout", file=sys.stderr)
        return 2
    data_dir = HERE / "data" / args.scale
    if not (data_dir / "lineitem.parquet").is_file():
        print(f"perfbench: no tables in {data_dir}", file=sys.stderr)
        return 2
    os.chdir(ROOT)
    sys.path[:0] = [str(ROOT), str(ROOT / "tests")]
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {', '.join(WORKLOADS)}", file=sys.stderr)
        return 2
    out_dir = ROOT / ".perfbench"
    scratch = out_dir / f"tmp-{os.getpid()}"
    isolate_scratch(scratch)
    # Spark gets half the CPUs; the JIT, GC and driver threads use the rest
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    try:
        return _run(args, str(data_dir), cpus, out_dir, (steal0, total0))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def _run(args, data_dir: str, cpus: int, out_dir: Path, ticks0) -> int:
    t0 = time.perf_counter()
    from pandas_plus_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    boot_s = time.perf_counter() - t0
    try:
        t1 = time.perf_counter()
        warm_session(spark)
        warm_s = time.perf_counter() - t1
        run = Run(args, spark, data_dir, cpus)
        # the cold pass is the verification pass: its Spark side is set-up,
        # its DuckDB side (the oracle and the compare) is not
        t2 = time.perf_counter()
        run.verify_pass(0)
        cold_pass_s = time.perf_counter() - t2 - run.oracle_s
        setup_s = time.perf_counter() - PROCESS_START - run.oracle_s

        if args.trace:
            from perfbench.trace import Tracer
            run.tracer = Tracer(spark)
        t_timed = time.perf_counter()
        index = 1
        while True:
            traced = bool(args.trace) and index % 2 == 0
            passes = run.traced if traced else run.untraced
            passes.append(run.traced_pass(index) if traced else run.noop_pass(index))
            print(f"perfbench: pass {index} {'traced' if traced else 'untraced'}"
                  f" {passes[-1]['wall']:.3f} s", file=sys.stderr)
            index += 1
            if run.untraced and (run.traced or not args.trace) and (
                    time.perf_counter() - t_timed >= args.seconds
                    or process_age() > LAST_PASS_START_S):
                break
        timed_s = time.perf_counter() - t_timed
    finally:
        stop_spark(spark)

    sentinel = sentinel_s()
    steal1, total1 = cpu_ticks()
    host = {"host.steal_pct": 100.0 * (steal1 - ticks0[0]) / max(1, total1 - ticks0[1]),
            "host.sentinel_s": sentinel}
    if args.trace:
        run.tracer.write(out_dir / f"spans-{args.workload}-seed{args.seed}.jsonl")
        metrics = run.per_layer({"session.boot_s": boot_s,
                                 "session.warm_s": warm_s,
                                 "exec.cold_pass_s": cold_pass_s}, host)
        units = PER_LAYER
    else:
        metrics = run.end_to_end(setup_s)
        units = END_TO_END

    for name, msg in sorted({**run.errors, **run.mismatches}.items()):
        print(f"FAILED {name}: {msg}")
    print(f"phases boot_s={boot_s:.2f} warm_s={warm_s:.2f} cold_s={cold_pass_s:.2f}"
          f" oracle_s={run.oracle_s:.2f} timed_s={timed_s:.2f}"
          f" age_s={process_age():.2f}")
    print(f"host steal_pct={host['host.steal_pct']:.2f} "
          f"sentinel_s={host['host.sentinel_s']:.4f} cpus={cpus} "
          f"timed_passes={len(run.untraced) + len(run.traced)}")
    for name in sorted({n for p in run.untraced for n in p["latency"]}):
        print(f"step {name} median_s="
              f"{statistics.median(p['latency'][name] for p in run.untraced if name in p['latency']):.4f}")
    for name, unit in units:
        print(f"metric {name} {metrics[name]} {unit}")
    failed = run.failed()
    print(json.dumps({
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": {name: {"value": metrics[name], "unit": unit}
                    for name, unit in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
