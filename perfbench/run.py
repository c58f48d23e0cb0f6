#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload coverage --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` and
cached under ``.bench_work/cache``; each run works in its own
``.bench_work/run-<pid>`` directory (Spark local dirs, temp files, event
log, written tables), removed when the run ends.

``--trace 0`` measures with tracing off and prints the end-to-end metrics
of BENCHMARK.json. ``--trace 1`` turns Spark's event log on, alternates
untraced and traced iterations, and prints the per-layer metrics; it also
writes them, with the spans, to ``.bench_work/traces/``. A traced coverage
run also measures the ingest write path's layers after its own window (see
``Workload.riders``). Human-readable
``metric`` lines come first; the last line of standard output is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")

INPUT_PARTITIONS = "64"  # what bench.py sets
JVM_WAIT_S = 30.0
# bench.py runs the probes at mult 1500 / 200 over ~10 s; scaled to fit a run
PROBE_BURN_MULT = 100
PROBE_SHUFFLE_MULT = 20


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class Ctx:
    def __init__(self, seed: int, run_dir: str):
        self.seed = seed
        self.run_dir = run_dir
        self.cache_root = os.path.join(WORK, "cache")


def spark_conf(run_dir: str, trace: bool) -> dict[str, str]:
    conf = {
        # keep the JVM's files in the run directory: snappy/zstd native
        # libraries unpack into java.io.tmpdir, and the perf-data file
        # would go to /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{run_dir}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


class Runner:
    """Set-up, the timed window and the checks of one workload run."""

    def __init__(self, wl, spark, tracer):
        self.wl, self.spark, self.tracer = wl, spark, tracer
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.untraced: list[float] = []  # iteration times
        self.traced: list[float] = []

    def tag(self, desc: str) -> None:
        self.spark.sparkContext.setJobDescription(f"{self.wl.name}/{desc}")

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)
        log(f"{what}:\n{traceback.format_exc()}")

    def iteration(self, label: str, traced: bool) -> dict[str, float] | None:
        """Run one iteration's steps; None if a step raised."""
        durations = {}
        with self.tracer.span("iteration"):
            for name, fn in self.wl.steps(traced):
                self.attempted += 1
                self.wl.around_step(name, before=True)
                self.tag(f"{label}/{name}")
                try:
                    with self.tracer.span(name) as sp:
                        fn()
                except Exception:  # a failed operation is counted, not retried
                    self.fail(f"{label}/{name} raised")
                    return None
                durations[name] = sp.dur
                self.wl.around_step(name, before=False)
        return durations

    def run_checks(self, label: str) -> None:
        self.tag(f"check/{label}")
        t0 = time.perf_counter()
        try:
            results = self.wl.check()
        except Exception:
            self.attempted += 1
            self.fail(f"check {label} raised")
            return
        for name, problems in results:
            self.attempted += 1
            if problems:
                self.failed += 1
                self.problems.append(f"check {name}: {'; '.join(problems)}")
                log(f"check {name} failed: {problems}")
        log(f"checks {label}: {time.perf_counter() - t0:.2f} s")

    def setup_pass(self) -> float:
        """Build the workload and run its untimed passes; returns the time
        spent, checks excluded. Only the set-up as a whole is traced."""
        with self.tracer.span("setup") as sp:
            trace, self.tracer.enabled = self.tracer.enabled, False
            self.wl.setup(self.spark)
            checks = 0.0
            log(f"set-up build: {time.perf_counter() - sp.t0:.2f} s")
            for k in range(self.wl.setup_passes):
                t0 = time.perf_counter()
                if self.iteration(f"setup{k}", traced=False) is None:
                    raise RuntimeError("an untimed set-up pass failed")
                log(f"set-up pass {k}: {time.perf_counter() - t0:.2f} s")
                self.wl.after_iteration()
                if self.wl.check_each_iteration:
                    t0 = time.perf_counter()
                    self.run_checks(f"setup{k}")
                    checks += time.perf_counter() - t0
            self.tracer.enabled = trace
        return sp.dur - checks

    def window(self, seconds: float, trace: bool) -> None:
        deadline = time.perf_counter() + seconds
        least = 2 if trace else 1  # a traced run measures both kinds
        i = 0
        while i < least or time.perf_counter() < deadline:
            # u t t u u t t u …: the two kinds share the warm-up trend
            traced = trace and i % 4 in (1, 2)
            self.tracer.enabled = traced
            d = self.iteration(f"{'t' if traced else 'u'}{i}", traced)
            self.tracer.enabled = trace
            if d is not None:
                (self.traced if traced else self.untraced).append(sum(d.values()))
                log(f"{self.wl.name} iteration {i}: "
                    + ", ".join(f"{k} {v:.2f}" for k, v in d.items()))
            self.wl.after_iteration(traced=traced and d is not None)
            if self.wl.check_each_iteration:
                self.run_checks(f"i{i}")
            i += 1
        if not self.wl.check_each_iteration:
            self.run_checks("end")

    def probes(self) -> dict[str, float]:
        """bench.py's host calibration pair: untimed warm, then one timed
        run (bench.py takes the min of 2; one keeps a traced run short)."""
        from osm_coverage_spark import queries_scaling as qs

        def best(make) -> float:
            self.tag("probe")
            times = []
            for _ in range(2):
                t0 = time.perf_counter()
                make().write.mode("overwrite").format("noop").save()
                times.append(time.perf_counter() - t0)
            return times[1]

        sf = self.wl.sf_dir
        return {
            "host.jvm_burn_s": best(lambda: qs.scale_jvm_burn(
                self.spark, sf, mult=PROBE_BURN_MULT)),
            "host.shuffle_probe_s": best(lambda: qs.scale_shuffle_probe(
                self.spark, sf, mult=PROBE_SHUFFLE_MULT, parts=64)),
        }


def stop_gateway() -> None:
    """Shut the py4j gateway down and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=JVM_WAIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def stop_spark(spark, sampler) -> None:
    """Stop the session and wait until the JVM and its Python workers have
    exited; kill what is still alive after JVM_WAIT_S."""
    import measure

    spark.stop()
    stop_gateway()
    survivors = measure.wait_gone(sampler.seen - {os.getpid()}, JVM_WAIT_S)
    for pid in survivors:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    measure.wait_gone(survivors, JVM_WAIT_S)


def runtime_layers(wl, elog, n_iter: int) -> dict[str, float]:
    """Per-iteration Spark runtime and operator metrics of the untraced
    iterations, from the event log."""

    def untraced(desc: str) -> bool:
        return desc.startswith(f"{wl.name}/u")

    def per_iter(node: str, metric: str) -> float:
        return elog.sql_metric(untraced, node, metric) / n_iter

    out = {
        "scan.s": per_iter("Scan", "scan time"),
        "scan.bytes": per_iter("Scan", "size of files read"),
        "exchange.bytes": per_iter("Exchange", "shuffle bytes written"),
        "exchange.write_s": per_iter("Exchange", "shuffle write time"),
        "exchange.fetch_wait_s": per_iter("Exchange", "fetch wait time"),
        "agg.spill_bytes": sum(per_iter(a, "spill size") for a in
                               ("HashAggregate", "ObjectHashAggregate",
                                "SortAggregate")),
        "python.run_s": per_iter("MapInPandas", "time to run Python workers"),
        "python.bytes_sent": per_iter("MapInPandas", "data sent to Python workers"),
    }
    out.update({k: v / n_iter for k, v in elog.task_totals(untraced).items()})
    return out


def run(wl, trace: bool, seconds: float, run_dir: str, riders=()) -> dict:
    """One workload run: returns the runners, the end-to-end metrics and,
    for a traced run, the per-layer metrics. A traced run then sets up each
    rider workload on the same session and runs one untraced and one traced
    iteration of it, for the rider's per-layer metrics."""
    import eventlog
    import measure
    from osm_coverage_spark.session import get_spark

    tracer = measure.Tracer(run_id=os.path.basename(run_dir), enabled=trace)
    try:
        with tracer.span("session.start") as start:
            spark = get_spark(app_name=f"perfbench_{wl.name}",
                              extra_conf=spark_conf(run_dir, trace))
    except Exception:
        stop_gateway()
        raise
    log(f"session start: {start.dur:.2f} s")
    sampler = measure.RssSampler(spark.sparkContext._gateway.proc.pid)
    runner = Runner(wl, spark, tracer)
    rider_runners = [Runner(r, spark, tracer) for r in riders]
    layers: dict[str, float] = {}
    try:
        with sampler:
            warm_s = runner.setup_pass()
            t0 = time.perf_counter()
            runner.window(seconds, trace)
            log(f"window: {time.perf_counter() - t0:.2f} s")
            peak = sampler.peak  # the workload's own, riders excluded
            if trace:
                layers.update(runner.probes())
                layers.update(wl.spark_layers())
            for rr in rider_runners:
                t0 = time.perf_counter()
                rr.setup_pass()
                rr.window(0.0, trace=True)
                layers.update(rr.wl.spark_layers())
                log(f"rider {rr.wl.name}: {time.perf_counter() - t0:.2f} s")
    finally:
        t0 = time.perf_counter()
        stop_spark(spark, sampler)
        log(f"stop: {time.perf_counter() - t0:.2f} s")

    e2e = {
        "wall_s": measure.median(runner.untraced),
        "setup_s": start.dur + warm_s,
    }
    runners = [runner, *rider_runners]
    extra = {"peak_rss_mb": peak / 2**20,
             "error_rate": (sum(r.failed for r in runners)
                            / max(1, sum(r.attempted for r in runners))),
             **wl.run_layers()}
    if trace:
        elog_dir = os.path.join(run_dir, "eventlog")
        elog = eventlog.parse(os.path.join(elog_dir, os.listdir(elog_dir)[0]))
        n_iter = max(1, len(runner.untraced))
        layers.update(runtime_layers(wl, elog, n_iter))
        # traced steps are leaf spans, so their self time is their duration
        by_name = measure.self_time_by_name(tracer.spans)
        for w in (wl, *riders):
            layers.update(w.layer_metrics(by_name, elog))
        layers.update({
            "session.start_s": start.dur,
            "session.warm_s": warm_s,
            "iterations": float(len(runner.untraced) + len(runner.traced)),
            "trace.overhead_s": (measure.median(runner.traced)
                                 - measure.median(runner.untraced)),
        })
    for w in riders:
        layers.update(w.run_layers())
    layers.update(extra)
    return {"runners": runners, "tracer": tracer, "e2e": e2e, "layers": layers}


def write_trace(wl, seed: int, result: dict) -> str:
    out = os.path.join(WORK, "traces")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{wl.name}-seed{seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": wl.name, "seed": seed, "rows": wl.meta["rows"],
                   "end_to_end": result["e2e"], "per_layer": result["layers"],
                   "iterations": {r.wl.name: {"untraced": r.untraced,
                                              "traced": r.traced}
                                  for r in result["runners"]},
                   "spans": result["tracer"].as_records()}, f, indent=1)
    return path


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError as e:
        log(f"cannot read BENCHMARK.json: {e}")
        return 2
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        log(f"unknown workload {args.workload!r}")
        return 2

    needed = ("bench.py", "scripts/gen_sf_replica.py", "osm_coverage_spark/__init__.py")
    absent = [p for p in needed if not os.path.isfile(os.path.join(ROOT, p))]
    if absent:
        log(f"the program is not in {ROOT}: missing {absent}")
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]
    try:
        import bench  # noqa: F401  (registry lookup used by the workloads)
        import gen_sf_replica  # noqa: F401
        import pyspark  # noqa: F401

        import osm_coverage_spark  # noqa: F401
    except ImportError as e:
        log(f"the program is not importable from {ROOT}: {e}")
        return 2

    import measure
    from workloads import WORKLOADS

    others = measure.spark_jvms()
    if measure.wait_gone(set(others), JVM_WAIT_S):
        log(f"another Spark JVM is running (pids {others}); refusing to start")
        return 3

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("local", "tmp", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub))
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_INPUT_PARTITIONS": INPUT_PARTITIONS,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        # Python workers import the program from the checkout
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "PYSPARK_PYTHON": sys.executable,
    })
    ctx = Ctx(args.seed, run_dir)
    wl = WORKLOADS[args.workload](ctx)
    riders = [cls(ctx) for cls in wl.riders] if args.trace else []
    try:
        t0 = time.perf_counter()
        for w in (wl, *riders):
            w.prepare()
        log(f"inputs: {time.perf_counter() - t0:.2f} s")
        result = run(wl, bool(args.trace), args.seconds, run_dir, riders)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    runner = result["runners"][0]
    attempted = sum(r.attempted for r in result["runners"])
    failed = sum(r.failed for r in result["runners"])
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = result["layers"] if args.trace else result["e2e"]
    if args.trace:
        idle = [m["name"] for m in declared if m["name"] not in values]
        log(f"layers idle in {wl.name}, reported as 0: {idle}")
        values = {**{n: 0.0 for n in idle}, **values}
    print(f"perfbench workload={wl.name} seed={args.seed} cpus={cpus} "
          f"samples={len(runner.untraced)} traced={len(runner.traced)} "
          f"rows={json.dumps(wl.meta['rows'], sort_keys=True)}")
    print(f"iterations untraced={[round(x, 4) for x in runner.untraced]} "
          f"traced={[round(x, 4) for x in runner.traced]}")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for name, value in sorted({**result["e2e"], **result["layers"]}.items()):
        if name in units:
            print(f"metric {name} {value!r} {units[name]}")
    if args.trace:
        print(f"trace {write_trace(wl, args.seed, result)}")
    for r in result["runners"]:
        for p in r.problems:
            print(f"problem {r.wl.name}: {p}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in declared},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
