#!/usr/bin/env python3
"""Repository benchmark: one workload per run, results as one JSON line.

    python3 perfbench/run.py --workload deal_stream --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads, metrics and the layer map are
described in perfbench/README.md. With `--trace 0` the last line carries the
end-to-end metrics; with `--trace 1` it carries the per-layer metrics of a
separate traced run. Scratch files go to perfbench/.work/.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
SF_CATALOG = "sf0.01"  # catalog_serve scale; deal_stream reads the sf0.1 events

# the unit operation of a workload: a micro-batch or a query call
PRIMARY_OPS = ("batch", "query")


def _spec() -> dict:
    """Metric names and units, from the benchmark's own BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _environment(work: str, trace: bool) -> None:
    """Confine scratch output to the work dir and size the session; must run
    before the JVM starts."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    java_opts = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    confs = ["--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
             "--conf", "spark.ui.showConsoleProgress=false"]
    if trace:  # keep every job and stage of a run in the status store
        confs += ["--conf", "spark.ui.retainedJobs=100000",
                  "--conf", "spark.ui.retainedStages=100000"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        ["--driver-java-options", f'"{java_opts}"', *confs, "pyspark-shell"]
    )


class Bench:
    """Run context: session, clocks, operation log, checks, tracer."""

    def __init__(self, args, work: str):
        from layers import Tracer
        from spark_deal_observer_spark.sources.tables import DEFAULT_SF_DIR

        self.seed, self.trace = args.seed, bool(args.trace)
        self.work = work
        self.events_dir = DEFAULT_SF_DIR
        self.catalog_dir = os.path.join(os.path.dirname(DEFAULT_SF_DIR.rstrip("/")), SF_CATALOG)
        self.tracer = Tracer(self.trace)
        self.spark = None
        self.store = None
        self.ops: list[dict] = []
        self.failed_checks: list[str] = []
        self.checks = 0
        self.notes: list[str] = []
        self._group = 0
        self._traced: list = []  # (span, [JobInfo]) pairs resolved after the run

    # -- session ------------------------------------------------------------
    def start_session(self) -> float:
        from spark_deal_observer_spark import benchkit
        from spark_deal_observer_spark.session import get_spark

        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        benchkit.warm_session(self.spark)
        if self.trace:
            from layers import StatusStore

            self.store = StatusStore(self.spark)
        return time.perf_counter() - t0

    def stop(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()

    def retained_heap_mb(self) -> float:
        """JVM heap still in use after a full collection: what the session
        keeps alive (artifacts, state, caches) once the work is done."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # queued events hold heap too
        gc.collect()  # release Python proxies that keep JVM objects alive
        jvm = sc._jvm
        # each collection lets Spark's cleaner drop the broadcast and shuffle
        # blocks whose owners the previous one found unreachable
        for _ in range(3):
            time.sleep(0.5)
            jvm.java.lang.System.gc()
        mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        return mem.getHeapMemoryUsage().getUsed() / 2**20

    # -- operations ---------------------------------------------------------
    def record_op(self, kind: str, name: str, wall: float, *, failed: bool,
                  foreign: float = 0.0, dirty: bool = False) -> None:
        self.ops.append({"kind": kind, "name": name, "wall_s": wall, "failed": failed,
                         "foreign_cpu_s": foreign, "contaminated": dirty})

    def op(self, kind: str, name: str, fn):
        """Run one call into the package as its own job group; time it, meter
        foreign CPU around it and record it as an operation."""
        from spark_deal_observer_spark import benchkit

        self._group += 1
        group = f"perfbench-{self._group}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        before = benchkit.cpu_snapshot()
        span = self.tracer.open("call", name)
        failed = False
        try:
            span.attrs["result"] = fn()
        except Exception as e:  # a failed operation is counted, the run goes on
            failed = True
            self.note(f"{kind} {name} failed: {e!r}")
            traceback.print_exc(file=sys.stderr)
        wall = self.tracer.close(span)
        foreign = benchkit.foreign_between(before, benchkit.cpu_snapshot())
        sc.setLocalProperty("spark.jobGroup.id", None)
        span.attrs["wall_s"] = wall
        if self.trace:
            jobs = self.store.jobs(group)
            span.attrs["jobs"] = len(jobs)
            self._traced.append((span, jobs))
        self.record_op(kind, name, wall, failed=failed, foreign=foreign,
                       dirty=self.contaminated(foreign, wall))
        return span

    @staticmethod
    def contaminated(foreign: float, wall: float) -> bool:
        """benchkit's rule: other processes used more than FOREIGN_FRAC_MAX
        of the box while a call ran."""
        from spark_deal_observer_spark import benchkit

        ncpu = int(os.environ["SPARK_GRAFT_CPUS"])
        return foreign > benchkit.FOREIGN_FRAC_MAX * ncpu * wall

    def query(self, name: str):
        """One registered query to a noop sink, as benchkit.time_noop runs it.
        Traced: plan build and Catalyst planning are timed on their own."""
        from spark_deal_observer_spark import benchkit
        from spark_deal_observer_spark.plans.registry import REGISTRY

        fn = REGISTRY[name].fn
        sf = self.catalog_dir
        if not self.trace:
            return self.op("query", name, lambda: benchkit.time_noop(self.spark, fn, sf))

        def traced():
            s = self.tracer.open("build", name)
            df = fn(self.spark, sf)
            self.tracer.close(s)
            s = self.tracer.open("catalyst", name)
            df._jdf.queryExecution().executedPlan()
            self.tracer.close(s)
            s = self.tracer.open("execute", name)
            df.write.format("noop").mode("overwrite").save()
            self.tracer.close(s)

        return self.op("query", name, traced)

    def spark_layers(self, span, group: str) -> int:
        """Attach the jobs of a job group (e.g. a streaming query's run id)
        to a span; returns the job count."""
        jobs = self.store.jobs(group)
        self._traced.append((span, jobs))
        return len(jobs)

    # -- checks -------------------------------------------------------------
    def check(self, ok: bool, msg: str) -> None:
        self.checks += 1
        if not ok:
            self.failed_checks.append(msg)
            print(f"CHECK FAILED: {msg}", file=sys.stderr)

    def note(self, msg: str) -> None:
        self.notes.append(msg)

    # -- traced run: Spark layers -------------------------------------------
    def spark_totals(self) -> dict[str, float]:
        """Sum jobs, stages and task metrics over every traced call; add job
        and stage child spans."""
        from layers import covered_ms

        stage_ids = {sid for _span, jobs in self._traced for j in jobs for sid in j.stage_ids}
        stages = {s.stage_id: s for s in self.store.stages(stage_ids)}
        tot = dict.fromkeys(
            ("spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
             "spark.executor_cpu_s", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
             "spark.spill_bytes", "spark.gc_s", "spark.driver_gap_s",
             "spark.narrow_heavy_stages"), 0.0)
        seen: set[int] = set()
        for span, jobs in self._traced:
            span_end = span.end_ms or span.start_ms
            tot["spark.driver_gap_s"] += (
                span_end - span.start_ms
                - covered_ms([(j.start_ms, j.end_ms) for j in jobs], span.start_ms, span_end)
            ) / 1e3
            for j in jobs:
                tot["spark.jobs"] += 1
                js = self.tracer.child(span, "job", f"job{j.job_id}", j.start_ms, j.end_ms)
                for sid in j.stage_ids:
                    s = stages.get(sid)
                    if s is None or sid in seen:
                        continue
                    seen.add(sid)
                    self.tracer.child(js, "spark_stage", f"stage{sid}", s.start_ms, s.end_ms,
                                      tasks=s.tasks, cpu_s=s.cpu_s)
                    tot["spark.stages"] += 1
                    tot["spark.tasks"] += s.tasks
                    tot["spark.executor_run_s"] += s.run_s
                    tot["spark.executor_cpu_s"] += s.cpu_s
                    tot["spark.shuffle_read_bytes"] += s.shuffle_read
                    tot["spark.shuffle_write_bytes"] += s.shuffle_write
                    tot["spark.spill_bytes"] += s.spill
                    tot["spark.gc_s"] += s.gc_s
                    tot["spark.narrow_heavy_stages"] += s.tasks <= 2 and s.cpu_s > 1.5
        return tot


def run(args, work: str) -> dict:
    from spark_deal_observer_spark import benchkit

    from layers import median, proc_cpu, tree_peak_rss_mb
    from workloads import WORKLOADS

    bench = Bench(args, work)
    load, waited = benchkit.guard_load(label="perfbench", wait_s=0)
    stamp = benchkit.loadstamp(load, waited_s=waited)
    wl = WORKLOADS[args.workload](bench)
    try:
        t_start = time.perf_counter()
        sessions = [bench.start_session() for _ in range(SETUP_REPS)]
        t = time.perf_counter()
        wl.prep()
        prep_s = time.perf_counter() - t
        # set-up calls count as operations, but are not part of the per-pass
        # figures
        bench._traced.clear()
        setup_ops = len(bench.ops)
        setup_first_s = time.perf_counter() - t_start

        # whole passes until --seconds are measured; each pass's outputs are
        # checked after it, outside the timed and CPU windows
        run_span = bench.tracer.open("run", args.workload)
        cpu_s, proc = 0.0, dict.fromkeys(("driver", "jvm", "pyworker"), 0.0)
        passes, pass_walls = 0, []
        while not pass_walls or sum(pass_walls) < args.seconds:
            if bench.trace:
                proc0 = proc_cpu()
            cpu0 = benchkit.cpu_snapshot()[1]
            pass_walls.append(wl.run_pass(passes))
            cpu_s += benchkit.cpu_snapshot()[1] - cpu0
            if bench.trace:
                proc1 = proc_cpu()
                proc = {k: proc[k] + proc1[k] - proc0[k] for k in proc}
            wl.check_pass(passes)
            passes += 1
        cpu_s /= passes
        bench.tracer.close(run_span)
        peak = tree_peak_rss_mb()
        heap = bench.retained_heap_mb()

        layer = {}
        if bench.trace:
            layer.update(wl.summary())
            layer.update({k: v / passes for k, v in bench.spark_totals().items()})
            for role, v in proc.items():
                layer[f"proc.{role}_cpu_s"] = v / passes
            selft = bench.tracer.self_times()
            layer["registry.build_s"] = selft.get("build", 0.0) / passes
            layer["registry.catalyst_s"] = selft.get("catalyst", 0.0) / passes
            layer["trace.pass_s"] = median(pass_walls)
            layer["trace.op_p50_s"] = median(
                [o["wall_s"] for o in bench.ops[setup_ops:]
                 if o["kind"] in PRIMARY_OPS and not o["failed"]])
            layer["proc.peak_rss_mb"] = peak
            if args.workload == "deal_stream":
                layer["baseline.local1_pass_s"] = wl.local1_baseline()
    finally:
        bench.stop()

    ops = bench.ops
    op_p50 = median([o["wall_s"] for o in ops[setup_ops:]
                     if o["kind"] in PRIMARY_OPS and not o["failed"]])
    failed = sum(o["failed"] for o in ops) + len(bench.failed_checks)
    attempted = max(len(ops), 1)
    dirty_ops = sum(o["contaminated"] for o in ops)
    side = {
        "workload": args.workload, "seed": args.seed, "trace": bench.trace,
        "passes": passes, "ops": len(ops), "checks": bench.checks,
        "failed_checks": bench.failed_checks, "notes": bench.notes,
        "setup_sessions_s": sessions, "setup_prep_s": prep_s, "setup_first_s": setup_first_s,
        "pass_walls_s": pass_walls,
        "op_p50_s": op_p50,
        "op_walls_s": [[o["kind"], round(o["wall_s"], 3)] for o in ops],
        "contamination": {**stamp, "contaminated_ops": dirty_ops,
                          "foreign_cpu_s": sum(o["foreign_cpu_s"] for o in ops),
                          "contaminated": bool(stamp["contaminated"] or dirty_ops)},
    }
    spec = _spec()
    if bench.trace:
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        side["self_time_s"] = bench.tracer.self_times()
        with open(os.path.join(HERE, ".work", f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"summary": side, "spans": [s.__dict__ for s in bench.tracer.spans]},
                      f, default=str)
    else:
        values = {
            "setup_s": statistics.median(sessions) + prep_s,
            "cpu_s": cpu_s,
            "retained_heap_mb": heap,
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps(side, default=str))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": min(failed, attempted),
        "metrics": metrics,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description="repository benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [HERE, ROOT]
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(work, bool(args.trace))
    try:
        import spark_deal_observer_spark  # noqa: F401  (fails outside a checkout)
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            ap.error(f"unknown workload {args.workload}; have {sorted(WORKLOADS)}")
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
