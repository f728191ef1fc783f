#!/usr/bin/env python3
"""Closed-loop benchmark of lab_etl_spark: one workload per process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root.  One run:

1. sets up from process start: imports, JVM and session, ``load_all()``
   and the inputs;
2. runs a cold pass, which doubles as the warm-up, then timed passes
   worth ``--seconds`` at the first timed pass's pace (at least
   ``N_TIMED``), rerunning a few the host stole CPU time from; the cold
   pass and one timed pass are checked;
3. with ``--trace 0``, stops its JVM and sets up ``SETUPS - 1`` more
   times, each in a fresh process (``--setup-only``) with a fresh JVM,
   and reports the median set-up;
4. with ``--trace 1``, restarts the session with a Spark event log, runs
   the same number of timed passes, and attributes jobs, stages, tasks
   and task metrics to ops through the log.

The last stdout line is the JSON result; the line before it is a JSON
detail record (host shape, per-pass readings, failures).  All scratch
state lives in ``.perfbench_work/`` at the repository root.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: the environment as started, for the set-up children
ENV0 = dict(os.environ)
sys.path.insert(0, ROOT)

from perfbench import eventlog, procstat, workloads  # noqa: E402

#: set-ups per untraced run, each from process start with a fresh JVM
SETUPS = 2
#: timed passes per run, at least
N_TIMED = 3
#: host steal share above which a timed pass is run again (a quiet pass
#: reads 0.2-3.5 % on a 4-core host; one at 13 % ran 50 % slower), and
#: the most reruns per phase
STEAL_LIMIT, MAX_RERUNS = 0.05, 2

#: end-to-end metrics (reported with --trace 0)
END_TO_END = {"setup_s": "s", "cold_s": "s", "wall_s": "s", "cpu_s": "s"}

#: per-op layer metrics, reported for every op of every workload (an op
#: that does not run in this workload reads 0)
OP_METRICS = {"wall_s": "s", "build_s": "s", "jobs": "count"}

#: per-workload layer metrics (reported with --trace 1)
LAYER_METRICS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "tasks_failed": "count",
    "exec_run_s": "s",
    "exec_cpu_s": "s",
    "gc_s": "s",
    "shuffle_mb": "MiB",
    "spill_mb": "MiB",
    "pyworker.cpu_s": "s",
    "jvm.cpu_s": "s",
    "jit.compile_s": "s",
    "session.jvm_peak_rss_mb": "MiB",
    "session.start_s": "s",
    "queries.import_s": "s",
    "sink.bytes_out_mb": "MiB",
    "sink.files_out": "count",
    "commitlog.bytes_per_user_byte": "ratio",
    "host.steal_frac": "fraction",
    "host.canary_s": "s",
    "trace.overhead_frac": "fraction",
    "error_rate": "fraction",
}


def per_layer_units() -> dict[str, str]:
    units = {}
    for wl in workloads.WORKLOADS.values():
        for op in wl:
            for m, u in OP_METRICS.items():
                units[f"{op}.{m}"] = u
    units.update(LAYER_METRICS)
    return units


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--setup-only", action="store_true",
                   help="set up once, print the timings and exit")
    return p.parse_args(argv)


def pin_host(work: str) -> dict:
    """Pin the session to this host's shape; keep every scratch path under
    ``work``.  Returns the host record."""
    cpus = len(os.sched_getaffinity(0))
    ram_mb = procstat.mem_total_mb()
    driver_mb = max(1024, min(4096, ram_mb // 4))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{driver_mb}m",
        SPARK_GRAFT_EXTRA_CONF="",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        # no hsperfdata file: HotSpot writes it under /tmp, outside the checkout
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable,
    )
    return {"cpus": cpus, "ram_mb": ram_mb, "driver_mem": f"{driver_mb}m"}


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.ctx = workloads.Ctx(work)
        self.ops = [workloads.make_op(n) for n in workloads.op_order(args.workload, args.seed)]
        self.jvm_pid = None
        self.attempted = 0
        self.failures: list[dict] = []
        self.pass_no = 0
        self.stolen: list[dict] = []  # timed passes set aside for host steal

    # -- set-up --------------------------------------------------------------

    def setup(self) -> dict:
        t_sess = time.perf_counter()
        from lab_etl_spark.session import get_spark

        spark = get_spark(f"perfbench-{self.args.workload}")
        t_import = time.perf_counter()
        from lab_etl_spark.queries import load_all

        self.ctx.registry = load_all()
        t_inputs = time.perf_counter()
        self.ctx.spark = spark
        self.make_inputs()
        done = time.perf_counter()
        self.jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        return {
            "setup_s": done - T0,
            "session.start_s": t_import - t_sess,
            "queries.import_s": t_inputs - t_import,
        }

    def make_inputs(self) -> None:
        """Write the seeded instrument corpus (the query workloads read the
        committed sf tables)."""
        if self.args.workload != "instrument_lake":
            return
        from perfbench import corpus

        self.ctx.corpus_dir = os.path.join(self.work, "corpus")
        self.ctx.runs = corpus.generate(
            self.ctx.corpus_dir, self.args.seed, workloads.N_MCC, workloads.N_STA
        )

    # -- passes --------------------------------------------------------------

    def run_pass(self, check: bool) -> dict:
        ctx, sc = self.ctx, self.ctx.spark.sparkContext
        n = self.pass_no
        self.pass_no += 1
        if self.args.workload == "instrument_lake":
            workloads.new_pass_dir(ctx, n)
        gc.collect()
        sc.setLocalProperty(eventlog.PASS_PROP, str(n))
        rec: dict = {"pass": n, "ops": {}}
        outs, errors = {}, {}
        jit0 = self.jit_compile_s()
        cpu0, steal0 = procstat.CpuReading(os.getpid(), self.jvm_pid), procstat.host_ticks()
        for op in self.ops:
            sc.setJobGroup(f"{self.args.workload}.{op.name}", op.name)
            self.attempted += 1
            t = time.perf_counter()
            try:
                build_s, outs[op.name] = op.run(ctx)
            except Exception as e:  # an op failure is counted, never fatal
                build_s, errors[op.name] = float("nan"), e
            rec["ops"][op.name] = {"wall_s": time.perf_counter() - t, "build_s": build_s}
        cpu1, steal1 = procstat.CpuReading(os.getpid(), self.jvm_pid), procstat.host_ticks()
        jit1 = self.jit_compile_s()
        sc.setJobGroup("harness.check", "check")
        if check:
            for op in self.ops:
                if op.name in outs:
                    try:
                        op.check(ctx, outs[op.name])
                    except Exception as e:
                        errors[op.name] = e
        for name, err in errors.items():
            self.failures.append({"pass": n, "op": name, "error": "".join(
                traceback.format_exception_only(type(err), err)).strip()[:500]})
            rec["ops"][name]["failed"] = True
        rec["wall_s"] = sum(o["wall_s"] for o in rec["ops"].values())
        rec.update(cpu1.minus(cpu0))
        rec["jit.compile_s"] = jit1 - jit0
        rec["host.steal_frac"] = procstat.steal_frac(steal0, steal1)
        if self.args.workload == "instrument_lake" and not errors:
            rec["sink.bytes_out_mb"], rec["sink.files_out"] = workloads.sink_output(ctx)
            rec["commitlog.bytes_per_user_byte"] = workloads.log_overhead(ctx)
        rec["host.canary_s"] = self.canary()
        sc.setLocalProperty(eventlog.PASS_PROP, None)
        return rec

    def jit_compile_s(self) -> float:
        """Seconds the JVM's JIT compilers have spent so far."""
        mx = self.ctx.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return mx.getCompilationMXBean().getTotalCompilationTime() / 1e3

    def canary(self) -> float:
        """A fixed CPU-bound job in this JVM: tells a slow host from a slow
        program."""
        sc = self.ctx.spark.sparkContext
        sc.setJobGroup("harness.canary", "canary")
        t = time.perf_counter()
        self.ctx.spark.range(0, 3_000_000, 1, int(os.environ["SPARK_GRAFT_CPUS"])).selectExpr(
            "sum(hash(id, id * 7))"
        ).collect()
        return time.perf_counter() - t

    def timed_passes(self) -> list[dict]:
        """``n`` timed passes: worth ``--seconds`` at the first one's pace,
        at least ``N_TIMED``.  The ``n``-th is checked after its readings
        are taken.  A pass during which the host stole more than
        ``STEAL_LIMIT`` of all CPU time is run again, at most
        ``MAX_RERUNS`` times, and set aside (``self.stolen``) if ``n``
        passes ran without; otherwise every pass counts."""
        runs = [self.run_pass(check=False)]
        n = max(N_TIMED, int(self.args.seconds // runs[0]["wall_s"]))

        def quiet() -> list[dict]:
            return [r for r in runs if r["host.steal_frac"] <= STEAL_LIMIT]

        while len(runs) < n or (len(quiet()) < n and len(runs) < n + MAX_RERUNS):
            runs.append(self.run_pass(check=len(runs) == n - 1))
        if len(quiet()) < n:
            return runs
        self.stolen += [r for r in runs if r not in quiet()]
        return quiet()

    def restart_traced(self, log_dir: str) -> None:
        os.makedirs(log_dir)
        os.environ["SPARK_GRAFT_EXTRA_CONF"] = (
            f"spark.eventLog.enabled=true;spark.eventLog.dir=file://{log_dir}"
        )
        self.ctx.spark.stop()
        from lab_etl_spark.session import get_spark

        self.ctx.spark = get_spark(f"perfbench-{self.args.workload}-traced")

    def shutdown(self) -> None:
        from pyspark import SparkContext

        if self.ctx.spark is not None:
            self.ctx.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        reap_descendants()


def reap_descendants() -> None:
    """Terminate and wait for any process this one started."""
    me = os.getpid()
    left = [p for p in procstat.descendants(me, procstat.processes()) if p != me]
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in left:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 10
        while time.time() < deadline:
            procs = procstat.processes()
            left = [p for p in procstat.descendants(me, procs) if p != me]
            for p in left:
                try:
                    os.waitpid(p, os.WNOHANG)
                except ChildProcessError:
                    pass
            if not left:
                return
            time.sleep(0.1)


def since_start() -> float:
    return time.perf_counter() - T0


def med(values) -> float:
    values = [v for v in values if v == v]
    return float(statistics.median(values)) if values else 0.0


def layer_metrics(bench: Bench, traced: list[dict], untraced: list[dict], setups: list[dict],
                  summary: dict, peak_rss_mb: float) -> dict[str, float]:
    wl = bench.args.workload
    out = dict.fromkeys(per_layer_units(), 0.0)
    passes = [r["pass"] for r in traced]
    for op in workloads.WORKLOADS[wl]:
        out[f"{op}.wall_s"] = med(r["ops"][op]["wall_s"] for r in traced)
        out[f"{op}.build_s"] = med(r["ops"][op]["build_s"] for r in traced)
        out[f"{op}.jobs"] = med(summary.get((f"{wl}.{op}", p), {}).get("jobs", 0) for p in passes)

    def per_pass(field: str) -> float:
        return med(
            sum(summary.get((f"{wl}.{op}", p), {}).get(field, 0.0) for op in workloads.WORKLOADS[wl])
            for p in passes
        )

    for f in ("jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "gc_s", "spill_mb"):
        out[f] = per_pass(f)
    out["shuffle_mb"] = per_pass("shuffle_read_mb") + per_pass("shuffle_write_mb")
    out["tasks_failed"] = sum(row["tasks_failed"] for row in summary.values())
    for f in ("pyworker.cpu_s", "jvm.cpu_s", "jit.compile_s", "host.steal_frac", "host.canary_s",
              "sink.bytes_out_mb", "sink.files_out", "commitlog.bytes_per_user_byte"):
        out[f] = med(r.get(f, 0.0) for r in traced)
    out["session.start_s"] = med(s["session.start_s"] for s in setups)
    out["queries.import_s"] = med(s["queries.import_s"] for s in setups)
    out["trace.overhead_frac"] = med(r["wall_s"] for r in traced) / med(
        r["wall_s"] for r in untraced) - 1.0
    out["error_rate"] = len(bench.failures) / bench.attempted
    out["session.jvm_peak_rss_mb"] = peak_rss_mb
    return out


def count_repeats(bench: Bench, summary: dict, traced: list[dict]) -> dict:
    """Ops whose jobs/stages/tasks differ between timed traced passes."""
    wl, varying = bench.args.workload, {}
    for op in workloads.WORKLOADS[wl]:
        for f in ("jobs", "stages", "tasks"):
            seen = {summary.get((f"{wl}.{op}", r["pass"]), {}).get(f, 0) for r in traced}
            if len(seen) > 1:
                varying[f"{op}.{f}"] = sorted(seen)
    return varying


def setup_in_child(args) -> dict:
    """One set-up in a fresh process with a fresh JVM (``--setup-only``)."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", "0", "--setup-only"]
    out = subprocess.run(cmd, env=ENV0, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                         timeout=150, check=True)
    return json.loads(out.stdout.splitlines()[-1])


def main(argv=None) -> int:
    args = parse_args(argv)
    name = args.workload + (".setup" if args.setup_only else "")
    work = os.path.join(ROOT, ".perfbench_work", name)
    shutil.rmtree(work, ignore_errors=True)
    host = pin_host(work)
    bench = Bench(args, work)
    if args.setup_only:
        try:
            setup = bench.setup()
        finally:
            bench.shutdown()
        shutil.rmtree(work, ignore_errors=True)
        print(json.dumps(setup), flush=True)
        return 0
    try:
        setups = [bench.setup()]
        spark = bench.ctx.spark
        host.update(
            shuffle_partitions=spark.conf.get("spark.sql.shuffle.partitions"),
            extra_conf=os.environ["SPARK_GRAFT_EXTRA_CONF"],
            pyspark=spark.version,
            java=spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        )
        timeline = {"setup": since_start()}
        cold = bench.run_pass(check=True)
        timeline["cold"] = since_start()
        timed = bench.timed_passes()
        timeline["passes"] = since_start()
        traced_detail = {}
        if args.trace:
            log_dir = os.path.join(work, "eventlog")
            bench.restart_traced(log_dir)
            host["traced_extra_conf"] = os.environ["SPARK_GRAFT_EXTRA_CONF"]
            traced = bench.timed_passes()
            peak_rss = procstat.peak_rss_mb(bench.jvm_pid)
            bench.ctx.spark.stop()  # flushes the event log
            bench.ctx.spark = None
            timeline["traced"] = since_start()
            summary = eventlog.summarize(eventlog.read_events(log_dir))
            metrics = layer_metrics(bench, traced, timed, setups, summary, peak_rss)
            units = per_layer_units()
            traced_detail = {"traced_passes": traced,
                             "counts_vary": count_repeats(bench, summary, traced)}
    finally:
        bench.shutdown()
    timeline["shutdown"] = since_start()
    if not args.trace:
        setups += [setup_in_child(args) for _ in range(SETUPS - 1)]
        timeline["setup_children"] = since_start()
        metrics = {
            "setup_s": med(s["setup_s"] for s in setups),
            "cold_s": cold["wall_s"],
            "wall_s": med(r["wall_s"] for r in timed),
            "cpu_s": med(r["cpu_s"] for r in timed),
        }
        units = END_TO_END
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "op_order": [op.name for op in bench.ops],
        "host": host,
        "setups": setups,
        "cold": cold,
        "timed": timed,
        "plateau": {"first_s": timed[0]["wall_s"], "last_s": timed[-1]["wall_s"],
                    "rel_diff": timed[-1]["wall_s"] / timed[0]["wall_s"] - 1.0},
        "stolen": bench.stolen,
        "failures": bench.failures,
        "timeline_s": timeline,
        **traced_detail,
    }
    print(json.dumps({"detail": detail}, default=str))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result(bench, metrics, units)), flush=True)
    return 0


def result(bench: Bench, metrics: dict[str, float], units: dict[str, str]) -> dict:
    """The result line: every metric of ``units``, with its unit."""
    failed = len(bench.failures)
    return {
        "correct": failed == 0,
        "attempted": bench.attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
