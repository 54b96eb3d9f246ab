"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload migrate_cdc --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The run builds one SparkSession
(``local[nproc]``) with the engine's own ``get_spark``, generates its
inputs from ``--seed``, runs closed-loop passes of the workload for
``--seconds`` and checks every output. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``). The exit code is 0 only when every check passed.

All scratch files live in a per-run directory under ``perfbench/out``
that is removed at exit; ``--trace 1`` also leaves its spans there.
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

import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
SETUPS = 3  # session set-ups per run; setup_s is their median
# the JSON metrics; wall times and peak RSS are printed beside them but
# vary too much from run to run on a shared host to hold a bound
END_TO_END = ("setup_s", "first_pass_cpu_s", "phase1_cpu_s", "phase2_cpu_s", "phase3_cpu_s")


def process_start() -> float:
    """Epoch time at which this process started (from /proc)."""
    start_ticks = int(workloads.proc_stat(os.getpid())[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def peak_rss_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def isolate(work: str) -> None:
    """Point every scratch path of Python, the JVM and Spark into
    ``work`` and let Python workers import the engine from any cwd."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM="2g",
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]
    os.chdir(work)  # anything written relative to cwd stays in work


def build_session(work: str):
    from transferdb_spark.session import get_spark

    spark = get_spark(
        "perfbench", extra_conf={"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    )
    spark.range(1000).selectExpr("sum(id)").collect()  # one trivial job
    return spark


def running(pid: int) -> bool:
    """Whether ``pid`` still runs (a zombie has exited)."""
    fields = workloads.proc_stat(pid)
    return fields is not None and fields[0] != "Z"


def stop_jvm(spark) -> None:
    """Stop Spark, then wait for the JVM and the Python workers it forked
    to exit (the workers go when the JVM closes their pipes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    forked = workloads.descendants(proc.pid)[1:]
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while forked and time.monotonic() < deadline:
        time.sleep(0.1)
        forked = [pid for pid in forked if running(pid)]
    for pid in forked:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass  # exited after the last look
    SparkContext._gateway = SparkContext._jvm = None


def run(args, work: str, t_proc: float) -> tuple[dict, list[str], int, int]:
    import tracing

    # set-up 1 is the cold start from process start (interpreter, engine
    # imports, JVM launch); the others stop the session and build it
    # again in the same JVM, so session-build work shows in each. Like
    # the pass metrics they count CPU seconds of the process tree
    t0 = time.time()
    spark = build_session(work)
    session_start = time.time() - t0
    cold_start = time.time() - t_proc
    setups = [workloads.tree_cpu_s()]
    for _ in range(SETUPS - 1):
        spark.stop()
        c0 = workloads.tree_cpu_s()
        spark = build_session(work)
        setups.append(workloads.tree_cpu_s() - c0)
    jvm_pid = spark.sparkContext._gateway.proc.pid
    t_setup = time.time()

    try:
        tracer = tracing.Tracer(spark)
        if args.trace:
            tracer.install()
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, tracer, args.corrupt)
        t0 = time.time()
        props = wl.prepare()
        gen_s = time.time() - t0
        t_gen = time.time()

        # closed loop until --seconds have passed, pass 0 being cold. With
        # --trace 1, pass 0 is traced (the per-layer figures) and the warm
        # passes alternate untraced / traced to measure the overhead
        passes = []
        deadline = time.monotonic() + args.seconds
        while True:
            i = len(passes)
            tracer.enabled = traced = bool(args.trace) and i % 2 == 0
            tracer.pass_no = i
            n_spans = len(tracer.spans)
            with tracer.region("pass"):
                res = wl.run_pass(i)
            tracer.enabled = False
            res.info["traced"] = traced
            passes.append(res)
            if traced:
                tracer.collect(n_spans)
            if res.failed or (time.monotonic() >= deadline and (not args.trace or len(passes) >= 3)):
                break  # a failing engine is reported, not re-run

        peak_kb = peak_rss_kb("self") + peak_rss_kb(jvm_pid)
        t_passes = time.time()
    finally:
        stop_jvm(spark)

    med = workloads.median
    untraced = [p for p in passes if not p.info["traced"]]
    phases = ("phase1", "phase2", "phase3")
    timed = untraced or passes
    metrics = {
        "setup_s": (med(setups), "s"),
        "first_pass_cpu_s": (sum(passes[0].cpu.values()), "s"),
        **{f"{ph}_cpu_s": (med([p.cpu.get(ph, 0.0) for p in timed]), "s") for ph in phases},
        "first_pass_s": (sum(passes[0].phases.values()), "s"),
        **{f"{ph}_s": (workloads.phase_median(timed, ph), "s") for ph in phases},
        "peak_rss_mb": (peak_kb / 1024, "MB"),
    }
    attempted = sum(p.attempted for p in passes)
    failures = [f"pass {n}: {op}: {why}" for n, p in enumerate(passes) for op, why in p.failed.items()]
    info = [
        f"input {json.dumps(props, sort_keys=True)}",
        f"timeline_s setup {t_setup - t_proc:.1f} gen {t_gen - t_proc:.1f} passes {t_passes - t_proc:.1f} "
        f"stopped {time.time() - t_proc:.1f}",
        f"gen_s {gen_s:.3f} s",
        f"cold_start_s {cold_start:.3f} s",
        f"passes {len(passes)} ({sum(p.info['traced'] for p in passes)} traced)",
        "first_pass_ops_s " + json.dumps({k: round(v, 3) for k, v in passes[0].op_s.items()}),
    ]
    info += [f"{k} {v:.6g} {u}" for k, (v, u) in metrics.items()]
    info += [f"{k} {v:.6g} {u}" for k, (v, u) in wl.headline(timed).items()]
    info.append(f"error_rate {len(failures) / max(attempted, 1):.6g} ratio")
    info += [f"FAILED {f}" for f in failures]

    if args.trace:
        per_layer = tracing.layer_metrics([sp for sp in tracer.spans if sp.pass_no == 0])
        warm = [sum(p.phases.values()) for p in passes[1:]]
        base = med(warm[0::2])
        overhead = med(warm[1::2]) - base
        per_layer.update(
            {
                "session.start_s": session_start,
                "trace.overhead_s": overhead,
                "trace.overhead_ratio": overhead / base if base else 0.0,
            }
        )
        path = os.path.join(OUT, f"trace-{args.workload}-seed{args.seed}.json")
        tracer.write(path)
        info.append(f"spans {path}")
        info += [f"{k} {v:.6g}" for k, v in sorted(per_layer.items())]
        out = {k: {"value": per_layer[k], "unit": unit} for k, (unit, _) in tracing.PER_LAYER.items()}
    else:
        out = {k: {"value": metrics[k][0], "unit": metrics[k][1]} for k in END_TO_END}
    return out, info, attempted, len(failures)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt", action="store_true", help="damage one output per pass (self-test only)")
    args = ap.parse_args()

    if not (os.path.isdir(os.path.join(ROOT, "transferdb_spark")) and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no engine to run under {ROOT} (transferdb_spark/, __spark_entry__.py)", file=sys.stderr)
        return 2

    t_proc = process_start()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # run the cleanup below
    os.makedirs(OUT, exist_ok=True)
    work = os.path.join(OUT, f"work-{os.getpid()}")
    isolate(work)
    try:
        metrics, info, attempted, failed = run(args, work, t_proc)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    for line in info:
        print(line)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
