"""Engine benchmark: three workloads timed from outside the program.

Usage (from the repository root):

    python3 perfbench/run.py --workload er-volume --seed 1 --seconds 20 --trace 0

One run generates the workload's inputs from ``--seed``, starts one
Spark session through ``graphchi_cpp_spark.session.get_spark`` with the
pinned settings below, runs warm-up passes, then measures identical
passes for at least ``--seconds`` seconds, checks every call's output
against the oracles (perfbench/oracles.py) and prints one JSON line.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` reads Spark
counters after every call and batch, prints the per-layer metrics and
writes the spans to ``.perfbench/traces/``. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Pinned deployment settings (also listed in perfbench/README.md).
SLOTS = min(4, len(os.sched_getaffinity(0)))  # task slots, never above nproc
SHUFFLE_PARTITIONS = 8
DRIVER_HEAP = "2g"

SETUP_REPEATS = 3  # input generation + checkpoint, median reported
# (warm-up passes, least measured passes): warm-up passes count as
# set-up; measurement then runs until both --seconds and the least pass
# count are reached
PASSES = {"er-volume": (1, 3), "small-iterative": (1, 2), "stream-mutate": (1, 3)}
MAX_PASSES = 60
# batch_tail_s is the sample with TAIL_BEYOND samples above it: the
# highest percentile that has ten samples beyond it
TAIL_BEYOND = 10

END_TO_END = [
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("batch_p50_s", "s"),
    ("batch_tail_s", "s"),
    ("peak_rss_mb", "MB"),
    ("success_rate", "ratio"),
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(f"perfbench: [{time.perf_counter() - T_START:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


def vm_hwm_mb(pid) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def children_of(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            if ppid == pid:
                out.append(int(d))
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = children_of(todo.pop())
        out += kids
        todo += kids
    return out


def start_session(work: str):
    from graphchi_cpp_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        cpus=SLOTS,
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.driver.memory": DRIVER_HEAP,
            # initial heap = maximum, every page touched at start:
            # otherwise heap growth and which pages the GC had touched by
            # the peak, both decided by GC timing, move peak RSS between runs
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP} "
            "-XX:MaxHeapFreeRatio=100 -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={work}",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for them."""
    sc = spark.sparkContext
    proc = getattr(sc._gateway, "proc", None)
    jvm_pid = None if proc is None else proc.pid
    tree = [] if jvm_pid is None else descendants(jvm_pid)
    spark.stop()
    sc._gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def run(args, work: str, state: dict) -> dict:
    import pandas as pd

    from perfbench import inputs
    from perfbench.tracing import Runner, reclaim

    workload = args.workload
    in_dir = os.path.join(work, "inputs")
    t_imports = time.perf_counter()

    # inputs are regenerated SETUP_REPEATS times; set-up reports the median
    input_times = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        data = inputs.generate(workload, args.seed)
        paths = inputs.write_inputs(workload, data, in_dir)
        input_times.append(time.perf_counter() - t0)
    del data

    t0 = time.perf_counter()
    exp_dir = os.path.join(work, "expected")
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "oracles.py"),
         workload, in_dir, exp_dir],
        check=True, timeout=150,
    )
    expected = {
        os.path.splitext(f)[0]: pd.read_parquet(os.path.join(exp_dir, f))
        for f in os.listdir(exp_dir)
    }
    oracle_s = time.perf_counter() - t0
    log(f"inputs {input_times}, oracle {oracle_s:.2f}s")

    spark, session_s = start_session(work)
    state["spark"] = spark
    sc = spark.sparkContext
    from perfbench.workloads import WORKLOADS

    build_times = []
    for i in range(SETUP_REPEATS):
        before = Runner.persistent_ids(sc)
        t0 = time.perf_counter()
        wl = WORKLOADS[workload](spark, paths)
        build_times.append(time.perf_counter() - t0)
        if i < SETUP_REPEATS - 1:  # keep only the last build's checkpoints
            Runner.free(sc, Runner.persistent_ids(sc) - before)
            del wl
    baseline_rdds = len(Runner.persistent_ids(sc))
    log(f"session {session_s:.2f}s, builds {build_times}")

    runner = Runner(spark, expected, traced=bool(args.trace))
    warmup_passes, min_passes = PASSES[workload]
    t_warm = time.perf_counter()
    for _ in range(warmup_passes):
        runner.run_pass(wl, measured=False)
    warmup_s = time.perf_counter() - t_warm
    log(f"warm-up {warmup_s:.2f}s")
    setup_s = (
        (t_imports - T_START)
        + statistics.median(input_times)
        + session_s
        + statistics.median(build_times)
        + warmup_s
    )

    t_meas = time.perf_counter()
    while runner.passes < MAX_PASSES and (
        time.perf_counter() - t_meas < args.seconds
        or runner.passes < min_passes
    ):
        runner.run_pass(wl, measured=True)
        runner.live_rdds.append(reclaim(spark) - baseline_rdds)
        log(f"pass {runner.passes}: {runner.pass_times[-1]:.3f}s "
            + " ".join(f"{n.rsplit('.', 1)[-1]}={t:.2f}"
                       for n, t in runner.pass_calls))

    peak_rss = vm_hwm_mb(sc._gateway.proc.pid) + vm_hwm_mb("self")
    res = {
        "attempted": runner.attempted,
        "failed": runner.failed,
        "wrong": runner.wrong,
        "errors": runner.errors,
        "session_s": session_s,
        "oracle_s": oracle_s,
        "setup_s": setup_s,
        "pass_s": runner.pass_times,
        "batch_s": runner.batch_samples,
        "peak_rss_mb": peak_rss,
    }
    if args.trace:
        res["per_layer"] = runner.per_layer(session_s)
        os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
        trace_path = os.path.join(
            ROOT, ".perfbench", "traces", f"{workload}-seed{args.seed}.json"
        )
        with open(trace_path, "w") as f:
            json.dump({"spans": runner.spans, "per_layer": res["per_layer"]}, f)
    return res


def batch_latency(res) -> tuple[float, float]:
    """(batch_p50_s, batch_tail_s). Stream batches: their median, and the
    sample with TAIL_BEYOND larger ones. A batch workload has no batches;
    its unit of work is the pass, and a run has far too few passes for
    any tail percentile (the slower of two passes spread up to 30 % of
    its median between runs), so both report the median pass, wall_s."""
    batches = sorted(res["batch_s"])
    if not batches:
        p50 = statistics.median(res["pass_s"])
        return p50, p50
    if len(batches) <= 2 * TAIL_BEYOND:
        raise RuntimeError(f"{len(batches)} batch samples are too few for a tail")
    return statistics.median(batches), batches[-TAIL_BEYOND - 1]


def end_to_end(res) -> dict:
    p50, tail = batch_latency(res)
    vals = {
        "setup_s": res["setup_s"],
        "wall_s": statistics.median(res["pass_s"]),
        "batch_p50_s": p50,
        "batch_tail_s": tail,
        "peak_rss_mb": res["peak_rss_mb"],
        "success_rate": 1.0 - res["failed"] / res["attempted"],
    }
    return {k: {"value": vals[k], "unit": u} for k, u in END_TO_END}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "graphchi_cpp_spark")):
        print("perfbench: graphchi_cpp_spark not found next to perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]  # the program's defaults, not a caller's knobs
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = work
    # the JVM takes its scratch dirs from this variable before spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # spark-submit first runs a launcher JVM; keep its files in the run dir too
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}"
    import tempfile

    tempfile.tempdir = work
    state: dict = {}
    try:
        res = run(args, work, state)
    finally:
        if "spark" in state:
            stop_session(state["spark"])
            log("stopped")
        shutil.rmtree(work, ignore_errors=True)
    for msg, n in sorted(res["errors"].items()):
        print(f"perfbench: {n} x {msg}", file=sys.stderr)
    print(
        f"perfbench: {args.workload} seed={args.seed} passes="
        f"{len(res['pass_s'])} pass_s={[round(x, 3) for x in res['pass_s']]} "
        f"session_s={res['session_s']:.2f} oracle_s={res['oracle_s']:.2f}",
        file=sys.stderr,
    )
    metrics = res["per_layer"] if args.trace else end_to_end(res)
    print(json.dumps({
        "correct": res["wrong"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
