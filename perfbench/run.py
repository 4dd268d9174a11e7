#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {mead_ref,query_mix} --seed N \\
        --seconds S --trace {0,1} [--tiny]

Run from the root of a checkout. It starts one driver on
``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this process may use), makes
the workload's inputs from the seed, runs one untimed warm-up pass, then
timed passes for ``--seconds``, and checks every output. The last stdout
line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). The line before it is the full record: every metric,
``failed_frac``, the machine record and the per-pass figures. Spans and the
record are also written under ``perfbench/out/``. ``--tiny`` shrinks the
inputs for the smoke test.
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

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG_DIR = os.path.join(ROOT, "talkinghead_datapipeline_spark")


def _units() -> dict[str, dict[str, str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def _proc_table() -> dict[int, tuple[int, str, str]]:
    """pid -> (ppid, state, start time) of every process in /proc."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        table[int(name)] = (int(fields[1]), fields[0], fields[19])
    return table


def _descendants() -> set[tuple[int, str]]:
    """(pid, start time) of every process below this one."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _state, _start) in table.items():
        children.setdefault(ppid, []).append(pid)
    found, todo = set(), [os.getpid()]
    while todo:
        for kid in children.get(todo.pop(), ()):
            found.add((kid, table[kid][2]))
            todo.append(kid)
    return found


def _running(procs: set[tuple[int, str]]) -> set[tuple[int, str]]:
    table = _proc_table()
    return {
        (pid, start)
        for pid, start in procs
        if pid in table and table[pid][2] == start and table[pid][1] != "Z"
    }


def _stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait until every process this
    run started (the JVM, its Python workers) has ended; kill what is left
    after a grace period."""
    from pyspark import SparkContext

    procs = _descendants()
    try:
        if spark is not None:
            spark.stop()
    finally:
        procs |= _descendants()
        gateway = SparkContext._gateway
        jvm = getattr(gateway, "proc", None)
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001 - the JVM is stopped below anyway
                pass
            SparkContext._gateway = SparkContext._jvm = None
        if jvm is not None:
            # The gateway exits when its stdin closes.
            try:
                jvm.stdin.close()
            except OSError:
                pass
            try:
                jvm.wait(timeout=30)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        deadline = time.monotonic() + 20
        left = _running(procs)
        while left and time.monotonic() < deadline:
            time.sleep(0.05)
            left = _running(left)
        for pid, _start in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        while _running(left):
            time.sleep(0.05)


def _exit_on_signal(signum, _frame) -> None:
    # SystemExit unwinds through main's ``finally``, which stops the JVM.
    sys.exit(128 + signum)


def _start_session(work: str, workload: str):
    tmp = os.path.join(work, "tmp")
    from talkinghead_datapipeline_spark.session import get_spark

    spark = get_spark(
        app_name=f"perfbench-{workload}",
        extra_conf={
            # keep every scratch file of the JVM inside the work directory
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main() -> int:
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True, choices=("mead_ref", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    args = ap.parse_args()
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, _exit_on_signal)

    if not os.path.isdir(PKG_DIR):
        print(f"perfbench: no engine package at {PKG_DIR}", file=sys.stderr)
        return 2
    units = _units()
    load_before = os.getloadavg()
    cpus = os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(HERE, "out")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    # Every temporary file of the driver, the JVM and the Python workers
    # stays inside the checkout.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the launcher JVM of spark-submit would write /tmp/hsperfdata_<user>
    launcher_opts = os.environ.get("SPARK_LAUNCHER_OPTS", "")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"{launcher_opts} -XX:-UsePerfData".strip()
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests")]
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]

    import workloads
    from layers import StatusStore, Tracer

    # bench.py reads its data directory at import time (for the anchors).
    os.environ["SPARK_GRAFT_SF_DIR"] = workloads.SF_DIR
    size = workloads.SIZES[args.workload]["tiny" if args.tiny else "full"]
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _start_session(work, args.workload)
        session_s = time.perf_counter() - t0
        run = workloads.Run(
            spark=spark,
            work=work,
            cores=int(cpus),
            seconds=args.seconds,
            trace=bool(args.trace),
            tracer=Tracer(spark),
            status=StatusStore(spark),
        )
        state = workloads.WORKLOADS[args.workload](run, args.seed, size)
        setup_s = state["setup_done"] - T_START

        from bench import _measure_anchors

        anchors = _measure_anchors(spark, 1)
        checks = state["checks"]()
        e2e = workloads.end_to_end(run, setup_s)
        layers = workloads.per_layer(run, session_s) if args.trace else {}
    finally:
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed_frac = checks["failed"] / checks["attempted"]
    correct = checks["failed"] == 0 and checks["digests_agree"]
    shown = layers if args.trace else e2e
    kind = "per_layer" if args.trace else "end_to_end"
    metrics = {n: {"value": shown[n], "unit": u} for n, u in units[kind].items()}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "size": size,
        "machine": {
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": int(cpus),
            "loadavg_before": load_before,
            "loadavg_after": os.getloadavg(),
            "anchors": anchors,
        },
        "failed_frac": {"value": failed_frac, "unit": "fraction"},
        "end_to_end": {n: {"value": e2e[n], "unit": u} for n, u in units["end_to_end"].items()},
        "per_layer": {n: {"value": layers[n], "unit": u} for n, u in units["per_layer"].items()}
        if args.trace
        else {},
        "checks": checks,
        "passes": run.passes,
    }
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, f"record-{stem}.json"), "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        with open(os.path.join(out_dir, f"spans-{stem}.json"), "w") as f:
            json.dump(run.tracer.spans, f)
    print(json.dumps(record))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": checks["attempted"],
                "failed": checks["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
