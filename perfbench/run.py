"""Benchmark runner: one workload, one seed, one measured run.

    python3 perfbench/run.py --workload cdw_ingest --seed 1 --seconds 14 --trace 0

Run from the repository root. Builds the workload's inputs from the
seed, pins Spark to ``local[<nproc>]``, discards warm-up operations,
measures closed-loop operations for ``--seconds``, checks the outputs
against the planted ground truth and prints, as the last stdout line,
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). See perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("cdw_ingest", "corpus_curation", "search_serving")

#: (name, unit) of every end-to-end metric, printed on untraced runs
END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "aux_op_p50_ms": "ms",
    "items_per_s": "1/s",
}


@dataclass
class Context:
    spark: object
    tracer: object
    seed: int
    seconds: float
    trace: bool
    work: Path
    session_s: float  # Spark session start, the first part of setup_s


@dataclass
class Result:
    """What a workload hands back. ``op_ms`` / ``aux_ms`` are the
    measured latencies of the workload's main and auxiliary operation;
    ``untraced_op_ms`` the main-op latencies of a traced run's untraced
    half; ``layers`` per-layer values; ``finish`` computes the
    event-log metrics once the SparkContext has stopped."""

    setup_s: float
    op_ms: list[float]
    aux_ms: list[float]
    items_per_s: float
    attempted: int
    failed: int
    correct: bool
    untraced_op_ms: list[float] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    finish: object = None


def per_layer_names() -> dict[str, str]:
    from perfbench import cdw, curation, serving

    names = {"trace.overhead_pct": "%", "trace.traced_op_p50_ms": "ms",
             "trace.untraced_op_p50_ms": "ms"}
    for mod in (cdw, curation, serving):
        names.update(mod.PER_LAYER)
    return names


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def start_session(work: Path, trace: bool):
    from data_engineer_challenge_spark.session import get_spark

    ncpu = len(os.sched_getaffinity(0))
    conf = {
        "spark.driver.memory": "3g",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -Dderby.system.home={work / 'tmp'}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(work / "eventlog")
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = f"file://{work / 'eventlog'}"
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    spark = get_spark(app_name="perfbench", master=f"local[{ncpu}]",
                      shuffle_partitions=ncpu, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _proc_table() -> dict[int, tuple[int, str, str]]:
    """pid -> (parent pid, start time, state) of every process in /proc."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        table[int(d)] = (int(fields[1]), fields[19], fields[0])
    return table


def _descendants() -> dict[int, str]:
    """pid -> start time of every process below this one."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    found, todo = {}, [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), ()):
            if c not in found:
                found[c] = table[c][1]
                todo.append(c)
    return found


def _alive(procs: dict[int, str]) -> dict[int, str]:
    """The processes of ``procs`` still running (same pid, same start
    time, not a zombie); reaps those that are this process's children."""
    for pid in procs:
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
    table = _proc_table()
    return {pid: st for pid, st in procs.items()
            if pid in table and table[pid][1] == st and table[pid][2] != "Z"}


def stop_processes(timeout: float = 30.0) -> None:
    """Stop the Spark JVM and every process started under this one
    (Python workers included), and wait until each has ended.

    The JVM exits by itself once its stdin closes, but only some time
    after the Python side has gone; so it is asked to exit here and
    waited for, then anything still running is terminated, then
    killed."""
    procs = _descendants()
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        SparkContext._gateway = SparkContext._jvm = None
        try:
            gateway.close()
        except Exception:
            pass
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            try:
                proc.stdin.close()
            except Exception:
                pass
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        left = _alive(procs)
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait_s
        while left and time.monotonic() < deadline:
            time.sleep(0.05)
            left = _alive(left)
        if not left:
            return
    print(f"perfbench: processes still running: {sorted(left)}", file=sys.stderr)


def _exit_on_sigterm(signum, frame):
    # run the cleanup in the finally blocks instead of dying at once
    sys.exit(128 + signum)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "data_engineer_challenge_spark").is_dir() or not (ROOT / "tests" / "fixtures.py").is_file():
        print(f"perfbench: no program to measure under {ROOT} "
              "(run from a checkout of the repository)", file=sys.stderr)
        return 2

    # Spark's Python workers import the package by name: they need the
    # repository root on their path whatever the caller's cwd is
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ.pop("SPARK_GRAFT_CPUS", None)
    sys.path.insert(0, str(ROOT))

    from perfbench import cdw, curation, serving
    from perfbench.trace import Tracer, fold_event_log

    signal.signal(signal.SIGTERM, _exit_on_sigterm)

    module = {"cdw_ingest": cdw, "corpus_curation": curation, "search_serving": serving}[args.workload]
    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    try:
        (work / "tmp").mkdir(parents=True)
        os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
        os.environ["TMPDIR"] = str(work / "tmp")
        t0 = time.perf_counter()
        spark = start_session(work, bool(args.trace))
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark.sparkContext, enabled=False)
        ctx = Context(spark, tracer, args.seed, args.seconds, bool(args.trace), work, session_s)
        try:
            res: Result = module.run(ctx)
        finally:
            try:
                spark.stop()
            finally:
                stop_processes()
        if args.trace:
            traces = ROOT / ".bench_work" / "traces"
            traces.mkdir(exist_ok=True)
            tracer.dump(str(traces / f"{args.workload}-seed{args.seed}.jsonl"))
            if res.finish:
                res.layers.update(res.finish(fold_event_log(str(work / "eventlog"))))
    finally:
        # also after a failed session start, which may leave a JVM up
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        units = per_layer_names()
        traced, untraced = median(res.op_ms), median(res.untraced_op_ms)
        res.layers["trace.traced_op_p50_ms"] = traced
        res.layers["trace.untraced_op_p50_ms"] = untraced
        res.layers["trace.overhead_pct"] = 100.0 * (traced / untraced - 1.0) if untraced else 0.0
        metrics = {k: {"value": float(res.layers.get(k, 0.0)), "unit": u} for k, u in units.items()}
    else:
        values = {
            "setup_s": res.setup_s,
            "op_p50_ms": median(res.op_ms),
            "aux_op_p50_ms": median(res.aux_ms),
            "items_per_s": res.items_per_s,
        }
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in END_TO_END.items()}
    for k, m in metrics.items():
        print(f"{args.workload} {k} = {m['value']:.6g} {m['unit']}")
    for label, xs in (("op", res.op_ms), ("aux_op", res.aux_ms)):
        # the highest percentile with at least ten samples beyond it
        pct = max((p for p in (50, 90, 99) if len(xs) * (100 - p) / 100 >= 10), default=None)
        tail = f" p{pct}={statistics.quantiles(xs, n=100)[pct - 1]:.4g}" if pct and pct > 50 else ""
        print(f"{args.workload} {label}: n={len(xs)} p50={median(xs):.4g}{tail} ms "
              f"all={[round(x, 1) for x in xs] if len(xs) <= 12 else '...'}")
    print(f"{args.workload} attempted={res.attempted} failed={res.failed} correct={res.correct}")
    print(json.dumps({"correct": res.correct, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
