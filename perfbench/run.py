"""Benchmark entry point for gofaiss_spark.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

Run from the root of a checkout. One workload runs in one child
process (this file with ``--child``); the parent pins the environment,
brackets the child with the ``tools/ab_harness`` CPU sentinel, samples
the summed RSS of the child's process tree from /proc, and prints one
line per metric followed by the result JSON as the last stdout line.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones. ``--workload all`` runs every workload untraced and
traced and reports the tracing overhead. See perfbench/NOTES.md.
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
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEV_SEED, HELD_OUT_SEED = 1, 7919
CHILD_DEADLINE_S = 165.0
JVM_HEAP = "2g"
RESULT_TAG = "PERFBENCH_RESULT "


def _spec() -> dict:
    """BENCHMARK.json: the workloads and the (name, unit) of every metric
    the result JSON must carry."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# parent side
# ---------------------------------------------------------------------------


def _tree_rss(root_pid: int) -> dict[str, int]:
    """RSS bytes of ``root_pid`` and all its descendants, summed per
    command name (statm: no page-table walk, so sampling does not stall
    the processes it measures)."""
    parent: dict[int, int] = {}
    comm: dict[int, str] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            head, rest = stat.rsplit(")", 1)
            parent[int(name)] = int(rest.split()[1])
            comm[int(name)] = head.split("(", 1)[1]
        except (OSError, IndexError, ValueError):
            continue
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        for c in children.get(frontier.pop(), []):
            if c not in tree:
                tree.add(c)
                frontier.append(c)
    page = os.sysconf("SC_PAGE_SIZE")
    out: dict[str, int] = {}
    for pid in tree:
        key = comm.get(pid, "?")
        try:
            # a process not named after its program is a JVM thread
            # between vfork and exec: it shares the JVM's pages, so
            # its RSS is the JVM's once more
            if not os.path.basename(os.readlink(f"/proc/{pid}/exe")).startswith(key):
                continue
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
        out[key] = out.get(key, 0) + rss
    return out


class _RssSampler(threading.Thread):
    """Peak summed RSS of a process tree, sampled from /proc."""

    def __init__(self, pid: int, period: float = 0.2):
        super().__init__(daemon=True)
        self.pid, self.period = pid, period
        self.peak = 0
        self.peak_by_comm: dict[str, int] = {}
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            by_comm = _tree_rss(self.pid)
            total = sum(by_comm.values())
            if total > self.peak:
                self.peak, self.peak_by_comm = total, by_comm
            self._stop_evt.wait(self.period)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def _sentinel(full: bool) -> dict:
    """The repo's CPU sentinel: the full probe (single-thread FMA plus
    all-core GEMM) for traced runs; untraced runs take only the FMA
    leg, because the GEMM leg costs several seconds per call."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import ab_harness

    if full:
        return ab_harness.probe()
    return {"fma1_sec": round(ab_harness._fma(), 4)}


def _child_env(work: str) -> dict:
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(_nproc()),
        # session.py defaults to 16g, more than a small box has
        "SPARK_GRAFT_DRIVER_MEM": JVM_HEAP,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark"),
        "TMPDIR": tmp,
        "SPARK_SUBMIT_OPTS": " ".join(p for p in (
            env.get("SPARK_SUBMIT_OPTS"), f"-Djava.io.tmpdir={tmp}",
            "-XX:-UsePerfData") if p),
    })
    return env


def _stop_group(pgid: int) -> None:
    """Terminate what is left of the child's process group and wait
    until it is gone."""
    for sig, wait in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        t_end = time.monotonic() + wait
        while time.monotonic() < t_end:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def run_one(workload: str, seed: int, seconds: int, trace: bool) -> dict | None:
    """Run one workload in a child process → its result dict, or None
    when the child crashed, hung or printed no result."""
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    before = _sentinel(trace)
    argv = [sys.executable, os.path.abspath(__file__), "--child",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(int(trace)),
            "--work", work]
    t_spawn = time.monotonic()
    child = subprocess.Popen(argv, env=_child_env(work), cwd=ROOT,
                             stdout=subprocess.PIPE, text=True,
                             start_new_session=True)
    sampler = _RssSampler(child.pid)
    sampler.start()
    timer = threading.Timer(CHILD_DEADLINE_S, _stop_group, (child.pid,))
    timer.start()
    result = None
    try:
        for line in child.stdout:
            if line.startswith(RESULT_TAG):
                result = json.loads(line[len(RESULT_TAG):])
            else:
                sys.stderr.write(line)
        child.wait()
    finally:
        timer.cancel()
        sampler.stop()
        _stop_group(child.pid)
        shutil.rmtree(work, ignore_errors=True)
    if child.returncode != 0 or result is None or result["first_op_t"] is None:
        print(f"perfbench: {workload} child exited {child.returncode} "
              f"without a result", file=sys.stderr)
        return None
    after = _sentinel(trace)
    result["e2e"]["setup_s"] = {
        "value": result.pop("first_op_t") - t_spawn, "samples": 1}
    result["e2e"]["peak_rss_mb"] = {"value": sampler.peak / 2 ** 20,
                                    "samples": 1}
    result["per_layer"]["host.sentinel_fma_s"] = 0.5 * (
        before["fma1_sec"] + after["fma1_sec"])
    if trace:
        result["per_layer"]["host.sentinel_gemm_s"] = 0.5 * (
            before["gemm32_sec"] + after["gemm32_sec"])
    result["detail"]["sentinel"] = {"before": before, "after": after}
    result["detail"]["peak_rss_mb_by_command"] = {
        k: round(v / 2 ** 20, 1) for k, v in sampler.peak_by_comm.items()}
    return result


def _metric_block(result: dict, trace: bool, spec: dict) -> dict:
    src = result["per_layer"] if trace else {
        k: v["value"] for k, v in result["e2e"].items()}
    # a layer the run never reached (a failed op) reads 0
    return {m["name"]: {"value": src.get(m["name"], 0.0), "unit": m["unit"]}
            for m in spec["per_layer" if trace else "end_to_end"]}


def report(workload: str, result: dict, trace: bool, spec: dict) -> dict:
    """Print one line per metric; return the result JSON object."""
    metrics = _metric_block(result, trace, spec)
    failed = result["failed"]
    for name, m in metrics.items():
        extra = ""
        if not trace:
            e = result["e2e"][name]
            extra = f"  samples={e['samples']}  failed={failed}"
            if e.get("note"):
                extra += f"  ({e['note']})"
        print(f"{workload:6s} {name:26s} {m['value']:.6g} {m['unit']}{extra}")
    print(f"{workload:6s} attempted={result['attempted']} failed={failed} "
          f"error_rate={failed / max(1, result['attempted']):.4g} "
          f"correct={result['correct']}")
    print("detail " + json.dumps({"workload": workload, "trace": trace,
                                  **result["detail"]}, sort_keys=True))
    return {"correct": result["correct"], "attempted": result["attempted"],
            "failed": failed, "metrics": metrics}


def run_all(seed: int, seconds: int, spec: dict) -> int:
    """Every workload untraced then traced; prints the tracing overhead
    (traced minus untraced end-to-end value) per workload."""
    summary = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in (x["name"] for x in spec["workloads"]):
        runs = {}
        for trace in (False, True):
            res = run_one(w, seed, seconds, trace)
            if res is None:
                return 1
            out = report(w, res, trace, spec)
            runs[trace] = res
            summary["correct"] &= out["correct"]
            summary["attempted"] += out["attempted"]
            summary["failed"] += out["failed"]
            for name, m in out["metrics"].items():
                summary["metrics"][f"{w}.{name}"] = m
        for m in spec["end_to_end"]:
            plain = runs[False]["e2e"][m["name"]]["value"]
            traced = runs[True]["e2e"][m["name"]]["value"]
            print(f"{w:6s} trace_overhead {m['name']:20s} "
                  f"{traced - plain:+.6g} {m['unit']} "
                  f"({(traced - plain) / plain:+.1%})")
    print(json.dumps(summary))
    return 0


# ---------------------------------------------------------------------------
# child side
# ---------------------------------------------------------------------------


def child(args) -> int:
    import importlib
    import platform

    sys.path.insert(0, ROOT)
    import common

    t_start = time.monotonic()
    mod = importlib.import_module(args.workload)
    ctx = common.Context(args.seed, args.seconds, bool(args.trace), args.work)
    from gofaiss_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}", cpus=_nproc())
    session_s = time.monotonic() - t_start
    try:
        if ctx.trace:
            ctx.counters = common.SparkCounters(spark)
            mod.install_trace(ctx.tracer)
        mod.run(ctx, spark)
    finally:
        ctx.tracer.unpatch()
    t_run_end = time.monotonic()
    import numpy
    import pandas
    import pyarrow
    import pyspark

    e2e = ctx.detail.pop("e2e")
    per_layer = {"session.start_s": session_s}
    if ctx.counters is not None:
        ctx.counters.take()
        per_layer.update(ctx.counters.totals)
        per_layer.update(ctx.tracer.counts)
        for name, t in ctx.tracer.layer_times().items():
            per_layer[f"{name}_s"] = t["total_s"]
            per_layer[f"{name}_self_s"] = t["self_s"]
            per_layer[f"{name}_calls"] = t["calls"]
        ctx.detail["layers"] = {k: v for k, v in per_layer.items()}
        ctx.detail["spark_by_op"] = ctx.spark_by_op
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(
                out, f"spans-{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump(ctx.tracer.spans, f)
    ops = {k: {"attempted": o.attempted, "failed": o.failed,
               "median_s": (statistics.median(o.latencies)
                            if o.latencies else None)}
           for k, o in ctx.ops.items()}
    attempted = sum(o.attempted for o in ctx.ops.values())
    failed = sum(o.failed for o in ctx.ops.values())
    checks_ok = all(c["failed"] == 0 for c in ctx.checks.values())
    ctx.detail.update({
        "ops": ops, "checks": ctx.checks, "errors": ctx.errors[:20],
        "env": {"nproc": _nproc(), "os_cpu_count": os.cpu_count(),
                "python": platform.python_version(),
                "pyspark": pyspark.__version__, "numpy": numpy.__version__,
                "pandas": pandas.__version__, "pyarrow": pyarrow.__version__,
                "seed": args.seed, "seconds": args.seconds}})
    result = {"first_op_t": ctx.first_op_t, "e2e": e2e,
              "per_layer": per_layer, "attempted": attempted,
              "failed": failed, "correct": failed == 0 and checks_ok,
              "detail": ctx.detail}
    spark.stop()
    ctx.detail["phase_s"] = {"setup": ctx.first_op_t - t_start,
                             "run_and_checks": t_run_end - ctx.first_op_t,
                             "stop": time.monotonic() - t_run_end}
    print(RESULT_TAG + json.dumps(result, default=float), flush=True)
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    help="a workload named in BENCHMARK.json, or all")
    ap.add_argument("--seed", type=int, default=DEV_SEED)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--work", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "gofaiss_spark", "__init__.py")):
        print(f"perfbench: no gofaiss_spark package under {ROOT}; run from "
              f"the root of a checkout", file=sys.stderr)
        return 2
    spec = _spec()
    if args.workload != "all" and args.workload not in {
            w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    if args.child:
        return child(args)
    # a terminated parent still stops the child's process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.workload == "all":
        return run_all(args.seed, args.seconds, spec)
    res = run_one(args.workload, args.seed, args.seconds, bool(args.trace))
    if res is None:
        return 1
    print(json.dumps(report(args.workload, res, bool(args.trace), spec)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
