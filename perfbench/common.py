"""Shared pieces of the workloads: the run context, the tracer, the
Spark status-store readers and the summary statistics.

Everything here runs in the workload child process (see run.py).
"""

from __future__ import annotations

import contextlib
import functools
import time

import numpy as np

K = 10  # top-k of every vector read


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def tail(values) -> tuple[float, float]:
    """(percentile, value): the highest percentile that still has at
    least ten samples beyond it. Below 100 samples that percentile is
    under p90 and says nothing about the tail, so the maximum is
    reported instead, as p100."""
    v = sorted(values)
    n = len(v)
    if n < 100:
        return 100.0, v[-1]
    return 100.0 * (n - 10) / n, v[n - 11]


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans ``{name, start, end, parent, request_id}`` and
    counters. Disabled, ``span`` is a bare context manager and nothing
    is recorded; ``patch`` is only called when tracing is on."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []
        self.request_id = None
        self._patched: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "start": time.monotonic(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "request_id": self.request_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0) + n

    def patch(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` (a module global or a class method)
        with a wrapper that records a span around every call. Patch the
        name the caller looks up: ``api`` binds ``build_ivf`` and
        friends with ``from ... import``, so those are patched on
        ``api``, not on their home module."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with self.span(name):
                out = orig(*a, **kw)
            if on_result is not None:
                on_result(out)
            return out

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def layer_times(self) -> dict[str, dict]:
        """Per span name: calls, total seconds and self seconds (the
        span minus the part of it that its child spans cover)."""
        children: dict[int, list[tuple[float, float]]] = {}
        for rec in self.spans:
            if rec["parent"] is not None and rec["end"] is not None:
                children.setdefault(rec["parent"], []).append(
                    (rec["start"], rec["end"]))
        out: dict[str, dict] = {}
        for i, rec in enumerate(self.spans):
            if rec["end"] is None:
                continue
            dur = rec["end"] - rec["start"]
            covered, last = 0.0, rec["start"]
            for s, e in sorted(children.get(i, [])):
                s = max(s, last)
                if e > s:
                    covered += e - s
                    last = e
            agg = out.setdefault(rec["name"],
                                 {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            agg["calls"] += 1
            agg["total_s"] += dur
            agg["self_s"] += dur - covered
        return out


# ---------------------------------------------------------------------------
# Spark status stores (both readable with spark.ui.enabled=false)
# ---------------------------------------------------------------------------

_STAGE_FIELDS = ("stages", "tasks", "executor_run_s", "executor_cpu_s",
                 "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
                 "spill_bytes")
_PY_METRICS = {
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}
_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
          "TiB": 2.0 ** 40}


def _parse_sql_metric(text: str) -> float:
    """'total (min, med, max ...)\\n3.0 s (...)' or '704.4 KiB' → a
    number in seconds or bytes (Spark formats these for display; one
    decimal is all the store keeps)."""
    line = text.strip().splitlines()[-1].strip()
    num, unit = line.split(" (")[0].split()[:2]
    return float(num.replace(",", "")) * _UNITS[unit]


class SparkCounters:
    """Per-op deltas of the JVM-side counters: stage metrics from the
    core status store, Python-boundary SQL metrics from the SQL status
    store. Each stage and execution is counted once, when first seen
    finished."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._sc = sc
        self._seen_stages: set = set()
        self._seen_execs: set = set()
        self.totals = {f"spark.{k}": 0.0 for k in _STAGE_FIELDS}
        self.totals.update({f"arrow.{v}": 0.0 for v in _PY_METRICS.values()})

    def _as_java(self, seq):
        return self._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)

    def take(self) -> dict:
        """Counters of stages and SQL executions finished since the
        last call."""
        jvm = self._jvm
        delta = dict.fromkeys(self.totals, 0.0)
        stages = self._sc._jsc.sc().statusStore().stageList(
            jvm.java.util.ArrayList(), False, False,
            self._sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList())
        for s in self._as_java(stages):
            key = (s.stageId(), s.attemptId())
            if key in self._seen_stages or str(s.status()) not in (
                    "COMPLETE", "FAILED"):
                continue
            self._seen_stages.add(key)
            delta["spark.stages"] += 1
            delta["spark.tasks"] += s.numCompleteTasks()
            delta["spark.executor_run_s"] += s.executorRunTime() / 1e3
            delta["spark.executor_cpu_s"] += s.executorCpuTime() / 1e9
            delta["spark.gc_s"] += s.jvmGcTime() / 1e3
            delta["spark.shuffle_read_bytes"] += s.shuffleReadBytes()
            delta["spark.shuffle_write_bytes"] += s.shuffleWriteBytes()
            delta["spark.spill_bytes"] += (s.memoryBytesSpilled()
                                           + s.diskBytesSpilled())
        sql = self.spark._jsparkSession.sharedState().statusStore()
        for e in self._as_java(sql.executionsList()):
            eid = e.executionId()
            if eid in self._seen_execs or e.completionTime().isEmpty():
                continue
            self._seen_execs.add(eid)
            names = {m.accumulatorId(): _PY_METRICS.get(m.name())
                     for m in self._as_java(e.metrics())}
            values = self._as_java(sql.executionMetrics(eid))
            for acc in values.keySet():
                name = names.get(acc)
                if name:
                    delta[f"arrow.{name}"] += _parse_sql_metric(values.get(acc))
        for k, v in delta.items():
            self.totals[k] += v
        return delta


# ---------------------------------------------------------------------------
# run context
# ---------------------------------------------------------------------------


class Op:
    """Book-keeping of one kind of timed operation."""

    def __init__(self):
        self.latencies: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.items = 0


class Context:
    """What a workload gets: its seed, run length, work directory,
    the tracer, and the ledger of timed ops and output checks."""

    def __init__(self, seed: int, seconds: int, trace: bool, work: str):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.tracer = Tracer(trace)
        self.counters: SparkCounters | None = None
        self.ops: dict[str, Op] = {}
        self.checks: dict[str, dict] = {}
        self.first_op_t: float | None = None
        self._op_seq = 0
        self.spark_by_op: dict[str, dict] = {}
        self.detail: dict = {}
        self.errors: list[str] = []

    def op(self, kind: str) -> Op:
        return self.ops.setdefault(kind, Op())

    @contextlib.contextmanager
    def timed(self, kind: str, items: int = 0, spark: bool = True,
              sample: bool = True):
        """Time one op of ``kind``. An exception marks it failed and is
        swallowed, so the other ops of the run still report. With
        tracing on, ``spark`` ops also take the Spark counter delta.
        ``sample=False`` counts the op and its failures but keeps its
        time out of the latency samples: an op run only so that its
        output can be checked."""
        if sample and self.first_op_t is None:
            self.first_op_t = time.monotonic()
        rec = self.op(kind)
        rec.attempted += 1
        self.tracer.request_id = self._op_seq  # shared by the op's spans
        self._op_seq += 1
        t0 = time.monotonic()
        try:
            with self.tracer.span(kind):
                yield
        except Exception as exc:  # one failed op must not end the run
            rec.failed += 1
            self.errors.append(f"{kind}: {type(exc).__name__}: {exc}"[:500])
        else:
            if sample:
                rec.latencies.append(time.monotonic() - t0)
                rec.items += items
        finally:
            self.tracer.request_id = None
            if spark and self.counters is not None:
                d = self.counters.take()
                acc = self.spark_by_op.setdefault(kind, dict.fromkeys(d, 0.0))
                for k, v in d.items():
                    acc[k] += v

    def check(self, name: str, ok: bool, **info) -> bool:
        """Record one output check; the caller fails the op it checks."""
        c = self.checks.setdefault(name, {"attempted": 0, "failed": 0})
        c["attempted"] += 1
        if not ok:
            c["failed"] += 1
            if info:
                c.setdefault("first_failure", info)
        return ok


def recall_at_k(found, truth) -> float:
    """|found ∩ truth| / |truth| over the rows of two (q, k) id
    matrices; ids are unique within a row and padding ids (< 0) never
    match."""
    found = np.asarray(found)
    truth = np.asarray(truth)
    hits = ((found[:, :, None] == truth[:, None, :])
            & (truth[:, None, :] >= 0)).any(axis=2).sum()
    total = (truth >= 0).sum()
    return float(hits / total) if total else float("nan")


def exact_topk(base, ids, queries, k: int = K):
    """Exact L2 top-k ids by numpy (f64), ties broken by id — the
    ground truth of every vector read."""
    b = np.asarray(base, dtype=np.float64)
    bn = (b * b).sum(1)
    out = np.empty((len(queries), k), dtype=np.int64)
    for s in range(0, len(queries), 512):
        q = np.asarray(queries[s:s + 512], dtype=np.float64)
        d = q @ b.T
        d *= -2.0
        d += bn[None, :]
        d += (q * q).sum(1)[:, None]
        cand = np.argpartition(d, k - 1, axis=1)[:, :k]
        dc = np.take_along_axis(d, cand, axis=1)
        order = np.lexsort((ids[cand], dc), axis=1)
        out[s:s + len(q)] = np.take_along_axis(ids[cand], order, axis=1)
    return out


def clustered(rng, n: int, dim: int, n_clusters: int, sigma: float = 0.05,
              zipf: float | None = None):
    """A seeded mixture of Gaussians around uniform centres; with
    ``zipf`` the cluster sizes follow a Zipf law of that exponent, so
    the inverted lists come out skewed."""
    centers = rng.random((n_clusters, dim), dtype=np.float32)
    if zipf is None:
        cl = rng.integers(0, n_clusters, size=n)
    else:
        w = 1.0 / np.arange(1, n_clusters + 1) ** zipf
        cl = rng.choice(n_clusters, size=n, p=w / w.sum())
    data = centers[cl] + rng.normal(0, sigma, (n, dim)).astype(np.float32)
    return data, centers


def near(rng, rows, sigma: float = 0.01):
    """Queries: stored rows plus small noise."""
    return (rows + rng.normal(0, sigma, rows.shape)).astype(np.float32)
