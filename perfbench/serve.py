"""``serve``: one closed-loop client on the local serving tier.

Set-up builds IVF-Flat on a seeded mixture of Gaussians and binds it
with ``api.serve(idx, tier="auto")``, which resolves to ``local``. The
client then sends a seeded stream of ``TierServer.search_np`` requests
(k=10, fixed nprobe). Every tenth request holds ``BIG_BATCH``
queries, at or above ``api.POOL_MIN_BATCH``, and runs on the
``LocalServerPool``; the rest hold 1-16 queries and run in-process on
``LocalIvfIndex``. Spark only works during set-up.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from common import K, clustered, exact_topk, near, recall_at_k, tail

# many more clusters than lists, so every seed gives lists of like sizes
N, DIM, CLUSTERS = 20_000, 64, 1000
NLIST = 64
NPROBE = 10
BIG_BATCH = 1024
BIG_EVERY = 10
QUERY_POOL = 2048
RECALL_FLOOR = 0.9
WARM_REQUESTS = 200


def install_trace(tracer) -> None:
    from gofaiss_spark import api
    from gofaiss_spark.operators import ivf, local_serve

    tracer.patch(api, "resolve_tier", "api.resolve_tier",
                 on_result=lambda t: tracer.count(f"api.tier.{t}"))
    tracer.patch(api, "build_ivf", "ivf.build")
    tracer.patch(ivf, "train_kmeans_centroids", "ivf.train")
    tracer.patch(local_serve, "to_local_ivf", "local_serve.localize")
    tracer.patch(local_serve.LocalIvfIndex, "search", "local_serve.ivf_search")
    tracer.patch(local_serve.LocalServerPool, "__init__", "pool.spawn")
    tracer.patch(local_serve.LocalServerPool, "search", "pool.search")


def _valid(ids: np.ndarray, dists: np.ndarray, nq: int) -> bool:
    """k ids per query, in range, no repeats, ascending distance."""
    if ids.shape != (nq, K) or dists.shape != (nq, K):
        return False
    if ids.min() < 0 or ids.max() >= N:
        return False
    srt = np.sort(ids, axis=1)
    return bool((srt[:, 1:] != srt[:, :-1]).all()
                and (np.diff(dists, axis=1) >= 0).all())


def run(ctx, spark) -> None:
    import pandas as pd

    from gofaiss_spark import api
    from gofaiss_spark.operators import local_serve

    rng = np.random.default_rng(ctx.seed)
    data, _ = clustered(rng, N, DIM, CLUSTERS)
    ids = np.arange(N, dtype=np.int64)
    queries = near(rng, data[rng.integers(0, N, QUERY_POOL)])
    vec = spark.createDataFrame(pd.DataFrame({"id": ids, "vec": list(data)}),
                                schema="id long, vec array<float>").cache()
    vec.count()
    idx = api.build_index(vec, "ivf", params={"nlist": NLIST})
    srv = api.serve(idx, tier="auto")
    ctx.check("tier_is_local", srv.tier == "local", tier=srv.tier)
    params = {"nprobe": NPROBE}
    # pool spawn happens on the first big request: part of set-up
    srv.search_np(queries[:BIG_BATCH], k=K, params=params)
    for i in range(WARM_REQUESTS):
        srv.search_np(queries[i:i + 1 + i % 16], k=K, params=params)
    ctx.check("pool_spawned", "_tier_pool" in idx.__dict__)
    guard0 = local_serve.GUARD_FALLBACKS

    log = []
    t_end = time.monotonic() + ctx.seconds
    while time.monotonic() < t_end:
        # every BIG_EVERY-th request is big: a fixed share, so the mix of
        # pooled and in-process work is the same in every run
        big = len(log) % BIG_EVERY == BIG_EVERY - 1
        size = BIG_BATCH if big else int(rng.integers(1, 17))
        off = int(rng.integers(0, QUERY_POOL - size + 1))
        kind = "request.pool" if size >= api.POOL_MIN_BATCH else "request.local"
        out = None
        with ctx.timed(kind, items=size, spark=False):
            out = srv.search_np(queries[off:off + size], k=K, params=params)
        log.append((kind, off, size, out))
    ctx.detail["guard_fallbacks_delta"] = local_serve.GUARD_FALLBACKS - guard0

    # ---- output checks, outside the timed region ----
    truth = exact_topk(data, ids, queries)
    found, want = [], []
    for kind, off, size, out in log:
        if out is None:
            continue
        ok = _valid(out[0], out[1], size)
        if not ctx.check("result_valid", ok, kind=kind, off=off, size=size):
            ctx.op(kind).failed += 1
        found.append(out[0])
        want.append(truth[off:off + size])
    recall = recall_at_k(np.concatenate(found), np.concatenate(want))
    ctx.check("recall_floor", recall >= RECALL_FLOOR, recall=recall)
    # the LocalServerPool contract: pool and in-process ids identical
    pooled = [r for r in log if r[0] == "request.pool" and r[3] is not None][:2]
    saved = api.POOL_MIN_BATCH
    try:
        api.POOL_MIN_BATCH = 1 << 30
        for _, off, size, out in pooled:
            ref = srv.search_np(queries[off:off + size], k=K, params=params)
            ctx.check("pool_bit_identical",
                      np.array_equal(ref[0], out[0])
                      and np.array_equal(ref[1], out[1]), off=off)
    finally:
        api.POOL_MIN_BATCH = saved
    srv.close()
    vec.unpersist()

    lat = [x for o in ctx.ops.values() for x in o.latencies]
    items = sum(o.items for o in ctx.ops.values())
    # the tail of the in-process requests: the pooled ones would fill
    # it, and they already make heavy_op_s
    small = ctx.op("request.local").latencies
    pct, tail_s = tail(small)
    big = ctx.op("request.pool").latencies
    ctx.detail["e2e"] = {
        "throughput": {"value": items / sum(lat), "samples": len(lat),
                       "note": "queries/s over request wall time"},
        "latency_p50_ms": {"value": 1e3 * statistics.median(lat),
                           "samples": len(lat)},
        "latency_tail_ms": {"value": 1e3 * tail_s, "samples": len(small),
                            "note": f"p{pct:.2f} of in-process requests"},
        "heavy_op_s": {"value": statistics.median(big), "samples": len(big),
                       "note": f"median {BIG_BATCH}-query pooled request"},
        "recall": {"value": recall, "samples": len(found),
                   "note": "recall@10 vs numpy exact"},
    }
