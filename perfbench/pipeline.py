"""``pipeline``: writes beside reads on saved artifacts, plus the dedup
chain, with Spark doing nearly all the work.

Set-up builds IVF-Flat on a seeded mixture with Zipf-weighted cluster
sizes (skewed inverted lists), saves it as a plain artifact, publishes
a sharded root from it (``refresh_sharded``), reads both roots once
(so the plain root's cached local replica exists, as it would for a
client already serving) and caches the dedup corpus (``corpus.py``).
Each cycle then runs:

- churn: ``WRITE_ROUNDS`` times, append a micro-batch
  (``stream_add_to_ivf``, availableNow) and remove a batch of live ids
  (``remove_from_index``); then publish a new sharded generation;
  after each write, ``READS_PER_WRITE``
  ``CHURN_Q``-query ``api.search`` reads of each root: the plain root
  on the local tier (its cached replica), the sharded root on
  ``ShardedSearcher``. Then
  untimed self-queries of appended and of removed rows on both roots;
- batch: ``api.load`` of the plain root and a ``BATCH_Q``-query
  ``api.search(..., tier="distributed")`` of the loaded index;
- dedup: ``exact_dedup`` → ``minhash_near_dup_pairs`` →
  ``near_dup_clusters`` → ``embedding_near_dup_pairs`` (default LSH
  mode, run last: its known defects may fail it without losing the
  other steps' numbers).

After each write to the plain root, one untimed self-query goes
through the replica ``api.search(path)`` cached before the write and
counts whether it is stale (known defect (c) in NOTES.md); then
``api.invalidate_cached`` drops that replica, so the timed reads after
the write re-load and re-localize the root, as a cache that followed
its writes would.
One cycle takes longer than a short run, so a run makes at least one.
The run ends with one ``compact_index``, one ``load_index`` and a
batch read of the compacted root. Every output is checked after the
timed part.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

import corpus
from common import K, clustered, exact_topk, near, recall_at_k

N0, DIM, CLUSTERS, ZIPF = 10_000, 64, 50, 1.1
NLIST = 32  # ~300 rows a list: few enough files that a write cycle stays short
APPEND, REMOVE = 250, 250  # per write round
WRITE_ROUNDS = 3  # append, then remove, this many times a cycle
CHURN_Q = 256   # a churn read: the 256-query root search of the plan
BATCH_Q = 1000  # a batch read: the 1000-query distributed search of the plan
PROBE_Q = 32    # untimed self-queries: appended rows, then removed rows
NUM_SHARDS = 2
CHURN_READS = ("plain", "sharded")
READS_PER_WRITE = 2  # reads of each root after each write
RECALL_FLOOR = 0.9
DEDUP_STEPS = ("dedup.exact", "dedup.minhash", "dedup.clusters",
               "dedup.embedding")


def install_trace(tracer) -> None:
    from gofaiss_spark import api
    from gofaiss_spark.operators import ivf, local_serve, shard_serve
    from gofaiss_spark.plans import artifacts

    tracer.patch(api, "search", "api.search")
    tracer.patch(api, "resolve_tier", "api.resolve_tier",
                 on_result=lambda t: tracer.count(f"api.tier.{t}"))
    tracer.patch(api, "build_ivf", "ivf.build")
    tracer.patch(ivf, "train_kmeans_centroids", "ivf.train")
    tracer.patch(artifacts, "save_index", "artifacts.save")
    tracer.patch(artifacts, "load_index", "artifacts.load")
    tracer.patch(local_serve, "to_local_ivf", "local_serve.localize")
    tracer.patch(local_serve.LocalIvfIndex, "search", "local_serve.ivf_search")
    tracer.patch(shard_serve.ShardedSearcher, "search", "shard_serve.search",
                 on_result=lambda _: tracer.count("api.tier.sharded"))


def _files(roots) -> dict:
    """(path, inode, mtime) → size of every file under ``roots``."""
    out = {}
    for r in roots:
        for d, _dirs, names in os.walk(r):
            for f in names:
                p = os.path.join(d, f)
                try:
                    st = os.stat(p)
                except OSError:
                    continue
                out[(p, st.st_ino, st.st_mtime_ns)] = st.st_size
    return out


def run(ctx, spark) -> None:
    import pandas as pd

    from gofaiss_spark import api
    from gofaiss_spark.operators import dedup
    from gofaiss_spark.operators.shard_serve import refresh_sharded
    from gofaiss_spark.plans import artifacts
    from gofaiss_spark.streaming.ops import stream_add_to_ivf

    rng = np.random.default_rng(ctx.seed)
    data, centers = clustered(rng, N0, DIM, CLUSTERS, zipf=ZIPF)
    n_docs = corpus.DOCS_PER_SECOND * ctx.seconds
    texts, doc_vecs, text_pairs, emb_pairs = corpus.corpus(rng, n_docs)
    schema = "id long, vec array<float>"
    plain = os.path.join(ctx.work, "ivf")
    sharded = os.path.join(ctx.work, "sharded")
    roots = {"plain": plain, "sharded": sharded}

    def qdf(mat):
        return spark.createDataFrame(
            pd.DataFrame({"query_id": np.arange(len(mat), dtype=np.int64),
                          "qvec": list(mat)}),
            schema="query_id long, qvec array<float>")

    vec = spark.createDataFrame(
        pd.DataFrame({"id": np.arange(N0, dtype=np.int64), "vec": list(data)}),
        schema=schema).cache()
    vec.count()
    api.save(api.build_index(vec, "ivf", params={"nlist": NLIST}), plain)
    vec.unpersist()
    refresh_sharded(api.load(spark, plain), sharded, NUM_SHARDS, drop_old=True)
    queries = near(rng, data[rng.integers(0, N0, 2048)])
    for root in roots.values():
        api.search(root, qdf(queries[:CHURN_Q]), k=K).toPandas()
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64),
                      "text": texts}),
        schema="doc_id long, text string").cache()
    emb = spark.createDataFrame(
        pd.DataFrame({"id": np.arange(n_docs, dtype=np.int64),
                      "vec": list(doc_vecs)}), schema=schema).cache()
    docs.count()
    emb.count()
    dedup_steps = {
        "dedup.exact": lambda: dedup.exact_dedup(docs),
        "dedup.minhash": lambda: dedup.minhash_near_dup_pairs(docs),
        "dedup.clusters": lambda: dedup.near_dup_clusters(docs),
        "dedup.embedding": lambda: dedup.embedding_near_dup_pairs(emb),
    }

    # the live rows by id, a snapshot of them after every write, and
    # the snapshot each root should serve: the plain root every write,
    # the sharded root the rows of its last published generation
    live = {i: v for i, v in enumerate(data)}
    snapshots = []

    def snapshot() -> int:
        ids = np.fromiter(live.keys(), dtype=np.int64, count=len(live))
        snapshots.append((ids, np.stack([live[int(i)] for i in ids])))
        return len(snapshots) - 1

    serves = dict.fromkeys(roots, snapshot())
    reads: list = []

    def read(kind, target, mat, own=None):
        """One ``api.search`` call, fully materialized. With ``own``
        (the ids the leading rows must find at rank 1) it is a
        self-query probe: counted and checked, but not timed."""
        gen = serves["plain" if kind.startswith("batch") else kind]
        params = {"tier": "distributed"} if kind.startswith("batch") else None
        q = qdf(mat)
        out = None
        opk = f"{'probe' if own is not None else 'read'}.{kind}"
        with ctx.timed(opk, items=len(mat), sample=own is None):
            out = api.search(target, q, k=K, params=params).toPandas()
        if out is not None:
            reads.append((opk, mat, gen, out, own))

    stale_cache = {"probes": 0, "stale": 0}

    def follow_write(mat, want_rank1=None, removed=None):
        """Probe the plain root's pre-write replica with ``mat``, count
        it stale when it misses ``want_rank1`` at rank 1 or returns a
        ``removed`` id, then drop the replica."""
        out = None
        with ctx.timed("stale_probe.plain", sample=False):
            out = api.search(plain, qdf(mat), k=K).toPandas()
        if out is not None:
            got = np.full((len(mat), K), -1, dtype=np.int64)
            got[out["query_id"].to_numpy(), out["rank"].to_numpy() - 1] = \
                out["id"].to_numpy()
            seen_stale = (want_rank1 is not None
                          and not (got[:, 0] == want_rank1).all()) or (
                removed is not None and np.isin(got, removed).any())
            stale_cache["probes"] += 1
            stale_cache["stale"] += int(seen_stale)
        api.invalidate_cached(plain)

    follow = []  # index in read.plain of the first read after each write

    def churn_reads(after_write: bool = False):
        plain_lat = ctx.op("read.plain").latencies
        for kind in CHURN_READS * READS_PER_WRITE:
            off = int(rng.integers(0, len(queries) - CHURN_Q + 1))
            n = len(plain_lat)
            read(kind, roots[kind], queries[off:off + CHURN_Q])
            if after_write and len(plain_lat) > n:
                follow.append(n)
                after_write = False

    seen = _files(roots.values())
    written = appended_bytes = rows_written = 0
    write_s, bulk_s = [], []
    dedup_out = {}
    next_id = N0
    cycle = 0
    t_end = time.monotonic() + ctx.seconds
    while cycle == 0 or time.monotonic() < t_end:
        w = 0.0
        for rnd in range(WRITE_ROUNDS):
            # the client stages its micro-batch; not a timed op
            new = near(rng, centers[rng.integers(0, CLUSTERS, APPEND)], 0.05)
            new_ids = np.arange(next_id, next_id + APPEND, dtype=np.int64)
            next_id += APPEND
            src = os.path.join(ctx.work, f"in-{cycle}-{rnd}")
            spark.createDataFrame(
                pd.DataFrame({"id": new_ids, "vec": list(new)}),
                schema=schema).write.parquet(src)
            live_ids = np.fromiter(live.keys(), dtype=np.int64, count=len(live))
            gone = rng.choice(live_ids[live_ids < N0], REMOVE, replace=False)
            gone_vecs = np.stack([live[int(i)] for i in gone[:PROBE_Q]])

            t0 = time.monotonic()
            with ctx.timed("streaming.append", items=APPEND):
                q = stream_add_to_ivf(
                    spark.readStream.schema(schema).parquet(src), plain,
                    os.path.join(ctx.work, f"ckpt-{cycle}-{rnd}"))
                q.awaitTermination()
            w += time.monotonic() - t0
            live.update(zip(new_ids.tolist(), new))
            serves["plain"] = snapshot()
            follow_write(new[:PROBE_Q], want_rank1=new_ids[:PROBE_Q])
            churn_reads(after_write=True)

            t0 = time.monotonic()
            removed = None
            with ctx.timed("artifacts.remove", items=REMOVE):
                removed = artifacts.remove_from_index(spark, plain,
                                                      gone.tolist())
            w += time.monotonic() - t0
            if not ctx.check("remove_count", removed == REMOVE,
                             removed=removed):
                ctx.op("artifacts.remove").failed += 1
            for i in gone:
                live.pop(int(i))
            serves["plain"] = snapshot()
            follow_write(gone_vecs, removed=gone)
            churn_reads(after_write=True)

        t0 = time.monotonic()
        with ctx.timed("shard_serve.refresh"):
            refresh_sharded(api.load(spark, plain), sharded, NUM_SHARDS,
                            drop_old=True)
        w += time.monotonic() - t0
        serves["sharded"] = serves["plain"]
        churn_reads()
        for kind in CHURN_READS:
            read(kind, roots[kind], np.concatenate([new[:PROBE_Q], gone_vecs]),
                 own=new_ids[:PROBE_Q])
        write_s.append(w)
        rows_written += WRITE_ROUNDS * (APPEND + REMOVE)
        appended_bytes += WRITE_ROUNDS * APPEND * (8 + 4 * DIM)
        now = _files(roots.values())
        written += sum(sz for key, sz in now.items() if key not in seen)
        seen.update(now)

        loaded = None
        with ctx.timed("artifacts.load"):
            loaded = api.load(spark, plain)
        if loaded is not None:
            off = int(rng.integers(0, len(queries) - BATCH_Q + 1))
            read("batch_ivf", loaded, queries[off:off + BATCH_Q])

        t1 = time.monotonic()
        for name, make in dedup_steps.items():
            with ctx.timed(name, items=n_docs):
                # collected, not written to noop: the checks need the
                # rows, and a full collect prunes nothing either
                dedup_out[name] = make().toPandas()
        bulk_s.append(w + time.monotonic() - t1)
        cycle += 1
    with ctx.timed("artifacts.compact"):
        artifacts.compact_index(spark, plain)
    loaded = None
    with ctx.timed("artifacts.load"):
        loaded = artifacts.load_index(spark, plain)
    if loaded is not None:
        read("batch_ivf", loaded, queries[:BATCH_Q])
    final = _files(roots.values())
    live_bytes = len(live) * (8 + 4 * DIM)
    docs.unpersist()
    emb.unpersist()

    # ---- output checks, outside the timed part ----
    found, want = {}, {}
    truth_cache = {}
    for opk, mat, gen, out, own in reads:
        ids_gen, vecs_gen = snapshots[gen]
        got = np.full((len(mat), K), -1, dtype=np.int64)
        got[out["query_id"].to_numpy(), out["rank"].to_numpy() - 1] = \
            out["id"].to_numpy()
        live_set = set(ids_gen.tolist())
        stale = sorted({int(x) for x in got.ravel()
                        if x >= 0 and int(x) not in live_set})
        ok = ctx.check("no_removed_ids", not stale, op=opk, ids=stale[:5])
        if own is not None:
            ok &= ctx.check("appended_rank1",
                            bool((got[:len(own), 0] == own).all()), op=opk)
        if not ok:
            ctx.op(opk).failed += 1
        if own is not None:
            continue
        key = (gen, mat.tobytes())
        if key not in truth_cache:
            truth_cache[key] = exact_topk(vecs_gen, ids_gen, mat)
        found.setdefault(opk, []).append(got)
        want.setdefault(opk, []).append(truth_cache[key])
    recalls = {k: recall_at_k(np.concatenate(found[k]), np.concatenate(want[k]))
               for k in found}
    for k, r in recalls.items():
        ctx.check(f"recall_floor.{k}", r >= RECALL_FLOOR, recall=r)
    # the last cycle's dedup outputs (every cycle runs the same corpus)
    planted = corpus.check(ctx, dedup_out, texts, doc_vecs, text_pairs,
                           emb_pairs)
    planted_recall = planted / (len(text_pairs) + len(emb_pairs))
    ctx.check("dedup.planted_recall", planted_recall >= corpus.PLANTED_RECALL_FLOOR,
              recall=planted_recall)
    api.invalidate_cached()

    read_ops = [o for k, o in ctx.ops.items() if k.startswith("read.")]
    lat = [x for o in read_ops for x in o.latencies]
    churn = {k: ctx.op(f"read.{k}").latencies for k in CHURN_READS}
    follow_lat = [churn["plain"][i] for i in follow]
    # p50 over the reads that follow no write: the others are the tail
    steady = {k: [x for i, x in enumerate(v)
                  if k != "plain" or i not in follow]
              for k, v in churn.items()}
    dedup_s = sum(sum(ctx.op(s).latencies) for s in DEDUP_STEPS)
    ctx.detail.update({
        "cycles": cycle,
        # defect (c): pre-write replicas that served stale rows
        "api.stale_cache_reads": stale_cache["stale"],
        "api.stale_cache_probes": stale_cache["probes"],
        "recall_by_read": recalls,
        "churn_read_median_s": {k: statistics.median(v)
                                for k, v in churn.items()},
        "churn_read_ms": {k: [round(1e3 * x, 1) for x in v]
                          for k, v in churn.items()},
        "dedup.planted_recall": planted_recall,
        "dedup.docs": n_docs,
        "write_s": statistics.median(write_s),
        "rows_per_s": rows_written / sum(write_s),
        "dedup.docs_per_s": n_docs * cycle / dedup_s if dedup_s else None,
        "artifacts.bytes_written": written,
        "artifacts.files": len(final),
        "space_amp": sum(final.values()) / live_bytes,
        "write_amp": written / appended_bytes,
    })
    ctx.detail["e2e"] = {
        "throughput": {"value": sum(o.items for o in read_ops) / sum(lat),
                       "samples": len(lat),
                       "note": "queries/s over the wall time of all reads"},
        "latency_p50_ms": {
            "value": 1e3 * statistics.geometric_mean(
                [statistics.median(v) for v in steady.values()]),
            "samples": sum(len(v) for v in steady.values()),
            "note": "geometric mean of the median plain and sharded read "
                    "that follows no write"},
        "latency_tail_ms": {"value": 1e3 * statistics.fmean(follow_lat),
                            "samples": len(follow_lat),
                            "note": "mean first plain read after a write "
                                    "(re-load and re-localize)"},
        "heavy_op_s": {"value": statistics.median(bulk_s),
                       "samples": len(bulk_s),
                       "note": "median cycle of writes plus dedup chain"},
        "recall": {"value": float(np.mean(list(recalls.values()))),
                   "samples": len(lat),
                   "note": "mean recall@10 of the plain, sharded and "
                           "batch reads"},
    }
