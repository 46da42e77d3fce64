"""The dedup corpus and the checks of the dedup chain's outputs.

A seeded corpus of Zipf-vocabulary documents with planted exact and
near duplicates, plus one embedding per document with planted
near-duplicate embeddings. ``pipeline.py`` runs the chain
``exact_dedup`` → ``minhash_near_dup_pairs`` → ``near_dup_clusters`` →
``embedding_near_dup_pairs`` (default LSH mode) over it; ``check``
rechecks every reported row in numpy.
"""

from __future__ import annotations

import numpy as np

DOCS_PER_SECOND = 150  # the corpus is sized from the run length only
VOCAB, ZIPF_A = 5000, 1.1
DOC_LEN = (40, 80)
EXACT_SHARE, NEAR_SHARE, EMB_SHARE = 0.04, 0.06, 0.05
EMB_DIM = 64
JACCARD_T, COSINE_T = 0.8, 0.95  # the library defaults
SHINGLE = 3
PLANTED_RECALL_FLOOR = 0.95


def corpus(rng, n: int):
    """→ (texts, vectors, planted text pairs, planted embedding pairs).
    Exact duplicates copy an earlier document; near duplicates change
    one token of one, which keeps 3-shingle Jaccard above 0.85 at these
    lengths; embedding near duplicates add 1e-3 noise to an earlier
    vector. Pairs are (lower id, higher id)."""
    w = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_A
    w /= w.sum()
    toks: list[list[str]] = []
    text_pairs, emb_pairs = set(), set()
    kinds = rng.random(n)
    for i in range(n):
        if i > 0 and kinds[i] < EXACT_SHARE:
            j = int(rng.integers(0, i))
            toks.append(list(toks[j]))
            text_pairs.add((j, i))
        elif i > 0 and kinds[i] < EXACT_SHARE + NEAR_SHARE:
            j = int(rng.integers(0, i))
            t = list(toks[j])
            t[int(rng.integers(0, len(t)))] = f"x{i}"
            toks.append(t)
            text_pairs.add((j, i))
        else:
            size = int(rng.integers(DOC_LEN[0], DOC_LEN[1] + 1))
            toks.append([f"w{k}" for k in rng.choice(VOCAB, size, p=w)])
    vecs = rng.normal(size=(n, EMB_DIM)).astype(np.float32)
    for i in np.flatnonzero(rng.random(n) < EMB_SHARE):
        if i == 0:
            continue
        j = int(rng.integers(0, i))
        vecs[i] = vecs[j] + rng.normal(0, 1e-3, EMB_DIM).astype(np.float32)
        emb_pairs.add((j, int(i)))
    return [" ".join(t) for t in toks], vecs, text_pairs, emb_pairs


def _shingles(text: str) -> set:
    t = text.lower().split()
    return {" ".join(t[i:i + SHINGLE]) for i in range(len(t) - SHINGLE + 1)}


def _closure(pairs, ids) -> dict:
    """Connected components of ``pairs``, each labelled by its least id."""
    root = {i: i for i in ids}

    def find(x):
        while root[x] != x:
            root[x] = root[root[x]]
            x = root[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            root[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in ids}


def check(ctx, got, texts, vecs, text_pairs, emb_pairs) -> int:
    """Recheck every reported row in numpy; a failed check fails the
    step's op. → planted pairs found."""

    def verify(step, name, ok, **info):
        if not ctx.check(name, ok, **info):
            ctx.op(step).failed += 1

    found = 0
    # exact_dedup keeps the least id of every identical-text group
    if "dedup.exact" in got:
        first = {}
        for i, t in enumerate(texts):
            first.setdefault(t, i)
        want = set(first.values())
        have = set(got["dedup.exact"]["doc_id"].tolist())
        verify("dedup.exact", "dedup.exact.survivors", have == want,
               missing=len(want - have), extra=len(have - want))
    pairs = set()
    if "dedup.minhash" in got:
        df = got["dedup.minhash"]
        sh = {}
        bad = 0
        for a, b, j in zip(df["doc_a"], df["doc_b"], df["jaccard"]):
            a, b = int(a), int(b)
            sa = sh.setdefault(a, _shingles(texts[a]))
            sb = sh.setdefault(b, _shingles(texts[b]))
            exact = len(sa & sb) / len(sa | sb)
            bad += not (a < b and exact >= JACCARD_T - 1e-9
                        and abs(exact - float(j)) <= 1e-6)
            pairs.add((a, b))
        ctx.detail["dedup.pairs_out"] = len(df)
        ctx.detail["dedup.pair_precision"] = (
            (len(df) - bad) / len(df) if len(df) else None)
        verify("dedup.minhash", "dedup.minhash.pairs_verified", bad == 0,
               bad=bad)
        found += len(text_pairs & pairs)
    if "dedup.clusters" in got and "dedup.minhash" in got:
        df = got["dedup.clusters"]
        members = {a for p in pairs for a in p}
        want = _closure(pairs, members)
        have = dict(zip(df["doc_id"].astype(int), df["cluster_id"].astype(int)))
        verify("dedup.clusters", "dedup.clusters.components", have == want,
               n_have=len(have), n_want=len(want))
    if "dedup.embedding" in got:
        df = got["dedup.embedding"]
        v = vecs.astype(np.float64)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        a = df["id_a"].to_numpy(dtype=np.int64)
        b = df["id_b"].to_numpy(dtype=np.int64)
        sims = (v[a] * v[b]).sum(1)
        ok = bool(((a < b) & (sims >= COSINE_T - 1e-6)
                   & (np.abs(sims - df["cos_sim"].to_numpy()) <= 1e-6)).all())
        verify("dedup.embedding", "dedup.embedding.pairs_verified", ok)
        found += len(emb_pairs & set(zip(a.tolist(), b.tolist())))
    return found
