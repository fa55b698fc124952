"""Seeded input generator for the benchmark workloads (pure Python + numpy).

Every corpus is built from the sf0.1 ``documents`` and ``embeddings`` tables
shipped in ``perfbench/data/`` (byte-identical copies of the harness
tables, so the benchmark needs nothing outside its checkout), and is a
function of ``seed`` alone: the same seed gives byte-identical inputs. The
*shape* of each corpus (document count, length quantiles, fan-out, cluster
sizes) is fixed and only the content moves with the seed, so timings of
different seeds measure the same amount of work.
"""

from __future__ import annotations

import functools
import hashlib
import json
import math
import os
import random

import numpy as np
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# longdoc corpora: log-uniform lengths between these bounds (whitespace tokens)
LONG_MIN, LONG_MAX = 1_000, 40_000


@functools.lru_cache(maxsize=None)
def sf_documents() -> tuple[tuple[int, str], ...]:
    """(doc_id, text) of the sf0.1 ``documents`` table, in doc_id order."""
    t = pq.read_table(os.path.join(DATA, "documents.parquet"), columns=["doc_id", "text"])
    return tuple(sorted(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist())))


@functools.lru_cache(maxsize=None)
def sf_embeddings() -> np.ndarray:
    """The sf0.1 ``embeddings`` table as a float32 matrix, row i = vec_id i."""
    t = pq.read_table(os.path.join(DATA, "embeddings.parquet"), columns=["vec_id", "embedding"])
    order = np.argsort(t.column("vec_id").to_numpy())
    return np.array(t.column("embedding").to_pylist(), dtype=np.float32)[order]


def long_lengths(n_docs: int) -> list[int]:
    """Log-uniform length quantiles: the same set of lengths for every seed."""
    lo, hi = math.log(LONG_MIN), math.log(LONG_MAX)
    return [round(math.exp(lo + (hi - lo) * (i + 0.5) / n_docs)) for i in range(n_docs)]


def long_corpus(seed: int, n_docs: int, sections: int = 4) -> dict:
    """Long documents made by concatenating sf0.1 document texts as
    sentences, each with a reference summary and a 2-3 level section tree.

    Doc ``i`` takes seeded sf0.1 texts until it holds ``long_lengths[i]``
    whitespace tokens (the last sentence is cut to fit); 3-8 sentences make
    a ``\\n\\n``-separated paragraph. The reference is the first sentence of
    every paragraph, up to 150 words; the tree puts the paragraphs under
    ``sections`` headers, every other header split into two sub-headers.
    Returns ``{"docs", "refs", "trees"}`` as lists of ``(doc_id, str)`` plus
    ``"tree_depth"``.
    """
    rng = random.Random(f"longdoc:{seed}")
    pool = [t.split() for _, t in sf_documents()]
    lengths = long_lengths(n_docs)
    rng.shuffle(lengths)
    docs, refs, trees = [], [], []
    for i, n in enumerate(lengths):
        doc_id = f"d{seed % 1000:03d}_{i:04d}"
        sents, have = [], 0
        while have < n:
            words = rng.choice(pool)[: n - have]
            sents.append(words)
            have += len(words)
        paras = []
        while sents:
            k = rng.randint(3, 8)
            paras.append(sents[:k])
            sents = sents[k:]
        para_text = [" ".join(" ".join(s) + "." for s in p) for p in paras]
        docs.append((doc_id, "\n\n".join(para_text)))
        ref_words: list[str] = []
        for p in paras:
            if len(ref_words) >= 150:
                break
            ref_words += p[0] + ["."]
        refs.append((doc_id, " ".join(ref_words[:150])))
        trees.append((doc_id, json.dumps(_tree(rng, doc_id, para_text, pool, sections))))
    return {"docs": docs, "refs": refs, "trees": trees, "tree_depth": 3}


def _tree(rng: random.Random, doc_id: str, paras: list[str], pool, sections: int) -> dict:
    per = max(1, math.ceil(len(paras) / sections))
    headers = []
    for h in range(0, len(paras), per):
        body = [{"type": "Paragraph", "text": t} for t in paras[h : h + per]]
        title = " ".join(rng.choice(pool)[:4])
        if (h // per) % 2 == 1 and len(body) > 1:
            mid = len(body) // 2
            body = [
                {"type": "Header", "text": title + " a", "children": body[:mid]},
                {"type": "Header", "text": title + " b", "children": body[mid:]},
            ]
        headers.append({"type": "Header", "text": title, "children": body})
    return {"type": "Document", "text": doc_id, "children": headers}


MIN_TOKENS = 44


def _mutate(words: list[str], r: int) -> list[str]:
    """Replica ``r`` replaces one interior token, at position
    ``2 + r mod (n - 4)``, with a replica-unique token. Three 3-shingles
    change, so on the ``MIN_TOKENS``+ documents used the Jaccard similarity
    to the origin stays >= 0.87, where 16x4 LSH banding misses a pair about
    once in 10^6. ``examples/stress_dedup_chain.py`` replaces every 17th
    token instead (Jaccard ~0.7, a miss about once in a hundred pairs: too
    often for every planted mutant to be found). The first and last two
    tokens stay: in an inflated document they also form the shingles that
    cross each salt token, once per repeat."""
    pos = 2 + r % (len(words) - 4)
    return [f"mut{r}" if i == pos else w for i, w in enumerate(words)]


def _shingles(words: list[str], n: int = 3) -> set:
    return {tuple(words[i : i + n]) for i in range(len(words) - n + 1)}


def curation_corpus(
    seed: int,
    n_base: int = 100,
    viral: int = 4,
    viral_reps: int = 60,
    long_every: int = 50,
    long_repeat: int = 40,
    exact_every: int = 40,
    n_eval: int = 300,
    eval_contaminated: int = 30,
) -> dict:
    """sf0.1 documents expanded with planted structure.

    Follows the skew scheme of ``examples/stress_dedup_chain.py`` on a
    seeded sample of ``n_base`` sf0.1 documents: ``viral`` of them spawn
    ``viral_reps`` extra near-duplicate mutants each (one hot band bucket
    and one giant component each), and every one spawns 0-9 mutants (the
    counts are a seeded permutation of a fixed multiset, so the corpus size
    does not move with the seed), every ``long_every``-th is inflated
    ``long_repeat`` times with a per-repeat salt token, its mutants drawn
    before the inflation (a mutated repeat inside an otherwise intact
    inflated text adds many new shingles while removing none, which drops
    its Jaccard under the threshold), and every ``exact_every``-th row
    gets a byte-identical copy. Ids follow the example: replica ``r`` of sf doc ``d`` is ``d*10000+r``
    (``r=0`` is the original); exact copies sit above ``10**9``.

    The eval set holds ``n_eval`` held-out sf0.1 documents (never sampled
    into the corpus, and sharing no more than a fifth of their 3-shingles
    with any corpus origin: sf0.1 holds near-duplicates of its own); the
    first ``eval_contaminated`` of them keep 20 of their own tokens and then
    embed a 60-token span of a corpus document.
    """
    rng = random.Random(f"curation:{seed}")
    sf = [(d, t) for d, t in sf_documents()]
    texts = {}
    for d, t in sf:  # held-out eval docs must not repeat a corpus text
        texts.setdefault(t, d)
    unique = [(d, t) for d, t in sf if texts[t] == d and len(t.split()) >= MIN_TOKENS]
    rng.shuffle(unique)
    base, rest = unique[:n_base], unique[n_base:]
    seen: dict[tuple, set] = {}
    for b, (_, t) in enumerate(base):
        for s in _shingles(t.split()):
            seen.setdefault(s, set()).add(b)
    held_out = []
    for d, t in rest:
        sh = _shingles(t.split())
        hits: dict[int, int] = {}
        for s in sh:
            for b in seen.get(s, ()):
                hits[b] = hits.get(b, 0) + 1
        if max(hits.values(), default=0) <= len(sh) / 5:
            held_out.append((d, t))
        if len(held_out) == n_eval:
            break
    reps_of = [b % 10 for b in range(n_base)]
    rng.shuffle(reps_of)
    viral_slots = set(rng.sample(range(n_base), viral))
    docs: list[tuple[int, str]] = []
    origin: dict[int, int] = {}  # mutant id -> origin id
    for b, (sf_id, text) in enumerate(base):
        words = text.split()
        repeat = long_repeat if b % long_every == 0 else 1

        def inflate(ws: list[str]) -> str:
            if repeat == 1:
                return " ".join(ws)
            return " ".join(w for i in range(1, repeat + 1) for w in [f"p{i}"] + ws)

        base_id = sf_id * 10_000
        docs.append((base_id, inflate(words)))
        for r in range(1, reps_of[b] + (viral_reps if b in viral_slots else 0) + 1):
            docs.append((base_id + r, inflate(_mutate(words, r))))
            origin[base_id + r] = base_id
    exact_of = {10**9 + i: d for i, (d, _) in enumerate(docs[::exact_every])}
    docs += [(10**9 + i, t) for i, (_, t) in enumerate(docs[::exact_every])]
    rng.shuffle(docs)

    long_enough = [t.split() for _, t in docs if len(t.split()) >= 60]
    evals: list[tuple[int, str]] = []
    for e, (_, text) in enumerate(held_out):
        words = text.split()
        if e < eval_contaminated:
            src = rng.choice(long_enough)
            start = rng.randint(0, len(src) - 60)
            words = words[:20] + src[start : start + 60]
        evals.append((e, " ".join(words)))
    return {
        "docs": docs,
        "origin": origin,
        "exact_of": exact_of,
        "eval": evals,
        "contaminated": set(range(eval_contaminated)),
        "viral": sorted(base[b][0] * 10_000 for b in viral_slots),
    }


def embeddings(seed: int, n_planted: int = 100, mates: int = 2) -> dict:
    """The 2k sf0.1 embeddings plus ``mates`` planted near-duplicates of
    each of ``n_planted`` seeded origins (a 1% per-dimension jitter, cosine
    > 0.99). Ids: base ``0..n-1``, mate ``m`` of the ``i``-th planted origin
    is ``n + i*mates + m``."""
    base = sf_embeddings().astype(np.float64)
    n = len(base)
    rs = np.random.default_rng(seed)
    origins = rs.choice(n, n_planted, replace=False)
    scale = np.abs(base[origins]).mean(axis=1, keepdims=True)
    src = np.repeat(origins, mates)
    mates_v = base[src] + 0.01 * np.repeat(scale, mates, axis=0) * rs.standard_normal((n_planted * mates, base.shape[1]))
    vecs = np.vstack([base, mates_v]).astype(np.float32)
    mate_ids = {int(o): [n + i * mates + m for m in range(mates)] for i, o in enumerate(origins)}
    return {"vecs": vecs, "mates": mate_ids}


def fingerprint(obj) -> str:
    """Stable digest of a generated corpus, for the determinism self-test."""
    h = hashlib.sha256()
    for part in _flatten(obj):
        h.update(part)
    return h.hexdigest()[:16]


def _flatten(obj):
    if isinstance(obj, np.ndarray):
        yield obj.tobytes()
    elif isinstance(obj, dict):
        for k in sorted(obj):
            yield str(k).encode()
            yield from _flatten(obj[k])
    elif isinstance(obj, (list, tuple, set)):
        for x in sorted(obj) if isinstance(obj, set) else obj:
            yield from _flatten(x)
    else:
        yield str(obj).encode("utf-8")


def quantiles(xs: list[int]) -> dict:
    s = sorted(xs)
    pick = lambda q: s[min(len(s) - 1, int(q * len(s)))]  # noqa: E731
    return {"min": s[0], "p50": pick(0.5), "p90": pick(0.9), "max": s[-1]}
