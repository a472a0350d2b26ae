#!/usr/bin/env python3
"""Corpus statistics the corpus generator is calibrated against.

    python3 graftbench/calibrate.py <documents.parquet> [...]

Prints one JSON object per file with the statistics `gen.corpus` is
fitted to: document count, tokens per document, vocabulary size and
Zipf exponent, language and source shares, the exact-duplicate share,
near-duplicate pairs, documents sharing a 16-token span with another
document, and documents overlapping the evaluation set (`doc_id < 25`).
Tokens, exact-duplicate keys and shingles follow graft's own
definitions (`Dedup.tokens`, `Dedup.normText`, word 3-gram shingles,
Jaccard >= 0.8 with buckets of at most 50 documents, containment >= 0.5).
"""
import collections
import json
import math
import re
import sys

import numpy as np
import pyarrow.parquet as pq

TOKEN = re.compile(r"[^a-z0-9]+")
SPACE = re.compile(r"\s+")


def tokens(text):
    return [t for t in TOKEN.split(text.lower()) if t]


def shingles(toks, n=3):
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def zipf_exponent(counts):
    """Least-squares slope of log frequency on log rank over the top
    ranks that hold 95% of the tokens."""
    f = np.sort(np.array(counts, dtype=float))[::-1]
    k = int(np.searchsorted(np.cumsum(f) / f.sum(), 0.95)) + 1
    k = max(k, 2)
    r = np.arange(1, k + 1)
    return float(-np.polyfit(np.log(r), np.log(f[:k]), 1)[0])


def stats(path):
    t = pq.read_table(path).to_pydict()
    ids, texts = t["doc_id"], t["text"]
    n = len(texts)
    toks = [tokens(x) for x in texts]
    lens = np.array([len(x) for x in toks])
    freq = collections.Counter(w for x in toks for w in x)

    seen, exact = set(), 0
    for x in texts:
        k = SPACE.sub(" ", x.lower()).strip()
        exact += k in seen
        seen.add(k)

    sh = [shingles(x) for x in toks]
    post = collections.defaultdict(list)
    for i, s in enumerate(sh):
        for g in s:
            post[g].append(i)
    shared = collections.Counter()
    for docs in post.values():
        if len(docs) <= 50:
            for a in range(len(docs)):
                for b in range(a + 1, len(docs)):
                    shared[docs[a], docs[b]] += 1
    near = [(a, b) for (a, b), c in shared.items()
            if c / (len(sh[a]) + len(sh[b]) - c) >= 0.8 and sh[a] != sh[b]]
    in_near = {d for p in near for d in p}

    spans = collections.defaultdict(set)
    for i, x in enumerate(toks):
        for j in range(len(x) - 15):
            spans[" ".join(x[j:j + 16])].add(sh_key(sh[i]))
    span_docs = set()
    for i, x in enumerate(toks):
        for j in range(len(x) - 15):
            if len(spans[" ".join(x[j:j + 16])]) > 1:
                span_docs.add(i)
                break

    bench = [sh[i] for i in range(n) if ids[i] < 25]
    overlap = sum(1 for i in range(n) if ids[i] >= 25 and sh[i] and
                  max(len(sh[i] & b) for b in bench) / len(sh[i]) >= 0.5)

    return {
        "file": path, "docs": n, "text_mb": round(sum(len(x.encode()) for x in texts) / 1e6, 3),
        "tokens_per_doc": {"min": int(lens.min()), "p10": float(np.percentile(lens, 10)),
                           "p50": float(np.median(lens)), "p90": float(np.percentile(lens, 90)),
                           "max": int(lens.max()), "mean": round(float(lens.mean()), 2)},
        "vocabulary": len(freq),
        "zipf_exponent": round(zipf_exponent(list(freq.values())), 3),
        "top_token_share": round(freq.most_common(1)[0][1] / lens.sum(), 4),
        "langs": {k: round(v / n, 4) for k, v in sorted(collections.Counter(t["lang"]).items())},
        "sources": len(set(t["source"])),
        "exact_dup_share": round(exact / n, 4),
        "near_dup_pairs_per_1k_docs": round(len(near) / n * 1000, 2),
        "near_dup_doc_share": round(len(in_near) / n, 4),
        "shared_16_span_doc_share": round(len(span_docs) / n, 4),
        "eval_overlap_docs": overlap,
    }


def sh_key(s):
    """Documents with equal shingle sets (exact duplicates) count once
    when looking for spans shared between documents."""
    return hash(frozenset(s))


if __name__ == "__main__":
    for p in sys.argv[1:]:
        print(json.dumps(stats(p)))
