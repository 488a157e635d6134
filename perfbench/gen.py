"""Seeded input generator for the benchmark workloads.

Everything is a pure function of (workload, seed): the same seed gives
byte-identical files.  The program under test only ever sees the files
written here; the exact counts the generator drew are kept next to them
(``expected.json``) so the harness can check every output.

Layout of one generated input directory:

  wordcount_bulk/    corpus.txt + expected.json (total, distinct, sample)
  ann_build_serve/   embeddings.parquet, documents.parquet + expected.json
"""
import hashlib
import json
import os

import numpy as np

# Input sizes.  They are part of the benchmark definition: changing any of
# them changes what is measured, so the input cache key covers them.
WORDCOUNT = dict(tokens=500_000, vocab=100_000, zipf_s=1.1, line_tokens=12,
                 sample=64)
# Spark's per-query overhead dominates the serve at this size; the corpus
# stays small because the oracle runs once per seed inside a run.
ANN = dict(vecs=100, replicas=2, dim=64, labels=10, docs=200)
# SparkEntry.oracleSql resolves the band geometry of every query family for
# the corpus it is given, documents included, so the corpus carries a small
# sf0.1-shaped documents table as well; no ANN query reads it.
DOC_VOCAB = ("a the spark window merge table column vector stream value data "
             "small join filter big group hash customer sort order slow line "
             "part fast row agg key query scan batch").split()
ID_STRIDE = 20_000_000  # graft.StressGen.IdStride


def _rng(seed, stream):
    return np.random.default_rng([int(seed), stream])


def _words(rng, n):
    """n distinct lowercase words; the rank -> word mapping depends on the
    seed, so each seed has its own hot keys."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))[rng.permutation(26)]
    out = []
    for k in rng.permutation(n) + 26 * 26:
        s = []
        while k:
            k, d = divmod(k, 26)
            s.append(letters[d])
        out.append("".join(s))
    return out


def _zipf_ids(rng, n, vocab, s):
    """n draws from P(rank k) proportional to 1/k^s over a finite vocabulary."""
    cdf = np.cumsum(1.0 / np.arange(1, vocab + 1) ** s)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(n), side="right"),
                      vocab - 1)


def _write_text(path, words, ids, line_tokens):
    """Write ids as space-separated words, line_tokens per line, in blocks so
    memory stays bounded."""
    wb = np.frombuffer("".join(w + " " for w in words).encode(), np.uint8)
    wlen = np.array([len(w) + 1 for w in words], np.int64)
    wstart = np.cumsum(wlen) - wlen
    with open(path, "wb") as f:
        block = line_tokens * 40_000
        for b0 in range(0, len(ids), block):
            blk = ids[b0:b0 + block]
            tl = wlen[blk]
            off = np.cumsum(tl) - tl
            src = np.arange(int(tl.sum())) + np.repeat(wstart[blk] - off, tl)
            buf = wb[src]
            ends = off + tl - 1
            idx = np.arange(b0, b0 + len(blk))
            buf[ends[(idx + 1) % line_tokens == 0]] = ord("\n")
            if b0 + block >= len(ids):
                buf[ends[-1]] = ord("\n")
            f.write(buf.tobytes())


def gen_wordcount(out, seed):
    p = WORDCOUNT
    rng = _rng(seed, 1)
    words = _words(rng, p["vocab"])
    ids = _zipf_ids(rng, p["tokens"], p["vocab"], p["zipf_s"])
    _write_text(os.path.join(out, "corpus.txt"), words, ids, p["line_tokens"])
    counts = np.bincount(ids, minlength=p["vocab"])
    present = np.flatnonzero(counts)
    # the sample mixes hot keys (the head of the distribution) with
    # uniformly drawn present keys (mostly the tail)
    pick = np.concatenate([present[:8], rng.choice(present, p["sample"] - 8,
                                                   replace=False)])
    return dict(total=int(ids.size), distinct=int(present.size),
                input_bytes=os.path.getsize(os.path.join(out, "corpus.txt")),
                sample={words[i]: int(counts[i]) for i in pick})


def gen_ann(out, seed):
    """sf0.1-shaped embeddings (64-dim unit vectors, 10 labels), replicated
    and perturbed like graft.StressGen: replica r > 0 is 0.8 v + 0.3 u with
    u uniform in [-1, 1], renormalized, under vec_id + r * IdStride."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    p = ANN
    rng = _rng(seed, 3)
    base = rng.standard_normal((p["vecs"], p["dim"]))
    labels = rng.integers(0, p["labels"], p["vecs"]).astype(np.int32)
    vecs, ids = [], []
    for r in range(p["replicas"]):
        v = base if r == 0 else 0.8 * base + 0.3 * rng.uniform(-1, 1, base.shape)
        vecs.append(v / np.linalg.norm(v, axis=1, keepdims=True))
        ids.append(np.arange(p["vecs"], dtype=np.int64) + r * ID_STRIDE)
    emb = np.concatenate(vecs).astype(np.float32)
    path = os.path.join(out, "embeddings.parquet")
    pq.write_table(pa.table({
        "vec_id": pa.array(np.concatenate(ids), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(np.tile(labels, p["replicas"]), pa.int32()),
    }), path)
    texts = [" ".join(rng.choice(DOC_VOCAB, int(rng.integers(10, 101))))
             for _ in range(p["docs"])]
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(p["docs"]), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(["en", "zh", "es", "fr", "de"], p["docs"]), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(p["docs"])], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out, "documents.parquet"))
    return dict(vecs=int(emb.shape[0]), input_bytes=os.path.getsize(path))


GENERATORS = {
    "wordcount_bulk": gen_wordcount,
    "ann_build_serve": gen_ann,
}


def ensure(cache_root, workload, seed):
    """Return the input directory for (workload, seed), generating it once.
    Generation writes to a temporary directory that is renamed into place,
    so an interrupted run never leaves a half-written input behind."""
    sizes = {"wordcount_bulk": WORDCOUNT, "ann_build_serve": ANN}[workload]
    tag = hashlib.sha256(json.dumps(sizes, sort_keys=True).encode()).hexdigest()[:8]
    final = os.path.join(cache_root, f"{workload}-{tag}-s{seed}")
    if os.path.exists(os.path.join(final, "expected.json")):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    os.makedirs(tmp)
    expected = GENERATORS[workload](tmp, seed)
    with open(os.path.join(tmp, "expected.json"), "w") as f:
        json.dump(expected, f)
    os.rename(tmp, final)
    return final
