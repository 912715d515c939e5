"""fastText-style language identification kernel for the fused scoring UDF.

Model: multinomial naive-Bayes over hashed character trigrams (2^16
buckets), trained on the deterministic synthetic training corpus
(functions/synthlang.py) for the 3 languages plus a uniform-random "und"
background class. This is the public fastText architecture in
miniature — hashed char-ngram features, linear classifier, softmax
confidence — with no external model download (sandbox constraint; the
north star's lid.176 drop-in is a one-line swap of `_score_batch`).

Execution model (north star requirement: broadcast model + Arrow batches,
no per-row Python):
- the weight matrix is loaded once on the driver from the trained
  counts shipped in functions/models.npz (`train_counts` retrains them;
  tools/train_models.py regenerates the file) and broadcast,
- the fused scoring UDF (functions/scoring.py) dereferences the
  broadcast per executor,
- scoring is numpy-vectorized per document: text bytes → 24-bit trigram
  codes → multiplicative-hash buckets → bincount → one matmul per doc.
"""

from __future__ import annotations

import io
import pkgutil
from functools import lru_cache

import numpy as np

from . import synthlang as sl

N_BUCKETS = 1 << 16
_KNUTH = np.uint64(2654435761)
CLASSES: tuple[str, ...] = sl.LANGS + (sl.UNKNOWN_LANG,)


def _trigram_buckets(text: str) -> np.ndarray:
    """Vectorized text → hashed char-trigram bucket ids."""
    b = np.frombuffer(text.lower().encode("utf-8", "ignore"), dtype=np.uint8)
    if b.size < 3:
        return np.empty(0, dtype=np.int64)
    codes = (
        b[:-2].astype(np.uint64) << np.uint64(16)
    ) | (b[1:-1].astype(np.uint64) << np.uint64(8)) | b[2:].astype(np.uint64)
    return ((codes * _KNUTH) & np.uint64(N_BUCKETS - 1)).astype(np.int64)


def _bucket_counts(text: str) -> np.ndarray:
    ids = _trigram_buckets(text)
    return np.bincount(ids, minlength=N_BUCKETS).astype(np.float64)


@lru_cache(maxsize=1)
def build_model() -> np.ndarray:
    """(n_classes, N_BUCKETS) log-probability weight matrix + implicit
    uniform prior, from the shipped `train_counts()`."""
    with np.load(io.BytesIO(pkgutil.get_data(__package__, "models.npz"))) as z:
        c = z["langid_counts"].astype(np.float64)
    return np.log(c / c.sum(axis=1, keepdims=True))


def train_counts() -> np.ndarray:
    """Trigram counts per class, Laplace 1 included (seeded corpus)."""
    counts = np.ones((len(CLASSES), N_BUCKETS), dtype=np.float64)  # Laplace
    for li, lang in enumerate(sl.LANGS):
        for doc in sl.training_corpus(lang):
            counts[li] += _bucket_counts(doc)
    # background class: uniform random a-z "documents"
    rng = np.random.default_rng(999_331)
    for _ in range(200):
        doc = sl.words_to_lines(rng, sl.gibberish_words(rng, int(rng.integers(60, 300))))
        counts[len(sl.LANGS)] += _bucket_counts(doc)
    return counts


# cap on gathered weight values per reduceat chunk: bounds the transient
# gather to ~32 MB/class regardless of Arrow batch size
_CHUNK_IDS = 4_000_000


def langid_batch(
    texts, weights: np.ndarray | None = None
) -> tuple[list[str], np.ndarray]:
    """Score a whole Arrow batch with per-document Python work limited to
    the byte-level trigram hash (one numpy call per doc). Class scoring
    is batched: all documents' trigram ids are concatenated and each
    class's logits come from ONE gather + weighted ``np.bincount``
    segment sum over the concatenation, then softmax/argmax vectorize
    across the batch. Replaces the per-document gather+sum+softmax loop.
    (Measured honestly: that loop was ~86µs/doc and NOT the pipeline
    bottleneck — see BASELINE.md; the batch path removes the per-doc
    Python dispatch at equal kernel cost.)

    Semantics of the scalar spec preserved exactly: falsy text →
    (UNKNOWN, 0.0); <3 bytes → zero logits → uniform softmax; otherwise
    trigram-count-normalized softmax. `score_text` delegates here, so
    the scalar oracle path and the batch UDF path are the same kernel."""
    if weights is None:
        weights = build_model()
    ncls = weights.shape[0]
    n = len(texts)
    preds = [sl.UNKNOWN_LANG] * n
    confs = np.zeros(n, dtype=np.float64)
    docs: list[tuple[int, np.ndarray]] = []
    for i, t in enumerate(texts):
        if not t:
            continue  # falsy → (UNKNOWN, 0.0), no softmax
        docs.append((i, _trigram_buckets(t)))
    if not docs:
        return preds, confs

    idx = np.array([i for i, _ in docs], dtype=np.int64)
    counts = np.array([ids.size for _, ids in docs], dtype=np.int64)
    logits = np.zeros((len(docs), ncls), dtype=np.float64)
    nz = np.nonzero(counts)[0]  # zero-trigram docs keep zero logits
    pos = 0
    while pos < nz.size:
        take, tot = 0, 0
        while pos + take < nz.size and (
            take == 0 or tot + counts[nz[pos + take]] <= _CHUNK_IDS
        ):
            tot += counts[nz[pos + take]]
            take += 1
        sel = nz[pos:pos + take]
        seg = np.concatenate([docs[j][1] for j in sel])
        doc_of = np.repeat(np.arange(take), counts[sel])
        # weighted bincount as the segment sum — measured ~2.7× faster
        # than np.add.reduceat here (reduceat's per-element segment
        # bookkeeping loses to bincount's tight C accumulation)
        for c in range(ncls):
            logits[sel, c] = np.bincount(
                doc_of, weights=weights[c, seg], minlength=take)
        pos += take

    # temperature-normalized softmax: scale by trigram count so confidence
    # reflects per-trigram evidence, not document length
    z = logits / np.maximum(counts, 1).astype(np.float64)[:, None]
    z -= z.max(axis=1, keepdims=True)
    p = np.exp(z)
    p /= p.sum(axis=1, keepdims=True)
    best = p.argmax(axis=1)
    for k in range(len(docs)):
        preds[idx[k]] = CLASSES[best[k]]
    confs[idx] = p[np.arange(len(docs)), best]
    return preds, confs


def score_text(text: str | None, weights: np.ndarray | None = None) -> tuple[str, float]:
    """Score one document (oracle path) — delegates to `langid_batch`
    so the scalar spec and the batched UDF path are bit-identical."""
    preds, confs = langid_batch([text], weights)
    return preds[0], float(confs[0])
