"""KenLM-style hashed n-gram perplexity kernel for the fused scoring UDF.

Model: word-level n-gram LM (orders 1..3; the table layout supports any
order) with stupid backoff (alpha=0.4), counts hashed by crc32 into an
int64-keyed table — the public KenLM idea (hashed n-grams, backoff) with a
deterministic in-repo training corpus instead of an external .arpa binary.

Tokenization: lowercase, split on whitespace, strip non-alphanumeric
edges. Perplexity = exp(-mean log P(w_i | context)). Unseen words bottom
out at a floor probability, so gibberish scores orders of magnitude above
in-vocabulary prose.

Execution: table loaded once on the driver from the trained counts
shipped in functions/models.npz (`train_counts` retrains them;
tools/train_models.py regenerates the file) and broadcast; the fused
scoring UDF (functions/scoring.py) dereferences it per executor;
scoring loops words in CPython but only inside Arrow batches.
"""

from __future__ import annotations

import io
import math
import pkgutil
import re
import zlib
from functools import lru_cache

import numpy as np
import pandas as pd

from . import synthlang as sl

BACKOFF = 0.4
MAX_ORDER = 3
_FLOOR_P = 1e-7
_EDGE = re.compile(r"^[^a-z0-9]+|[^a-z0-9]+$")

#: one-pass equivalent of split()+edge-strip: a match starts at the first
#: [a-z0-9] of a whitespace-delimited word and (greedy \S* backtracking to
#: an alnum) ends at its last [a-z0-9] — interior punctuation kept, edges
#: stripped, all-junk words dropped. Equivalence asserted in tests.
_TOKEN = re.compile(r"[a-z0-9](?:\S*[a-z0-9])?")


def tokenize(text: str) -> list[str]:
    """Reference-shaped tokenizer: lowercase, whitespace split, strip
    non-alphanumeric edges (slow spec path; `tokenize_fast` is the
    equivalent single-regex hot path)."""
    out = []
    for w in text.lower().split():
        w = _EDGE.sub("", w)
        if w:
            out.append(w)
    return out


def tokenize_fast(text: str) -> list[str]:
    return _TOKEN.findall(text.lower())


def _h(ngram: tuple[str, ...]) -> int:
    return zlib.crc32(" ".join(ngram).encode("utf-8"))


@lru_cache(maxsize=1)
def build_model() -> tuple[dict[int, int], int]:
    """counts[hash(ngram)] for orders 1..MAX_ORDER, plus total unigrams:
    the shipped `train_counts()`."""
    with np.load(io.BytesIO(pkgutil.get_data(__package__, "models.npz"))) as z:
        return (dict(zip(z["ppl_keys"].tolist(), z["ppl_counts"].tolist())),
                int(z["ppl_total"]))


def train_counts() -> tuple[dict[int, int], int]:
    """`build_model`'s table, trained on the seeded corpus."""
    counts: dict[int, int] = {}
    total = 0
    for lang in sl.LANGS:
        for doc in sl.training_corpus(lang):
            toks = tokenize(doc)
            total += len(toks)
            for order in range(1, MAX_ORDER + 1):
                for i in range(len(toks) - order + 1):
                    k = _h(tuple(toks[i : i + order]))
                    counts[k] = counts.get(k, 0) + 1
    return counts, total


def _word_logprob(counts: dict[int, int], total: int,
                  toks: list[str], i: int) -> float:
    """Stupid-backoff log P(toks[i] | toks[i-2:i]) — reference-shaped slow
    path, kept as the readable spec; `_score_tokens` is the hot path and
    produces bit-identical values (asserted by tests)."""
    for order in range(min(MAX_ORDER, i + 1), 0, -1):
        ctx = tuple(toks[i - order + 1 : i + 1])
        c = counts.get(_h(ctx))
        if c:
            if order == 1:
                p = c / total
            else:
                denom = counts.get(_h(ctx[:-1]))
                if not denom:
                    continue
                p = c / denom
            return math.log(p) + (MAX_ORDER - order) * math.log(BACKOFF)
    return math.log(_FLOOR_P) + (MAX_ORDER - 1) * math.log(BACKOFF)


_LB = math.log(BACKOFF)
_LFLOOR = math.log(_FLOOR_P) + (MAX_ORDER - 1) * _LB


def _score_tokens(counts: dict[int, int], total: int, toks: list[str],
                  memo: dict) -> float:
    """Sum of per-word logprobs. Identical math to `_word_logprob` (same
    expressions, same evaluation order) with the per-call overhead removed:
    direct string keys instead of tuple slicing+join, precomputed log
    constants, and a memo keyed by the exact (window, position-class) the
    value depends on — logprob for i≥2 is a pure function of the trigram."""
    get = counts.get
    crc = zlib.crc32
    log = math.log
    lp = 0.0
    for i, w in enumerate(toks):
        if i >= 2:
            key = (toks[i - 2], toks[i - 1], w)
        elif i == 1:
            key = (None, toks[0], w)
        else:
            key = (None, None, w)
        v = memo.get(key)
        if v is None:
            v = _LFLOOR
            for order in range(min(MAX_ORDER, i + 1), 0, -1):
                s = " ".join(toks[i - order + 1 : i + 1])
                c = get(crc(s.encode("utf-8")))
                if c:
                    if order == 1:
                        p = c / total
                    else:
                        denom = get(crc(s.rsplit(" ", 1)[0].encode("utf-8")))
                        if not denom:
                            continue
                        p = c / denom
                    v = log(p) + (MAX_ORDER - order) * _LB
                    break
            memo[key] = v
        lp += v
    return lp


def perplexity(text: str | None,
               model: tuple[dict[int, int], int] | None = None,
               memo: dict | None = None) -> float:
    """Score one document (oracle path / UDF inner loop)."""
    if model is None:
        model = build_model()
    counts, total = model
    if not text:
        return float("inf")
    toks = tokenize(text)
    if not toks:
        return float("inf")
    lp = _score_tokens(counts, total, toks, {} if memo is None else memo)
    return math.exp(-lp / len(toks))


# ---------------------------------------------------------------------------
# vectorized batch path — bit-identical to the scalar spec (asserted by
# tests): same tokens, same crc32 keys, same float ops in the same order
# (math.log applied per UNIQUE probability value — np.log's SIMD path
# differs from libm in the last ulp, so it is deliberately NOT used)
# ---------------------------------------------------------------------------

_SENT = "\x00"  # impossible token (tokens are [a-z0-9]-edged)


_ARR_CACHE: dict[int, tuple[object, tuple[np.ndarray, np.ndarray, int]]] = {}


def _model_arrays(model) -> tuple[np.ndarray, np.ndarray, int]:
    """Sorted (keys, values) arrays over the count table for vectorized
    searchsorted lookups; built once per (process, model object). The
    cache entry pins the model object itself and is validated with an
    identity check — ``id()`` alone is unsafe, because a freed model's
    address can be reused by a new object and would silently serve the
    OLD model's arrays."""
    key = id(model)
    hit = _ARR_CACHE.get(key)
    if hit is not None and hit[0] is model:
        return hit[1]
    counts, total = model
    ks = np.fromiter(counts.keys(), dtype=np.int64, count=len(counts))
    vs = np.fromiter(counts.values(), dtype=np.int64, count=len(counts))
    o = np.argsort(ks)
    _ARR_CACHE.clear()
    arrays = (ks[o], vs[o], total)
    _ARR_CACHE[key] = (model, arrays)
    return arrays


def _lookup(ks: np.ndarray, vs: np.ndarray, q: np.ndarray) -> np.ndarray:
    if len(ks) == 0:
        # empty count table: every lookup misses, so callers fall through
        # to their floor/backoff probabilities instead of ks[-1] blowing up
        return np.zeros(len(q), dtype=np.int64)
    idx = np.searchsorted(ks, q)
    idx_c = np.minimum(idx, len(ks) - 1)
    return np.where(ks[idx_c] == q, vs[idx_c], 0)


def _crc_arr(strings) -> np.ndarray:
    return np.fromiter(
        map(zlib.crc32, map(str.encode, strings)),
        dtype=np.int64, count=len(strings),
    )


def _log_exact(x: np.ndarray) -> np.ndarray:
    """Elementwise natural log, computed with math.log over the unique
    values only — bit-identical to the scalar path at array speed (the
    unique probability count is tiny vs the token count)."""
    u, inv = np.unique(x, return_inverse=True)
    lu = np.array([math.log(t) for t in u], dtype=np.float64)
    return lu[inv]


def perplexity_batch(texts, model=None) -> list[float]:
    """Score a batch of documents, bit-identical to `perplexity` per doc.

    Shape: tokenize each doc (single-regex pass), flatten to one token
    stream, factorize the WORDS once (object hashing touches each token
    exactly once), then derive every n-gram family as an int64 code pair
    — context codes are lag-shifts of the word codes, so bigram/trigram
    keys factorize through pandas' int64 hash table instead of building
    and hashing per-token join strings. N-gram strings are materialized
    only for the (far fewer) UNIQUE keys, where the crc32+searchsorted
    count lookups happen; the cascade then resolves with numpy masks.
    The only remaining per-token Python is the order-preserving logprob
    sum (the scalar path sums sequentially; numpy's pairwise sum would
    drift in the last ulp)."""
    ks, vs, total = _model_arrays(model if model is not None else build_model())

    tok_lists = [tokenize_fast(t) if t else [] for t in texts]

    words: list[str] = []
    lens = []
    for toks in tok_lists:
        lens.append(len(toks))
        if toks:
            words.extend(toks)
    N = len(words)
    if N == 0:
        return [float("inf")] * len(texts)

    # position classes from doc offsets (no per-token python). Marking
    # start+1 False is harmless for a length-1 doc: that position is the
    # next doc's start, which cls_ge1 already clears.
    starts = np.cumsum([0] + [n for n in lens if n][:-1])
    cls_ge1 = np.ones(N, dtype=bool)
    cls_ge1[starts] = False
    cls2 = cls_ge1.copy()
    second = starts + 1
    cls2[second[second < N]] = False

    w_arr = np.array(words, dtype=object)
    wcodes, wuniq = pd.factorize(w_arr)
    wcodes = wcodes.astype(np.int64, copy=False)
    nv = len(wuniq) + 1  # +1 for the sentinel code
    sent_code = nv - 1
    uniq_ext = np.append(wuniq, _SENT)

    # lagged context codes: p1 = previous word (sentinel at doc start),
    # p2 = word before that (sentinel at doc start and start+1)
    p1c = np.empty(N, dtype=np.int64)
    p1c[1:] = wcodes[:-1]
    p1c[starts] = sent_code
    p2c = np.empty(N, dtype=np.int64)
    p2c[2:] = wcodes[:-2]
    p2c[starts] = sent_code
    p2c[second[second < N]] = sent_code

    # unigrams of w (c1) and of p1 (order-2 denominator) share one vocab
    c_uni = _lookup(ks, vs, _crc_arr(uniq_ext))
    c1 = c_uni[wcodes]
    d2 = c_uni[p1c]

    # bigram (p1, w): int64 pair key; strings built per UNIQUE pair only.
    # NOTE: every unique key must be hashed and looked up — the count
    # table is keyed by crc32, and the scalar spec "finds" hash-colliding
    # entries too, so semantic pruning (skip n-grams with unseen parts)
    # would diverge from it on collisions.
    big_codes, big_keys = pd.factorize(p1c * nv + wcodes)
    big_uniq = np.array(
        [f"{a} {b}" for a, b in
         zip(uniq_ext[big_keys // nv], uniq_ext[big_keys % nv])],
        dtype=object,
    )
    c2 = _lookup(ks, vs, _crc_arr(big_uniq))[big_codes]

    # trigram (p2, p1, w) keyed as (p2, bigram-code); ctx = (p2, p1)
    nb = len(big_keys) + 1
    tri_codes, tri_keys = pd.factorize(p2c * nb + big_codes)
    tri_uniq = np.array(
        [f"{a} {b}" for a, b in
         zip(uniq_ext[tri_keys // nb], big_uniq[tri_keys % nb])],
        dtype=object,
    )
    ctx_codes, ctx_keys = pd.factorize(p2c * nv + p1c)
    ctx_uniq = np.array(
        [f"{a} {b}" for a, b in
         zip(uniq_ext[ctx_keys // nv], uniq_ext[ctx_keys % nv])],
        dtype=object,
    )
    c3 = _lookup(ks, vs, _crc_arr(tri_uniq))[tri_codes]
    d3 = _lookup(ks, vs, _crc_arr(ctx_uniq))[ctx_codes]

    # stupid-backoff cascade (same branch conditions as _word_logprob)
    use3 = cls2 & (c3 > 0) & (d3 > 0)
    use2 = ~use3 & cls_ge1 & (c2 > 0) & (d2 > 0)
    use1 = ~use3 & ~use2 & (c1 > 0)

    v = np.full(N, _LFLOOR, dtype=np.float64)
    if use3.any():
        v[use3] = _log_exact(c3[use3] / d3[use3])
    if use2.any():
        v[use2] = _log_exact(c2[use2] / d2[use2]) + _LB
    if use1.any():
        v[use1] = _log_exact(c1[use1] / total) + 2 * _LB

    vl = v.tolist()
    out = []
    pos = 0
    exp = math.exp
    for t, n in zip(texts, lens):
        if not t or n == 0:
            out.append(float("inf"))
            continue
        # builtin sum over a list slice adds left-to-right sequentially —
        # the same float op order as the scalar path's running total
        lp = sum(vl[pos:pos + n], 0.0)
        pos += n
        out.append(exp(-lp / n))
    return out
