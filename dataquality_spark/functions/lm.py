"""KenLM-style word-bigram perplexity (accuracy dimension).

A stupid-backoff (Brants et al. 2007) word-bigram language model with
add-k-smoothed unigrams, trained deterministically at first use from the
same seeded per-language token streams as the langid model and the
synthetic corpus. Scores are float64 log-space; perplexity is rounded to
SCORE_DECIMALS for cross-platform stability.

Reference ancestor: accuracy dimension,
/root/reference/DataQuality_AI_CaseStudy.md:129-132, per SURVEY.md §0.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from .. import config as C

_BACKOFF = 0.4
_ADD_K = 0.1
_TRAIN_TOKENS_PER_LANG = 40_000
_TRAIN_SEED_BASE = 2003

_MODEL: tuple[dict, np.ndarray, np.ndarray, np.ndarray, float] | None = None
# (vocab word->id, unigram counts, sorted bigram keys prev*V+wid,
#  bigram counts aligned to keys, total)


def _build_model():
    from .. import synth

    vocab: dict[str, int] = {}
    uni: list[int] = []
    bi: dict[tuple[int, int], int] = {}
    total = 0
    for li, lang in enumerate(C.LANGS):
        rng = np.random.default_rng(_TRAIN_SEED_BASE + li)
        tokens = synth.gen_tokens(lang, _TRAIN_TOKENS_PER_LANG, rng)
        prev = -1
        for w in tokens:
            wid = vocab.get(w)
            if wid is None:
                wid = len(vocab)
                vocab[w] = wid
                uni.append(0)
            uni[wid] += 1
            total += 1
            if prev >= 0:
                key = (prev, wid)
                bi[key] = bi.get(key, 0) + 1
            prev = wid
        # language streams are independent; reset context between them
    v = len(vocab)
    # flatten the bigram dict into sorted key/count arrays so scoring can
    # use vectorized np.searchsorted instead of per-token dict gets
    keys = np.fromiter(((p * v + w) for (p, w) in bi), dtype=np.int64,
                       count=len(bi))
    counts = np.fromiter(bi.values(), dtype=np.float64, count=len(bi))
    order = np.argsort(keys, kind="mergesort")
    return (vocab, np.asarray(uni, dtype=np.float64), keys[order],
            counts[order], float(total))


def _cache_path() -> str:
    """Param-hash cache filename in a per-user dir (see langid._cache_path
    — same rationale: no silent stale/tampered loads, no shared /tmp)."""
    import hashlib
    import os
    import tempfile

    key = repr((_BACKOFF, _ADD_K, _TRAIN_TOKENS_PER_LANG, _TRAIN_SEED_BASE,
                tuple(C.LANGS),
                tuple(tuple(C.CONTENT_WORDS[l]) for l in C.LANGS),
                tuple(tuple(C.STOPWORDS[l]) for l in C.LANGS)))
    h = hashlib.sha256(key.encode()).hexdigest()[:16]
    uid = os.getuid() if hasattr(os, "getuid") else 0
    return os.path.join(tempfile.gettempdir(),
                        f"dq_model_cache_{uid}", f"lm_{h}.npz")


_CACHE = _cache_path()


def get_model():
    """Module-cached model + best-effort shared on-disk cache (see
    langid.get_model — same atomic-publish pattern)."""
    global _MODEL
    if _MODEL is None:
        import os
        import tempfile
        try:
            z = np.load(_CACHE, allow_pickle=False)
            words = z["vocab_words"]
            vocab = {str(w): i for i, w in enumerate(words)}
            _MODEL = (vocab, z["uni"], z["bkeys"], z["bcounts"],
                      float(z["total"][0]))
        except (OSError, ValueError, KeyError):
            _MODEL = _build_model()
            vocab, uni, bkeys, bcounts, total = _MODEL
            try:
                os.makedirs(os.path.dirname(_CACHE), exist_ok=True)
                words = np.empty(len(vocab), dtype=object)
                for w, i in vocab.items():
                    words[i] = w
                fd, tmp = tempfile.mkstemp(dir=os.path.dirname(_CACHE),
                                           suffix=".npz")
                with os.fdopen(fd, "wb") as f:
                    np.savez(f, vocab_words=words.astype(str), uni=uni,
                             bkeys=bkeys, bcounts=bcounts,
                             total=np.array([total]))
                os.replace(tmp, _CACHE)
            except OSError:
                pass
    return _MODEL


def perplexity(texts: pd.Series) -> np.ndarray:
    """Word-bigram stupid-backoff perplexity per document (float64).

    Tokenization follows the engine-wide contract (split on ASCII
    whitespace). Empty/None text → NaN. Values rounded to SCORE_DECIMALS.
    This is the oracle's scoring path: it tokenizes each document with
    Python `tokenize`, independently of the fused UDF's Arrow word split,
    and both feed the same flat-stream scorer.
    """
    from . import tokenize

    get = get_model()[0].get
    ids: list[int] = []
    lens = np.zeros(len(texts), dtype=np.int64)
    for i, t in enumerate(texts.to_numpy(dtype=object)):
        if isinstance(t, str):
            words = tokenize(t)
            ids.extend(get(w, -1) for w in words)
            lens[i] = len(words)
    return perplexity_from_flat(np.asarray(ids, dtype=np.int64), lens)


def perplexity_from_flat(ids: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Score documents given as a PRE-FLATTENED token stream: `ids` is the
    concatenation of every document's vocab ids in order (zero-length
    documents contribute nothing and score NaN), `lens` the per-doc
    token counts. The fused pipeline UDF produces this layout directly
    from its Arrow word split, so no per-document id lists are built.

    Vectorized: bigram hits come from np.searchsorted on the sorted key
    array and per-document log-prob sums use np.add.reduceat. Scoring
    semantics (stupid backoff: bigram if seen, else backoff·unigram;
    OOV → backoff·add-k floor; no context after document start or an
    OOV) are unchanged from the per-token reference loop."""
    vocab, uni, bkeys, bcounts, total = get_model()
    v = len(vocab)
    denom = total + _ADD_K * (v + 1)
    log_uni = np.log((uni + _ADD_K) / denom)
    log_oov = math.log(_ADD_K / denom)
    log_backoff = math.log(_BACKOFF)

    n = len(lens)
    out = np.full(n, np.nan, dtype=np.float64)
    lens = np.asarray(lens, dtype=np.int64)
    nz = lens > 0
    if not nz.any():
        return out
    ids = np.asarray(ids, dtype=np.int64)

    prev = np.empty_like(ids)
    prev[0] = -2
    prev[1:] = ids[:-1]
    starts = np.zeros(int(nz.sum()), dtype=np.int64)
    np.cumsum(lens[nz][:-1], out=starts[1:])
    prev[starts] = -2  # document boundaries carry no context

    # Base = unigram score for every token (one gather), then PATCH the
    # exceptions on their index subsets — same formulas and float values
    # as the old 3-level np.where chain (IEEE adds commute exactly), but
    # ~4 passes over the token stream instead of ~10: on the shared-DRAM
    # host the where-chain was allocation/bandwidth bound, not compute.
    known = ids >= 0
    has_ctx = known & (prev >= 0)
    idx_ctx = np.flatnonzero(has_ctx)
    key = prev[idx_ctx] * v + ids[idx_ctx]    # ctx-token keys only
    pos_c = np.minimum(np.searchsorted(bkeys, key), len(bkeys) - 1)
    hit = bkeys[pos_c] == key

    lp = log_uni[np.maximum(ids, 0)]
    lp[~known] = log_backoff + log_oov
    lp[idx_ctx[~hit]] += log_backoff          # seen ctx, unseen bigram
    hit_idx = idx_ctx[hit]
    lp[hit_idx] = np.log(bcounts[pos_c[hit]] / uni[prev[hit_idx]])
    doc_lp = np.add.reduceat(lp, starts)
    ppl = np.exp(-doc_lp / lens[nz])
    out[nz] = np.round(ppl, C.SCORE_DECIMALS)
    return out
