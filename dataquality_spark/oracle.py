"""Pure-pandas oracle: golden keep/drop + scrubbed text (FIXTURES.md §2).

A single-process, Spark-free implementation of the exact rule semantics
the pipeline must reproduce. Heuristic rules are implemented here with
plain Python/pandas string ops — independently of the Arrow kernels in
the fused UDF (pipeline._batch_stats) — so the pipeline-vs-oracle tests
are non-circular. The model-based scores (language ID, perplexity) and
the regex scrub share their deterministic numpy/`re` cores with the
pipeline's pandas UDFs by design: byte-identical scrub output and exact
score equality are part of the contract (SURVEY.md §7-S0 risks 1-2).

Output columns (per url): keep, rule_hits (sorted by config.ALL_RULES
order), lang_pred, lang_score, ppl, text_scrubbed.
"""

from __future__ import annotations

import pandas as pd

from . import config as C
from .functions import langid, lm, scrub


def _heuristic_stats(text: str | None) -> dict:
    if text is None:
        return dict(n_words=0, mean_word_len=0.0, symbol_ratio=0.0,
                    stopword_count=0, stopword_frac=0.0, n_lines=0,
                    repeated_line_frac=0.0)
    words = [w for w in text.replace("\t", " ").replace("\r", " ")
             .replace("\n", " ").split(" ") if w]
    n = len(words)
    stopset = set(C.ALL_STOPWORDS)
    symset = set(C.SYMBOL_CHARS)
    n_sym = sum(1 for ch in text if ch in symset)
    n_stop = sum(1 for w in words if w.lower() in stopset)
    lines = [l for l in text.split("\n") if l != ""]
    n_lines = len(lines)
    n_dup_lines = n_lines - len(set(lines))
    return dict(
        n_words=n,
        mean_word_len=(sum(len(w) for w in words) / n) if n else 0.0,
        symbol_ratio=(n_sym / n) if n else 0.0,
        stopword_count=n_stop,
        stopword_frac=(n_stop / n) if n else 0.0,
        n_lines=n_lines,
        repeated_line_frac=(n_dup_lines / n_lines) if n_lines else 0.0,
    )


def run_oracle(pages: pd.DataFrame) -> pd.DataFrame:
    """Label a `pages` frame (url, warc_ts, html, text, lang → golden)."""
    df = pages.reset_index(drop=True)
    stats = pd.DataFrame([_heuristic_stats(t) for t in df["text"]])

    lang_pred, lang_score = langid.score_texts(df["text"])
    ppl_all = lm.perplexity(df["text"])
    scrubbed, _hits = scrub.scrub_series(df["text"])

    ts_min = pd.Timestamp(C.TS_MIN_ISO)

    # Corpus-level url dedup: the earliest (warc_ts, crc32(text)) VALUE
    # pair per url wins; strictly-greater pairs are duplicates (matches
    # the pipeline's value-based min-pair formulation — rows that tie
    # the minimum byte-for-byte are all kept). zlib.crc32 == Spark crc32
    # (same standard polynomial) so both sides rank identically.
    import zlib

    text_md5 = df["text"].map(
        lambda t: zlib.crc32((t or "").encode("utf-8")))
    order = pd.DataFrame({"url": df["url"], "warc_ts": df["warc_ts"],
                          "md5": text_md5})
    first = (order.sort_values(["url", "warc_ts", "md5"], kind="mergesort")
             .groupby("url").head(1)
             .rename(columns={"warc_ts": "_min_ts", "md5": "_min_md5"}))
    m = order.merge(first, on="url", how="left")
    is_dup = ((m["warc_ts"].to_numpy() > m["_min_ts"].to_numpy())
              | ((m["warc_ts"].to_numpy() == m["_min_ts"].to_numpy())
                 & (m["md5"].to_numpy() > m["_min_md5"].to_numpy())))

    rows = []
    for i in range(len(df)):
        s = stats.iloc[i]
        text = df["text"].iloc[i]
        hits = []
        if text is None or s["n_words"] == 0:
            hits.append(C.R_EMPTY)
        else:
            if s["n_words"] < C.MIN_WORDS:
                hits.append(C.R_SHORT)
            if s["n_words"] > C.MAX_WORDS:
                hits.append(C.R_LONG)
            if not (C.MIN_MEAN_WORD_LEN <= s["mean_word_len"]
                    <= C.MAX_MEAN_WORD_LEN):
                hits.append(C.R_MEAN_WORD_LEN)
            if s["symbol_ratio"] > C.MAX_SYMBOL_WORD_RATIO:
                hits.append(C.R_SYMBOL_RATIO)
            if (s["stopword_count"] < C.MIN_STOPWORD_COUNT
                    or s["stopword_frac"] < C.MIN_STOPWORD_FRACTION):
                hits.append(C.R_STOPWORD)
            if s["repeated_line_frac"] > C.MAX_REPEATED_LINE_FRACTION:
                hits.append(C.R_REPEATED_LINES)
        if is_dup[i]:
            hits.append(C.R_DUP_URL)
        declared = df["lang"].iloc[i]
        if (pd.notna(declared) and lang_pred[i] not in ("und", declared)
                and lang_score[i] >= C.LANGID_MIN_SCORE):
            hits.append(C.R_LANG_MISMATCH)
        if df["warc_ts"].iloc[i] < ts_min:
            hits.append(C.R_STALE)
        # Cheap-rules-first gating contract: perplexity is only evaluated on
        # docs that survived every cheaper rule (SURVEY.md §3 lifecycle).
        ppl = None
        if not hits:
            ppl = float(ppl_all[i])
            if ppl > C.MAX_PPL:
                hits.append(C.R_PPL)
        hits.sort(key=C.ALL_RULES.index)
        rows.append((df["url"].iloc[i], df["warc_ts"].iloc[i],
                     len(hits) == 0, hits,
                     str(lang_pred[i]), float(lang_score[i]), ppl,
                     scrubbed.iloc[i]))

    return pd.DataFrame(rows, columns=["url", "warc_ts", "keep", "rule_hits",
                                       "lang_pred", "lang_score", "ppl",
                                       "text_scrubbed"])
