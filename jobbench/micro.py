"""Single-thread direct calls of the fused model UDF and its four parts on
4096-row batches of a workload's corpus (docs per second each)."""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pandas as pd

BATCH = 4096
N_BATCHES = 4


def _rate(fn, batches, min_s: float) -> float:
    """Median docs/s over rounds of one call per batch."""
    rates, t_end = [], time.monotonic() + min_s
    while len(rates) < 3 or time.monotonic() < t_end:
        n, t0 = 0, time.perf_counter()
        for b in batches:
            fn(b)
            n += b["n"]
        rates.append(n / (time.perf_counter() - t0))
    return statistics.median(rates)


def model_rates(corpus_dir: str, dup_stale_path: str,
                min_s: float = 1.0) -> dict:
    import pyarrow.parquet as pq

    from dataquality_spark import pipeline
    from dataquality_spark.functions import langid, lm, scrub

    files = sorted(f for f in os.listdir(corpus_dir)
                   if f.endswith(".parquet"))
    t = pd.concat([pq.read_table(os.path.join(corpus_dir, f),
                                 columns=["text", "lang"]).to_pandas()
                   for f in files], ignore_index=True)
    t["dup_stale"] = np.load(dup_stale_path)
    batches = []
    for i in range(0, min(len(t), BATCH * N_BATCHES), BATCH):
        b = t.iloc[i:i + BATCH].reset_index(drop=True)
        stats = pipeline._batch_stats(b["text"])
        batches.append({"n": len(b), "text": b["text"], "lang": b["lang"],
                        "dup_stale": b["dup_stale"],
                        "ids": stats[7], "n_words": stats[0]})
    lm.get_model()
    langid.get_model()
    return {
        "models.udf_docs_per_s": _rate(
            lambda b: pipeline.models_udf.func(b["text"], b["lang"],
                                               b["dup_stale"]),
            batches, min_s),
        "models.stats_docs_per_s": _rate(
            lambda b: pipeline._batch_stats(b["text"]), batches, min_s),
        "models.langid_docs_per_s": _rate(
            lambda b: langid.score_texts(b["text"]), batches, min_s),
        "models.ppl_docs_per_s": _rate(
            lambda b: lm.perplexity_from_flat(b["ids"], b["n_words"]),
            batches, min_s),
        "models.scrub_docs_per_s": _rate(
            lambda b: scrub.scrub_series_sparse(b["text"]), batches, min_s),
    }
