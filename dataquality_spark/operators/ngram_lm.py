"""Corpus-trained bigram language model: count → prune → score.

The engine's perplexity rule (functions/lm.py) scores against a model
built from the synthetic token streams; real webtext pipelines train
their filtering LM on an in-domain corpus instead — CCNet (Wenzek et
al. 2020) trains a KenLM n-gram model on Wikipedia and buckets Common
Crawl by its perplexity; Gopher and LLaMA reuse the same recipe. This
module is that training step as DataFrame transforms: count bigrams
over a training corpus, prune, turn counts into log-probability
weights on an integer lattice, and score any corpus against the
trained table — every output column exactly reproducible in ANSI SQL
(the contract query `lm_train_score` carries a full DuckDB oracle).

Reference ancestor: the accuracy/validity pillars of
/root/reference/DataQuality_AI_CaseStudy.md:125-140 score conformance
against expectations learned from the data itself; the corpus-trained
LM is that idea applied to text likelihood (SURVEY.md §0 graft).

100-TB shape:
* Pair counting explodes bigram STRINGS, then hash-aggregates — Spark
  runs a partial (map-side) HashAggregate before the exchange, so the
  shuffle carries one row per DISTINCT bigram per input partition,
  not one per occurrence; `min_count` pruning then bounds the model.
* Everything after the count is MODEL-sized, not corpus-sized: the
  context sums, the vocabulary count, and the per-row `ln` all run
  over the pruned count table.
* Scoring joins occurrences to the weight table: broadcast when the
  pruned model fits (the common case — a min_count=2 bigram table is
  millions of rows, not billions), hash join on the gram key
  otherwise. The per-document sum is BIGINT addition of lattice
  weights — order-free, so scores are bit-identical under any
  partitioning (same contract as dsir_importance / the cents
  lattices).
* Tokens come from the contract tokenizer (ASCII-whitespace split,
  empties dropped), so a token can never contain a space and the
  bigram string "w1 w2" is losslessly split back with split_part —
  the property the DuckDB twin relies on.

Exactness assumption: the lattice weight floor(scale * (ln(pair_n) -
ln(ctx_n))) is exact only while the JVM's Math.log and DuckDB's libm
`ln` return the same double. A value whose scaled log lands within one
ULP of an integer would floor differently on the two engines if they
disagreed in the last bit; no such case occurs on the contract corpus,
but a new platform or libm could show one (same exposure as
curation.dsir_importance).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import track_persist as _track_persist
from ..caching import unpersist_all  # noqa: F401  (re-export, bench hook)

DEFAULT_SCALE = 1_000_000


def _bigram_strings(text_col: str):
    """Array of "w1 w2" bigram strings over the contract tokenizer;
    empty array for docs with < 2 tokens."""
    from .text_analysis import _words

    words = _words(F.col(text_col))
    m = F.size(words) - 1
    return F.when(m > 0, F.transform(
        F.sequence(F.lit(1), F.greatest(m, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(words, i, 2))
    )).otherwise(F.array().cast("array<string>"))


def train_bigram_lm(corpus: DataFrame, text_col: str = "text",
                    min_count: int = 1,
                    scale: int = DEFAULT_SCALE) -> DataFrame:
    """Bigram count model: (w1, w2, pair_n, ctx_n, p_q).

    pair_n  = corpus occurrences of the bigram (w1, w2), kept only
              when >= min_count (KenLM-style count pruning; the prune
              is what bounds the model at crawl scale).
    ctx_n   = sum of pair_n over the RETAINED rows sharing w1, so
              conditional probabilities sum to 1 over the retained
              successors — the model is self-consistent after
              pruning by construction.
    p_q     = (pair_n * scale) DIV ctx_n — the conditional MLE
              probability on a 1/scale integer lattice, exact BIGINT
              arithmetic (no float division anywhere).
    """
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1: {min_count}")
    pairs = corpus.select(
        F.explode(_bigram_strings(text_col)).alias("_f"))
    # persist: the pruned count table feeds BOTH the output rows and the
    # ctx aggregate — without it Spark re-scans the corpus and re-explodes
    # every gram for the second branch (plan-verified). Model-sized
    # (post-prune), released via the shared unpersist_all() lifecycle
    # like the dedup pair operators' signature tables.
    counts = _track_persist(
        pairs.groupBy("_f")
        .agg(F.count(F.lit(1)).cast("long").alias("pair_n"))
        .where(F.col("pair_n") >= min_count)
        .select(F.split_part(F.col("_f"), F.lit(" "), F.lit(1))
                .alias("w1"),
                F.split_part(F.col("_f"), F.lit(" "), F.lit(2))
                .alias("w2"),
                "pair_n"))
    ctx = counts.groupBy("w1").agg(F.sum("pair_n").alias("ctx_n"))
    return (counts.join(ctx, "w1")
            .select("w1", "w2", "pair_n", F.col("ctx_n").cast("long")
                    .alias("ctx_n"),
                    F.expr(f"pair_n * CAST({int(scale)} AS BIGINT) "
                           "DIV ctx_n").alias("p_q")))


def bigram_logprob_weights(model: DataFrame,
                           scale: int = DEFAULT_SCALE) -> DataFrame:
    """(w1, w2, lp_q): lp_q = floor(scale * ln(pair_n / ctx_n)) — the
    log-probability lattice weight per retained bigram. The only float
    op in the whole path is this per-MODEL-row ln, computed once (the
    dsir_importance precedent); document scores downstream are pure
    BIGINT sums of these weights."""
    return model.select(
        "w1", "w2",
        F.floor(F.lit(int(scale))
                * (F.log("pair_n") - F.log("ctx_n")))
        .cast("long").alias("lp_q"))


def _oov_weight(model: DataFrame, scale: int):
    """One-row frame: lp_oov_q = floor(scale * -ln(V + 1)) with V the
    distinct-token count of the model vocabulary (w1 ∪ w2) — the
    uniform-over-vocab escape mass for unseen bigrams. Empty model →
    V = 0 → lp_oov_q = 0 (all-OOV corpora score 0 loudly rather than
    NULL silently)."""
    vocab = (model.select(F.col("w1").alias("t"))
             .union(model.select(F.col("w2").alias("t")))
             .distinct())
    return (vocab.agg(F.count(F.lit(1)).alias("_V"))
            .select(F.floor(F.lit(int(scale))
                            * -F.log(F.col("_V") + 1))
                    .cast("long").alias("lp_oov_q")))


def score_bigram_lm(docs: DataFrame, model: DataFrame,
                    text_col: str = "text", id_col: str = "doc_id",
                    scale: int = DEFAULT_SCALE,
                    broadcast_model: bool = True) -> DataFrame:
    """Score every document against a trained bigram model:
    (id_col, n_bigrams, n_oov, lm_score_q).

    lm_score_q = Σ over the document's bigram OCCURRENCES of the
    model's lp_q, with unseen bigrams contributing the uniform OOV
    weight — i.e. scale × the document log-likelihood under the
    pruned model, on the lattice. Higher (closer to 0) = more
    model-like; feed into quantile_buckets for the CCNet
    head/middle/tail split. Documents with < 2 tokens score 0 with
    n_bigrams = 0 by convention (no evidence either way).

    `broadcast_model=False` for models too large to broadcast — the
    join degrades to a hash join on the gram key, still
    occurrence×1-row-sized, never corpus-text-sized.
    """
    wts = bigram_logprob_weights(model, scale)
    if broadcast_model:
        wts = F.broadcast(wts)
    oov = F.broadcast(_oov_weight(model, scale))
    occ = (docs.select(F.col(id_col),
                       F.explode(_bigram_strings(text_col)).alias("_f"))
           .select(id_col,
                   F.split_part(F.col("_f"), F.lit(" "), F.lit(1))
                   .alias("w1"),
                   F.split_part(F.col("_f"), F.lit(" "), F.lit(2))
                   .alias("w2")))
    scored = (occ.join(wts, ["w1", "w2"], "left")
              .crossJoin(oov)
              .groupBy(id_col)
              .agg(F.count(F.lit(1)).cast("long").alias("n_bigrams"),
                   F.sum(F.when(F.col("lp_q").isNull(), 1)
                         .otherwise(0)).cast("long").alias("n_oov"),
                   F.sum(F.coalesce("lp_q", "lp_oov_q")).cast("long")
                   .alias("lm_score_q")))
    return (docs.select(id_col).join(scored, id_col, "left")
            .select(id_col,
                    F.coalesce("n_bigrams", F.lit(0)).cast("long")
                    .alias("n_bigrams"),
                    F.coalesce("n_oov", F.lit(0)).cast("long")
                    .alias("n_oov"),
                    F.coalesce("lm_score_q", F.lit(0)).cast("long")
                    .alias("lm_score_q")))
