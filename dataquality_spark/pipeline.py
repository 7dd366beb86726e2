"""The keep/drop decision pipeline — DataFrame-first, zero driver loops.

Stage order (cheap → expensive, SURVEY.md §3 lifecycle equivalent):

  S1 url dedup           slim aggregate: min (warc_ts, crc32) pair per url
                         — only key columns shuffle, never the text; the
                         flag join back is AQE-broadcast at bench scale
  S2 timeliness          partition-prunable timestamp predicate
  S3-S6 models (FUSED)   ONE Arrow-batched pandas UDF: Gopher/C4
                         heuristic stats (shared single token pass) →
                         language ID (hashed char-trigram model) →
                         perplexity GATED on survivors of every cheaper
                         rule so the LM never scores already-dropped
                         docs → compiled-regex scrub with sparse
                         (changed-only) text return. Fused on purpose:
                         chained pandas UDFs each add a concurrent
                         python worker per task and an Arrow transfer
                         of the text column, and every JVM stats
                         formulation is an extra pass over text bytes.
  S7 decision            CASE-style rule_hits array + keep boolean
                         assembled JVM-side from returned stat scalars

Reference ancestry per SURVEY.md §0/§2: heuristics = validity/completeness
(CaseStudy.md:108-142, CASE-WHEN conditional aggregates B8), dedup =
uniqueness (CaseStudy.md:144-147, COUNT(DISTINCT) B10), langid =
consistency (CaseStudy.md:134-137), perplexity = accuracy
(CaseStudy.md:129-132), scrub = safety regex layer
(unity_sql_agent.py:127-159), decision = CASE categorizer B22
(CaseStudy.md:966-970).

Scale notes: the per-doc path has exactly ONE shuffle, and it carries
only (url, warc_ts, crc32) — the document text never shuffles and crosses
into Python exactly once. `html` is never read unless text extraction
is requested — column pruning reaches the parquet/Iceberg scan. There
is one implementation per stage: the per-doc stats exist only inside the
fused UDF, and the pandas oracle (oracle.py) re-derives them
independently.
"""

from __future__ import annotations

import re as _re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (DoubleType, IntegerType, LongType, StringType,
                               StructField, StructType)

from . import config as C

# Frozen lowercase stopword set for the fused UDF's counting pass.
_STOPSET = frozenset(C.ALL_STOPWORDS)

# Explicit DataType return types (DDL strings would need a live session at
# import time).
_LANGID_T = StructType([StructField("lang_pred", StringType()),
                        StructField("lang_score", DoubleType())])
_SCRUB_T = StructType([StructField("text_scrubbed", StringType()),
                       StructField("pii_email", IntegerType()),
                       StructField("pii_phone", IntegerType()),
                       StructField("pii_ipv4", IntegerType()),
                       StructField("pii_toxicity", IntegerType())])
_MODELS_T = StructType(
    _LANGID_T.fields + [StructField("ppl", DoubleType())] + _SCRUB_T.fields
    + [StructField("n_words", LongType()),
       StructField("mean_word_len", DoubleType()),
       StructField("symbol_ratio", DoubleType()),
       StructField("stopword_count", LongType()),
       StructField("stopword_frac", DoubleType()),
       StructField("n_lines", LongType()),
       StructField("repeated_line_frac", DoubleType())])

# Symbol class for the per-doc stats (counted batch-wide with one RE2
# class pass in _batch_stats). Whitespace is normalized to ' ' before
# the word split, so no separate ws class is needed.
_SYM_CHARS = C.SYMBOL_CHARS

# ---------------------------------------------------------------------------
# Pandas UDFs (Arrow-batched; models rebuilt lazily per executor —
# deterministic, so no closure shipping / broadcast needed).
# ---------------------------------------------------------------------------


def _batch_stats(text: pd.Series):
    """Per-document Gopher/C4 statistics + flat LM token-id stream for
    one Arrow batch — fully vectorized, no per-word or per-doc Python.

    Replaces the former per-doc word loop (round-2's largest CPU sink)
    with Arrow C++ kernels on the batch's buffers: whitespace
    normalization (one RE2 class replace), one literal split, codepoint
    and separator counts, then ONE dictionary_encode so the only Python
    that runs per TEXT is a loop over the batch's DISTINCT words
    (stopword membership via Python str.lower + LM vocab lookup —
    preserving the exact tokenize/lower contract the pandas oracle
    implements independently). Line stats use the same trick with a
    (doc, line-code) np.unique for per-doc distinct counts.

    Semantics are byte-identical to the loop it replaces: words =
    maximal runs of non-' \\n\\t\\r' chars (functions.tokenize);
    mean_word_len = (len(t) − #ws)/n_words over codepoints; symbols
    counted over the raw text; non-str/None/'' docs contribute zeros.

    Returns (n_words, mean_word_len, symbol_ratio, stopword_count,
    stopword_frac, n_lines, repeated_line_frac, ids_flat) where
    ids_flat is the concatenation of every doc's LM vocab ids in order
    (consume with lm.perplexity_from_flat)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from .functions import lm

    n = len(text)
    if n == 0:
        z = np.zeros(0, dtype=np.int64)
        zf = np.zeros(0, dtype=np.float64)
        return z, zf, zf, z, zf, z, zf, z

    vocab_get = lm.get_model()[0].get
    arr = pa.Array.from_pandas(text)
    if not (pa.types.is_string(arr.type) or pa.types.is_large_string(arr.type)):
        # mixed/object input: non-strings count as empty docs, matching
        # the old loop's isinstance guard
        arr = pa.array([t if isinstance(t, str) else None for t in text],
                       type=pa.string())
    arr = pc.fill_null(arr, "")

    n_chars = pc.utf8_length(arr).to_numpy().astype(np.int64)
    t2 = pc.replace_substring_regex(arr, pattern="[\n\t\r]",
                                    replacement=" ")
    n_ws = pc.count_substring(t2, " ").to_numpy().astype(np.int64)
    # one RE2 class pass beats 12 per-char scans ~10× (verified equal)
    n_sym = pc.count_substring_regex(
        t2, "[" + _re.escape(_SYM_CHARS) + "]").to_numpy().astype(np.int64)

    words = pc.split_pattern(t2, pattern=" ")       # keeps empty pieces
    offsets = words.offsets.to_numpy().astype(np.int64)
    flat = words.flatten()
    ne = pc.not_equal(flat, "").to_numpy(zero_copy_only=False)
    n_words = np.add.reduceat(ne.astype(np.int64), offsets[:-1])

    dct = pc.dictionary_encode(flat)
    codes = dct.indices.to_numpy()        # int32 zero-copy; fine to index
    uniques = dct.dictionary.to_pylist()
    stop_u = np.fromiter((u.lower() in _STOPSET for u in uniques),
                         dtype=bool, count=len(uniques))
    vocab_u = np.fromiter((vocab_get(u, -1) for u in uniques),
                          dtype=np.int64, count=len(uniques))
    sw_count = np.add.reduceat((stop_u[codes] & ne).astype(np.int64),
                               offsets[:-1])
    ids_flat = vocab_u[codes][ne]

    lines = pc.split_pattern(arr, pattern="\n")
    loff = lines.offsets.to_numpy().astype(np.int64)
    lflat = lines.flatten()
    lne = pc.not_equal(lflat, "").to_numpy(zero_copy_only=False)
    n_lines = np.add.reduceat(lne.astype(np.int64), loff[:-1])
    ldct = pc.dictionary_encode(lflat)
    lcodes = ldct.indices.to_numpy().astype(np.int64)
    nu = max(len(ldct.dictionary), 1)
    doc_idx = np.repeat(np.arange(n, dtype=np.int64), np.diff(loff))
    comb = doc_idx[lne] * np.int64(nu) + lcodes[lne]
    nl_d = np.bincount(np.unique(comb) // nu, minlength=n)

    nwd = np.maximum(n_words, 1).astype(np.float64)
    nw_pos = n_words > 0
    mean_wl = np.where(nw_pos, (n_chars - n_ws) / nwd, 0.0)
    sym_ratio = np.where(nw_pos, n_sym / nwd, 0.0)
    sw_frac = np.where(nw_pos, sw_count / nwd, 0.0)
    nld = np.maximum(n_lines, 1).astype(np.float64)
    rep_frac = np.where(n_lines > 0, (n_lines - nl_d) / nld, 0.0)
    return (n_words, mean_wl, sym_ratio, sw_count, sw_frac, n_lines,
            rep_frac, ids_flat)


@pandas_udf(_MODELS_T)
def models_udf(text: pd.Series, lang: pd.Series,
               dup_or_stale: pd.Series) -> pd.DataFrame:
    """Fused model stage: heuristic stats → langid → (gated)
    perplexity → scrub in ONE Arrow round-trip.

    Running these as separate pandas UDFs puts chained ArrowEvalPython
    nodes in the stage, i.e. several concurrent Python workers PER TASK
    — measured 10-50× worker-time inflation at 32 task slots from pure
    process thrash, plus repeated Arrow transfers of the text column.
    Fused: one worker per task, one transfer, and the cheap-rules-first
    gate (perplexity only for docs that passed every cheaper rule) is a
    numpy mask instead of a plan dependency.

    ALL per-doc text statistics live HERE rather than as JVM
    expressions: every JVM formulation (split arrays, regexp_count,
    translate) is another full pass over the text bytes, and those
    passes were the non-scaling cost at high parallelism — the text is
    already paid for by the langid/scrub Arrow transfer. Round 3
    removed the remaining per-word Python: stats run as Arrow C++
    kernels + one dictionary_encode (_batch_stats), the LM consumes the
    flat token-id stream (lm.perplexity_from_flat), langid hashes the
    whole batch in chunked uint32 (langid.score_texts), and scrub
    prescreens with batch regex matches — all byte-identical to the
    round-2 loop (pinned by the oracle identity tests) at ~1.3× its
    single-thread throughput.

    `dup_or_stale` carries the only JVM-computed drop votes (corpus
    dedup flag, timeliness). Gate = all heuristics passed & not dup or
    stale & not lang-mismatch — the exact oracle staging (oracle.py
    evaluates the same predicate order).
    """
    from .functions import langid, lm, scrub

    n = len(text)
    (n_words, mean_wl, sym_ratio, sw_count, sw_frac, n_lines, rep_frac,
     ids_flat) = _batch_stats(text)
    nw_pos = n_words > 0

    heur_fail = (
        ~nw_pos
        | (nw_pos & ((n_words < C.MIN_WORDS) | (n_words > C.MAX_WORDS)))
        | (nw_pos & ((mean_wl < C.MIN_MEAN_WORD_LEN)
                     | (mean_wl > C.MAX_MEAN_WORD_LEN)))
        | (nw_pos & (sym_ratio > C.MAX_SYMBOL_WORD_RATIO))
        | (nw_pos & ((sw_count < C.MIN_STOPWORD_COUNT)
                     | (sw_frac < C.MIN_STOPWORD_FRACTION)))
        | (nw_pos & (rep_frac > C.MAX_REPEATED_LINE_FRACTION)))

    pred, score = langid.score_texts(text)
    lang_arr = lang.to_numpy(dtype=object)
    known = np.array([isinstance(l, str) for l in lang_arr])
    mismatch = ((pred != "und") & known
                & (pred != lang_arr) & (score >= C.LANGID_MIN_SCORE))
    dup_stale = dup_or_stale.fillna(False).to_numpy(dtype=bool)
    gate = ~dup_stale & ~heur_fail & ~mismatch

    ppl = np.full(n, np.nan)
    if gate.any():
        # select the gated docs' token runs straight out of the flat id
        # stream (no per-doc lists anywhere on this path)
        doc_of_word = np.repeat(np.arange(n), n_words)
        ppl[gate] = lm.perplexity_from_flat(
            ids_flat[gate[doc_of_word]], n_words[gate])
    ppl_out = pd.array(ppl, dtype="Float64")
    ppl_out[~gate | np.isnan(ppl)] = pd.NA

    # sparse scrub: None = unchanged; the JVM coalesces back to the input
    # text column, so unmodified docs never travel back through Arrow
    scrubbed, hits = scrub.scrub_series_sparse(text)
    return pd.DataFrame({
        "lang_pred": pred,
        "lang_score": score,
        "ppl": pd.Series(ppl_out, index=text.index),
        "text_scrubbed": scrubbed,
        "pii_email": hits.map(lambda h: h.get("email", 0)).astype("int32"),
        "pii_phone": hits.map(lambda h: h.get("phone", 0)).astype("int32"),
        "pii_ipv4": hits.map(lambda h: h.get("ipv4", 0)).astype("int32"),
        "pii_toxicity": hits.map(lambda h: h.get("toxicity", 0)).astype("int32"),
        "n_words": n_words,
        "mean_word_len": mean_wl,
        "symbol_ratio": sym_ratio,
        "stopword_count": sw_count,
        "stopword_frac": sw_frac,
        "n_lines": n_lines,
        "repeated_line_frac": rep_frac,
    })


@pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """Strip the trivial `<html><body>…</body></html>` wrapper.

    Byte-identity contract (BASELINE.json input_hint): for corpus rows the
    extracted text equals the `text` column exactly. Real-world HTML
    extraction would slot in here; the wrapper strip keeps the Spark-side
    plumbing (binary column → Arrow → string) real and tested.

    Why a Python UDF and not one JVM expression: extraction decodes
    invalid UTF-8 with Python's `errors="replace"`, and no Spark 4.1
    expression reproduces it byte for byte. On the bytes
    61 C3 28 62 F0 9F 98 62 ED A0 80 63:
      decode(h, 'UTF-8')  raises MALFORMED_CHARACTER_CODING
      cast(h AS string)   'a\\ufffd(b\\ufffdb\\ufffdc'   (one U+FFFD per run)
      Python "replace"    'a\\ufffd(b\\ufffdb\\ufffd\\ufffd\\ufffdc'
    Python emits one U+FFFD per maximal invalid subpart (a surrogate
    encoding ED A0 80 gives three); the JVM cast collapses them.
    tests/test_pipeline_vs_oracle.py::test_html_extraction_byte_identity
    pins the Python semantics end to end.
    """
    import re as _re

    pat = _re.compile(rb"^<html><body>(.*)</body></html>$", _re.DOTALL)

    def _one(b):
        if b is None:
            return None
        m = pat.match(bytes(b))
        return (m.group(1) if m else bytes(b)).decode("utf-8", errors="replace")

    return html.map(_one)


# ---------------------------------------------------------------------------
# Pipeline assembly
# ---------------------------------------------------------------------------

PAGES_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]


def assert_schema(df: DataFrame) -> DataFrame:
    """Fail fast if the input shape drifts (reference A11/A12 analog:
    unity_sql_agent.py:421-450 schema gate + :452-513 column validator)."""
    missing = [c for c in PAGES_COLUMNS if c not in df.columns]
    if missing:
        raise ValueError(f"pages input is missing columns: {missing}")
    return df


def _rule_entry(cond: Column, rule_id: str) -> Column:
    return F.when(cond, F.lit(rule_id))


def _dup_hash(precomputed: bool = False) -> Column:
    """CRC-32 of the text bytes as the dedup content identity — the same
    standard algorithm as Python's zlib.crc32, so the pandas oracle
    computes bit-identical values, at ~5x the throughput of md5 (the
    hash runs over every text byte in two plan branches).

    `precomputed=True` reads the ingest-materialized C.FINGERPRINT_COL
    instead of hashing text — same value by the writer contract
    (with_dup_fingerprint), so results are identical; only the scan
    shape changes (the flags branch stops re-reading the text column).
    """
    if precomputed:
        return F.col(C.FINGERPRINT_COL).cast("long")
    return F.crc32(F.coalesce(F.col("text"), F.lit("")).cast("binary"))


# Pack base: 2000-01-01T00:00:00Z. Subtracting it centers the 31-bit
# seconds field on the WARC era, so the packed BIGINT is exact for any
# warc_ts in [1932, 2068) — Common Crawl starts in 2008.
_PACK_EPOCH_BASE = 946684800


def _dup_pair(precomputed: bool = False) -> Column:
    """(warc_ts, crc32) packed into ONE BIGINT:

        ((epoch_seconds - 2000-01-01) << 32) + crc32

    Lexicographic (ts, crc) order == numeric order of the pack, because
    the crc occupies exactly the low 32 bits (crc32 ∈ [0, 2^32)) and the
    seconds field fits the high 31 bits + sign for any timestamp within
    ±68 years of 2000 (signed shift keeps pre-2000 ordering correct).

    Why a BIGINT and not struct(ts, crc): Catalyst's min(struct) is not
    hash-aggregable — the dedup_flags groupBy planned a SortAggregate,
    which sorts every (url, pair) row per partition and was the measured
    16→32-core scaling bottleneck of the full pipeline (131k→114k docs/s
    regression in BENCH/scaling_r03.json). min(BIGINT) is a mutable
    hash-agg buffer type, so the same aggregate now runs as a
    HashAggregate with map-side partial combine and no sort.

    Resolution contract: second granularity — exactly WARC-Date's
    resolution (WARC/1.0 §5.4, ISO-8601 whole seconds), so no ordering
    information is lost on Common-Crawl-shaped inputs; the session pins
    spark.sql.session.timeZone=UTC so unix_timestamp is deterministic.
    warc_ts is NOT NULL per the pages schema (sources/iceberg_spec.py).
    """
    sec = F.unix_timestamp(F.col("warc_ts")) - F.lit(_PACK_EPOCH_BASE)
    return F.shiftleft(sec, 32) + _dup_hash(precomputed)


def with_dup_fingerprint(pages: DataFrame) -> DataFrame:
    """Materialize the dedup content fingerprint (C.FINGERPRINT_COL =
    crc32 of the UTF-8 text bytes, NULL text as '') for ingest writers.

    Adding this column at WRITE time makes every later dedup_flags pass
    read a slim (url, warc_ts, crc32) projection — ~20 B/row — instead
    of re-scanning the corpus' dominant text column (~40× less I/O for
    the second pass at Common-Crawl text sizes). dedup_flags and
    with_decisions pick the column up automatically when present; the
    value contract is exactly _dup_hash, so keep/drop decisions are
    bit-identical either way (pinned by test_pipeline identity test).
    """
    return pages.withColumn(C.FINGERPRINT_COL, _dup_hash())


def dedup_flags(full_pages: DataFrame) -> DataFrame:
    """Corpus-wide url-dedup reference: (url, _min_pair) for urls that
    occur MORE THAN ONCE.

    The earliest (warc_ts, crc32(text)) pair per url wins; any row whose
    pair compares strictly greater is a duplicate. Value-based (not
    positional) on purpose: the flag frame is slim (url, packed-BIGINT)
    aggregates — the document text never enters the dedup shuffle, and
    min(BIGINT) plans as a HashAggregate with map-side partial combine
    (see _dup_pair for why not min(struct)).

    Scan-cost note: this branch re-reads (url, warc_ts, text) from
    parquet to compute the crc — at 100 TB that is a second columnar
    read of the dominant text column. That is deliberate: the
    alternative (one scan, window-min over url) would SHUFFLE every
    text row by url — write + read + sort of the corpus' dominant
    column — whereas the extra read is sequential, pruned to three
    columns, and feeds a slim aggregate whose shuffle is ~25 B/doc
    (BENCH/isolation_r03.json traffic accounting). When the input
    carries the ingest-materialized C.FINGERPRINT_COL
    (with_dup_fingerprint), the re-read drops the text column entirely
    and this branch scans ~20 B/row — hash once at write, dedup many
    times for free.

    Restricting to count > 1 is semantics-free (a unique url's pair IS
    its own minimum, left-join miss ⇒ not-dup) and is the scale lever:
    the join side shrinks from |distinct urls| to |duplicated urls|, so
    AQE broadcasts it at bench scale and the corpus side never
    shuffles or sorts — measured 2× full-pipeline throughput vs the
    all-urls flag frame, whose 10MB+ size forced a sort-merge join that
    shuffled AND sorted every text row. At 10^12 docs with a large dup
    population it degrades gracefully to the same sort-merge join, and
    the Iceberg url-bucketed layout (sources/iceberg_spec.py) makes
    even that storage-partitioned. Kept separate from with_decisions so
    a RESUMED run can rank against the FULL corpus while only
    processing the remaining partitions.
    """
    pre = C.FINGERPRINT_COL in full_pages.columns
    return (full_pages
            .select("url", _dup_pair(pre).alias("_pair"))
            .groupBy("url").agg(F.min("_pair").alias("_min_pair"),
                                F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > 1).drop("_n"))


def with_decisions(pages: DataFrame, extract_from_html: bool = False,
                   salt_repartition: int | None = None,
                   dedup_scope: DataFrame | None = None) -> DataFrame:
    """Full per-document decision pipeline.

    Input: `pages` with (url, warc_ts, html, text, lang).
    Output adds: host, partition_id, the heuristic stat columns, lang_pred,
    lang_score, ppl, text_scrubbed, pii_* counts, rule_hits, keep.

    `dedup_scope`: pass the FULL pages frame when `pages` is a subset
    (resume); url-dedup ranks are then computed corpus-wide and joined in.
    """
    df = assert_schema(pages)
    if extract_from_html:
        df = df.withColumn("text", F.coalesce(
            F.col("text"), extract_text_udf(F.col("html"))))
    # Column pruning: html is not needed downstream.
    df = df.select([c for c in df.columns if c != "html"])

    df = df.select(
        "*",
        F.parse_url(F.col("url"), F.lit("HOST")).alias("host"),
        F.date_format("warc_ts", "yyyy-MM").alias(C.PARTITION_COL),
    )

    if salt_repartition:
        # Skewed-host mitigation: explicit salted repartition so one hot
        # host cannot pin a single task (north_star requirement).
        df = df.withColumn("_salt", F.pmod(F.xxhash64("url"),
                                           F.lit(C.SALT_BUCKETS)))
        df = df.repartition(salt_repartition, "host", "_salt").drop("_salt")

    # S1 note: ALL per-doc text stats come back from the fused UDF —
    # any JVM formulation is an extra pass over the text bytes.

    # S2: corpus-level url dedup — earliest (warc_ts, crc32) pair per url
    # wins. The aggregate sees only slim key columns; text stays put.
    # Runtime-adaptive join strategy: AQE cannot see through the
    # count>1 filter's selectivity at the stage boundary, so left
    # alone it sort-merge-joins — shuffling AND sorting every text
    # row by url (measured ~half the pipeline wall time). Persist
    # the slim flags, force them once with a count (no extra text
    # scan — the join would have computed this branch anyway), and
    # broadcast-hint when the dup-url set is small (the common
    # crawl case). Past the threshold it degrades to the same
    # shuffle join AQE would pick; caller releases the cache via
    # caching.unpersist_all().
    from .caching import track_persist

    flags = track_persist(
        dedup_flags(dedup_scope if dedup_scope is not None else df))
    n_flag_urls = flags.count()
    fj = (F.broadcast(flags)
          if n_flag_urls <= C.BROADCAST_FLAGS_MAX_ROWS else flags)
    pre = C.FINGERPRINT_COL in df.columns
    df = (df.join(fj, "url", "left")
            .withColumn("is_dup_url",
                        F.coalesce(_dup_pair(pre) > F.col("_min_pair"),
                                   F.lit(False)))
            .drop("_min_pair", C.FINGERPRINT_COL))

    # S3: heuristic/dup/staleness rule booleans (pure Catalyst; exact
    # oracle semantics — empty text suppresses the other heuristics).
    # Language-mismatch is NOT here: it needs the langid output and is
    # evaluated both inside the fused UDF (for the perplexity gate) and
    # as a JVM expression afterwards (for rule assembly) — identical
    # float comparisons, so the two agree bit-for-bit.
    stale_cond = F.col("warc_ts") < F.lit(C.TS_MIN_ISO)
    dup_or_stale = (F.coalesce(F.col("is_dup_url"), F.lit(False))
                    | F.coalesce(stale_cond, F.lit(False)))

    # S4-S6 fused: heuristic stats → langid → gated perplexity → scrub
    # in ONE Arrow node (one python worker per task, one text transfer).
    df = df.withColumn("_m", models_udf(F.col("text"), F.col("lang"),
                                        dup_or_stale))
    df = df.select("*", *[
        (F.coalesce(F.col("_m.text_scrubbed"), F.col("text"))
         .alias("text_scrubbed") if f.name == "text_scrubbed"
         else F.col(f"_m.{f.name}").alias(f.name))
        for f in _MODELS_T.fields]).drop("_m")

    # S7: decision (assemble_rules, split out so exact-oracle twins can
    # replay the IDENTICAL assembly over fixed-lattice model columns).
    return assemble_rules(df)


def assemble_rules(df: DataFrame) -> DataFrame:
    """S7: rule_hits + keep assembled from stat/model columns.

    rule_hits keeps config.ALL_RULES order. The perplexity gate implies
    every cheaper rule passed whenever ppl is non-null, so a ppl hit
    always yields exactly [R_PPL]. The stopword/repeated-line conditions
    recompute the SAME comparisons the UDF used for its gate from the
    returned stat columns — identical floats, identical truth.

    Split out of with_decisions so the assembly expressions themselves
    are a testable unit: q_webtext_decisions_fixed replays this exact
    code over SQL-derivable fixed-lattice model columns, giving the
    end-to-end keep/rule_hits row a hard DuckDB oracle. Expects columns:
    n_words, mean_word_len, symbol_ratio, stopword_count, stopword_frac,
    repeated_line_frac, is_dup_url, warc_ts, lang, lang_pred,
    lang_score, ppl."""
    stale_cond = F.col("warc_ts") < F.lit(C.TS_MIN_ISO)
    has_text = F.col("n_words") > 0
    mismatch = ((F.col("lang_pred") != F.lit("und"))
                & (F.col("lang_pred") != F.col("lang"))
                & (F.col("lang_score") >= C.LANGID_MIN_SCORE))
    ordered = [
        (C.R_EMPTY, ~has_text),
        (C.R_SHORT, has_text & (F.col("n_words") < C.MIN_WORDS)),
        (C.R_LONG, has_text & (F.col("n_words") > C.MAX_WORDS)),
        (C.R_MEAN_WORD_LEN, has_text & ~F.col("mean_word_len").between(
            C.MIN_MEAN_WORD_LEN, C.MAX_MEAN_WORD_LEN)),
        (C.R_SYMBOL_RATIO, has_text
         & (F.col("symbol_ratio") > C.MAX_SYMBOL_WORD_RATIO)),
        (C.R_STOPWORD, has_text & (
            (F.col("stopword_count") < C.MIN_STOPWORD_COUNT)
            | (F.col("stopword_frac") < C.MIN_STOPWORD_FRACTION))),
        (C.R_REPEATED_LINES, has_text & (
            F.col("repeated_line_frac") > C.MAX_REPEATED_LINE_FRACTION)),
        (C.R_DUP_URL, F.col("is_dup_url")),
        (C.R_LANG_MISMATCH, mismatch),
        (C.R_STALE, stale_cond),
    ]
    pre_hits = F.array_compact(F.array(
        *[_rule_entry(cond, rid) for rid, cond in ordered]))
    ppl_hit = F.col("ppl").isNotNull() & (F.col("ppl") > C.MAX_PPL)
    rule_hits = F.when(ppl_hit, F.array(F.lit(C.R_PPL))).otherwise(pre_hits)
    df = df.withColumn("rule_hits", rule_hits).drop("is_dup_url")
    df = df.withColumn("keep", F.size("rule_hits") == 0)
    return df


DECISION_COLUMNS = ["url", "warc_ts", "lang", "host", C.PARTITION_COL,
                    "keep", "rule_hits", "lang_pred", "lang_score", "ppl",
                    "text_scrubbed",
                    "pii_email", "pii_phone", "pii_ipv4", "pii_toxicity"]


def decisions(pages: DataFrame, **kw) -> DataFrame:
    """The `decisions` output table (FIXTURES.md §2 shape + pii counters)."""
    return with_decisions(pages, **kw).select(*DECISION_COLUMNS)
