"""The headline correctness gate (BASELINE.md targets): Spark pipeline vs
pure-pandas oracle on the deterministic synthetic corpus — keep/drop
F1 >= 0.99 and byte-identical scrubbed text per url."""

from dataquality_spark import pipeline


def _merged(golden, pages_sdf):
    out = pipeline.decisions(pages_sdf).toPandas()
    m = golden.merge(out, on=["url", "warc_ts"], suffixes=("_g", "_s"))
    assert len(m) == len(golden)
    return m


def test_keep_f1_and_exact_labels(golden, pages_sdf):
    m = _merged(golden, pages_sdf)
    tp = (m.keep_g & m.keep_s).sum()
    fp = (~m.keep_g & m.keep_s).sum()
    fn = (m.keep_g & ~m.keep_s).sum()
    f1 = 2 * tp / (2 * tp + fp + fn)
    assert f1 >= 0.99, f"F1={f1}"
    # we actually hold exact agreement, not just F1
    assert (m.keep_g == m.keep_s).all()


def test_rule_hits_exact(golden, pages_sdf):
    m = _merged(golden, pages_sdf)
    assert (m.rule_hits_g.map(tuple) == m.rule_hits_s.map(tuple)).all()


def test_scrubbed_text_byte_identical(golden, pages_sdf):
    m = _merged(golden, pages_sdf)
    g = m.text_scrubbed_g.fillna("").map(lambda s: s.encode("utf-8"))
    s = m.text_scrubbed_s.fillna("").map(lambda s: s.encode("utf-8"))
    assert (g == s).all()


def test_scores_exact(golden, pages_sdf):
    m = _merged(golden, pages_sdf)
    assert ((m.ppl_g.isna() & m.ppl_s.isna()) | (m.ppl_g == m.ppl_s)).all()
    assert (m.lang_pred_g == m.lang_pred_s).all()
    assert (m.lang_score_g == m.lang_score_s).all()


def test_html_extraction_byte_identity(spark, pages_input):
    """BASELINE.json input_hint: byte-identical extracted text per url.

    Null out the text column and recover it from the html binary. One
    extra page carries invalid UTF-8 (a lone lead byte, a truncated
    4-byte sequence, an encoded surrogate): extraction must follow
    Python's errors="replace" — one U+FFFD per maximal invalid subpart,
    so the surrogate's three bytes give three — which no JVM decode or
    cast reproduces."""
    import pandas as pd
    from pyspark.sql import functions as F

    bad = bytes.fromhex("61C32862F09F9862EDA08063")
    extra = pages_input.iloc[:1].assign(
        url="https://invalid-utf8.example.org/1",
        html=[b"<html><body>" + bad + b"</body></html>"],
        text="a\ufffd(b\ufffdb\ufffd\ufffd\ufffdc")
    inp = pd.concat([pages_input, extra], ignore_index=True)
    sdf = spark.createDataFrame(inp)
    sdf2 = sdf.withColumn("text", F.lit(None).cast("string"))
    got = (pipeline.with_decisions(sdf2, extract_from_html=True)
           .select("url", "warc_ts", "text").toPandas())
    m = inp.merge(got, on=["url", "warc_ts"], suffixes=("_in", "_ex"))
    assert len(m) == len(inp)
    assert (m.text_in == m.text_ex).all()


def test_salted_repartition_flattens_hot_host(spark, pages_input):
    """north_star: salted keys for skewed hosts. The synth corpus plants
    host00 at ~30% of docs; a plain repartition by host pins that 30% to
    one task, the salted (host, salt) repartition spreads it."""
    from pyspark.sql import functions as F

    sdf = spark.createDataFrame(pages_input)
    n = len(pages_input)
    host = F.regexp_extract("url", r"https://([^/]+)/", 1)

    plain = (sdf.select(host.alias("h")).repartition(16, "h")
             .select(F.spark_partition_id().alias("p"))
             .groupBy("p").count().toPandas())
    salted = (pipeline.with_decisions(sdf, salt_repartition=16)
              .select(F.spark_partition_id().alias("p"))
              .groupBy("p").count().toPandas())

    # the hot host makes the plain layout's biggest task ≥ ~30% of rows;
    # salting must cut the maximum task to well under that
    assert plain["count"].max() >= 0.25 * n
    assert salted["count"].max() <= 0.15 * n


def test_keep_drop_f1_meets_target(golden, pages_sdf):
    """BASELINE.json metric: keep/drop F1 ≥ 0.99 vs reference labels.
    The engine targets (and achieves) exact agreement — F1 = 1.0."""
    m = _merged(golden, pages_sdf)
    tp = int((m.keep_g & m.keep_s).sum())
    fp = int((~m.keep_g & m.keep_s).sum())
    fn = int((m.keep_g & ~m.keep_s).sum())
    precision = tp / (tp + fp)
    recall = tp / (tp + fn)
    f1 = 2 * precision * recall / (precision + recall)
    assert f1 >= 0.99
    assert f1 == 1.0  # byte-exact rule parity implies perfect agreement


def test_precomputed_fingerprint_identity_and_slim_scan(
        spark, pages_input, golden, tmp_path):
    """Ingest-materialized text_crc32 (pipeline.with_dup_fingerprint):
    decisions must be bit-identical to hashing text on the fly — the
    synth corpus plants same-url rows whose winner is decided by the
    (warc_ts, crc32) pair, so a wrong fingerprint value would flip
    keep labels — and the dedup_flags branch must scan only
    (url, warc_ts, text_crc32), never the text column (the 100-TB win:
    the second corpus pass reads ~20 B/row instead of the full text)."""
    from pyspark.sql import functions as F

    from dataquality_spark import config as C

    p = str(tmp_path / "pages_fp")
    pipeline.with_dup_fingerprint(
        spark.createDataFrame(pages_input)).write.parquet(p)
    rd = spark.read.parquet(p)

    # value contract: the materialized column IS zlib.crc32 semantics
    import zlib
    sample = rd.select("text", C.FINGERPRINT_COL).limit(50).collect()
    for r in sample:
        assert r[C.FINGERPRINT_COL] == zlib.crc32(
            (r.text or "").encode("utf-8"))

    # decision identity vs the pandas oracle (same gate as the direct path)
    out = pipeline.decisions(rd).toPandas()
    assert C.FINGERPRINT_COL not in out.columns
    m = golden.merge(out, on=["url", "warc_ts"], suffixes=("_g", "_s"))
    assert len(m) == len(golden)
    assert (m.keep_g == m.keep_s).all()
    assert (m.rule_hits_g.map(tuple) == m.rule_hits_s.map(tuple)).all()

    # scan shape: the flags branch prunes text from its parquet read
    flags_plan = (pipeline.dedup_flags(rd)
                  ._jdf.queryExecution().executedPlan().toString())
    assert C.FINGERPRINT_COL in flags_plan
    assert "text:string" not in flags_plan
    # without the column the same branch must read text (control)
    ctrl_plan = (pipeline.dedup_flags(rd.drop(C.FINGERPRINT_COL))
                 ._jdf.queryExecution().executedPlan().toString())
    assert "text" in ctrl_plan

    # extra column never leaks into with_decisions output either
    full = pipeline.with_decisions(rd.limit(5))
    assert C.FINGERPRINT_COL not in full.columns
    assert full.filter(F.col("url").isNotNull()).count() == 5


def test_unicode_whitespace_matches_oracle(spark, pages_input):
    """Contract tokenizer: NBSP (\\xa0), LINE SEPARATOR (\\u2028) and
    \\x0b are WORD characters (only ASCII whitespace splits). Bare
    str.split() would split on them and silently skew n_words /
    stopword_frac / mean_word_len on HTML-extracted text — pipeline and
    oracle must agree on such docs exactly."""
    from dataquality_spark import oracle

    base = pages_input.head(4).copy().reset_index(drop=True)
    nbsp_doc = ("the of and to in is was that for with " * 8
                + "word\xa0pair unit sep tab\x0bver ") * 3
    base.loc[0, "text"] = nbsp_doc
    base.loc[1, "text"] = "the\xa0of\xa0and " * 40  # 40 words, not 120
    base.loc[2, "text"] = ("als der die das und von zu mit ist den "
                           "im für auf ein eine nicht " * 10)
    base["html"] = base["text"].map(
        lambda t: f"<html><body>{t}</body></html>".encode())
    golden = oracle.run_oracle(base)
    out = pipeline.decisions(spark.createDataFrame(base)).toPandas()
    m = golden.merge(out, on=["url", "warc_ts"], suffixes=("_g", "_s"))
    assert len(m) == len(base)
    assert (m.keep_g == m.keep_s).all()
    assert (m.rule_hits_g.map(tuple) == m.rule_hits_s.map(tuple)).all()
    assert ((m.ppl_g.isna() & m.ppl_s.isna()) | (m.ppl_g == m.ppl_s)).all()
