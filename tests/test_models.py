"""Language-ID + perplexity model behavior (SURVEY.md §7 S3/S4)."""

import numpy as np
import pandas as pd

from dataquality_spark import config as C, synth
from dataquality_spark.functions import langid, lm


def _docs(lang, n_docs=40, seed=5):
    rng = np.random.default_rng(seed)
    return pd.Series([" ".join(synth.gen_tokens(lang, 100, rng))
                      for _ in range(n_docs)])


def test_langid_every_language():
    for lang in C.LANGS:
        pred, score = langid.score_texts(_docs(lang))
        assert (pred == lang).all(), lang
        assert (score >= C.LANGID_MIN_SCORE).all(), lang


def test_langid_totality():
    """Every doc gets a classification (und only for word-less text)."""
    pred, _ = langid.score_texts(pd.Series(["", None, "  ", "the data"]))
    assert list(pred) == ["und", "und", "und", "en"]


def test_featurize_batch_equals_per_doc():
    """batch_trigram_ids (the shared one-pass featurizer behind langid
    AND the quality classifier) must be bit-equal to the per-doc
    reference path on every edge shape: None / empty / whitespace /
    1-char / multi-codepoint unicode / truncation-boundary docs."""
    from dataquality_spark.functions import quality_model as qm

    rng = np.random.default_rng(7)
    texts = ["the data of the value", "a", "", None, "   ", 3.5,
             "x" * (langid.MAX_SCORED_CHARS + 40) + " beyond",
             "x" * langid.MAX_SCORED_CHARS,
             "naïve café — ünïcodé   nbsp \U0001F600 emoji",
             " ".join(synth.gen_tokens("de", 200, rng))]
    flat, nzlens, nz = langid.batch_trigram_ids(
        np.asarray(texts, dtype=object))
    ref = [qm._doc_ids(t) for t in texts]
    assert nz.tolist() == [len(r) > 0 for r in ref]
    assert nzlens.tolist() == [len(r) for r in ref if len(r)]
    assert np.array_equal(
        flat.astype(np.int64),
        np.concatenate([r for r in ref if len(r)] or
                       [np.empty(0, np.int64)]))
    # doc_aligned_sums == the unchunked reduceat it replaces
    wt = langid.get_model()
    starts = np.zeros(len(nzlens), dtype=np.int64)
    np.cumsum(nzlens[:-1], out=starts[1:])
    assert np.array_equal(langid.doc_aligned_sums(wt, flat, nzlens),
                          np.add.reduceat(wt[flat], starts, axis=0))


def test_langid_deterministic():
    d = _docs("fr")
    p1, s1 = langid.score_texts(d)
    p2, s2 = langid.score_texts(d)
    assert (p1 == p2).all() and (s1 == s2).all()


def test_ppl_separates_gibberish():
    clean = lm.perplexity(_docs("en"))
    rng = np.random.default_rng(9)
    gib = lm.perplexity(pd.Series([
        " ".join("".join(rng.choice(list("abcdefghijklmnopqrstuvwxyz"), 6))
                 for _ in range(100)) for _ in range(40)]))
    assert np.nanmax(clean) < C.MAX_PPL
    assert np.nanmin(gib) > C.MAX_PPL


def test_ppl_rounding_stability():
    d = _docs("es")
    assert (lm.perplexity(d) == lm.perplexity(d)).all()


def test_fused_udf_equals_direct_calls(pages_input):
    """The fused models_udf against direct calls of the per-stage
    functions, in pure pandas: on every document (golden corpus plus
    None / empty / whitespace-only / NBSP / \\x0b edge docs) the flat
    LM stream from _batch_stats scores exactly like lm.perplexity's
    independent Python tokenize path, langid matches score_texts, and
    the sparse scrub coalesced back to the input equals the dense
    scrub_series, PII counts included."""
    from dataquality_spark import pipeline
    from dataquality_spark.functions import scrub

    edges = [None, "", "   \n\t ", "\xa0", "\x0b",
             "the data\xa0of the value", "the\x0bdata of the value"]
    text = pd.concat([pages_input["text"], pd.Series(edges)],
                     ignore_index=True)
    lang = pd.concat([pages_input["lang"], pd.Series(["en"] * len(edges))],
                     ignore_index=True)

    want_ppl = lm.perplexity(text)
    stats = pipeline._batch_stats(text)
    n_words, ids_flat = stats[0], stats[-1]
    got_ppl = lm.perplexity_from_flat(ids_flat, n_words)
    assert np.array_equal(got_ppl, want_ppl, equal_nan=True)
    # NBSP and \x0b are word characters under the ASCII-whitespace
    # contract, so only the first three edge docs have no words
    assert np.isnan(want_ppl[-len(edges):]).tolist() == [
        True, True, True, False, False, False, False]

    out = pipeline.models_udf.func(text, lang,
                                   pd.Series([False] * len(text)))
    pred, score = langid.score_texts(text)
    assert (out["lang_pred"].to_numpy() == pred).all()
    assert (out["lang_score"].to_numpy() == score).all()

    gated = out["ppl"].notna().to_numpy()
    assert 0 < gated.sum() < len(text)
    assert (out["ppl"][gated].to_numpy(dtype=float)
            == want_ppl[gated]).all()

    scrubbed, hits = scrub.scrub_series(text)
    assert list(out["text_scrubbed"].where(out["text_scrubbed"].notna(),
                                           text)) == list(scrubbed)
    assert out["text_scrubbed"].notna().any()
    for kind in ("email", "phone", "ipv4", "toxicity"):
        assert (out[f"pii_{kind}"].tolist()
                == [h.get(kind, 0) for h in hits]), kind


# ---------------------------------------------------------------------------
# quality_model (DCLM-style distilled classifier)
# ---------------------------------------------------------------------------

class TestQualityModel:
    def test_build_is_deterministic(self):
        from dataquality_spark.functions import quality_model as qm

        a_w, a_c = qm._build_model()
        b_w, b_c = qm._build_model()
        assert np.array_equal(a_w, b_w) and np.array_equal(a_c, b_c)

    def test_heldout_auc_and_edge_scores(self):
        """Distillation quality on a seed NEVER used in training: the
        min-over-calibrated-heads score must rank clean docs above
        text-defect docs (measured 0.96; floor leaves margin), and the
        gibberish head must be near-perfect."""
        from dataquality_spark import oracle, synth
        from dataquality_spark.functions import quality_model as qm

        pages = synth.gen_pages(1500, seed=5)
        inp = pages[["url", "warc_ts", "html", "text", "lang"]]
        hits = oracle.run_oracle(inp)["rule_hits"]
        clean = np.array([len(h) == 0 for h in hits])
        s = qm.score_texts(inp["text"])

        def auc(scores, y):
            pos, neg = scores[y], scores[~y]
            r = np.argsort(np.argsort(np.concatenate([pos, neg])))
            return ((r[:len(pos)].sum() - len(pos) * (len(pos) - 1) / 2)
                    / (len(pos) * len(neg)))

        anydef = np.array([bool(set(h) & set(qm.HEADS)) for h in hits])
        m = clean | anydef
        assert auc(s[m], clean[m]) >= 0.93
        ppl = np.array(["high_perplexity" in h for h in hits])
        mp = clean | ppl
        assert auc(s[mp], clean[mp]) >= 0.99
        # empty and None score hard zero
        assert qm.score_texts(pd.Series(["", None])).tolist() == [0, 0]

    def test_spark_udf_equals_numpy(self, spark):
        from dataquality_spark import synth
        from dataquality_spark.functions import quality_model as qm

        pages = synth.gen_pages(300, seed=11)
        sdf = spark.createDataFrame(pages[["url", "text"]])
        out = (qm.quality_scores(sdf, "text")
               .select("text", "quality_model_score").toPandas())
        exp = qm.score_texts(out["text"])
        assert (out["quality_model_score"].to_numpy() == exp).all()
        assert out["quality_model_score"].nunique() > 10

    def test_fixed_model_matches_pure_python(self):
        """The SQL-checkable twin weights through the REAL scoring path
        (score_texts) must equal an independent pure-Python rebuild —
        per-char hash loop, explicit per-head mean/calibrate/sigmoid —
        i.e. the reduceat/gather vectorization is semantics-free."""
        import math

        from dataquality_spark.functions import quality_model as qm

        texts = ["key agg row scan", "a", "", None, "   ",
                 "x" * 600 + " tail beyond the truncation window"]
        got = qm.score_texts(pd.Series(texts), model=qm.fixed_model())
        for t, g in zip(texts, got):
            if t is None or not str(t).strip():
                assert g == 0.0
                continue
            p = " " + t[:512] + " "
            cps = [ord(c) for c in p]
            bk = [(cps[i] * 1315423911 + cps[i + 1] * 2654435761
                   + cps[i + 2] * 97) % 4096
                  for i in range(len(cps) - 2)]
            probs = []
            for m, bias in qm.FIXED_HEAD_PARAMS:
                s = sum((b * m) % 4096 - 2048 for b in bk)
                z = ((s / 256.0 / len(bk) + bias) - qm.FIXED_MU) / qm.FIXED_SD
                probs.append(1.0 / (1.0 + math.exp(-z)))
            assert g == np.round(min(probs), 6)
