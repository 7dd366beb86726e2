"""CLI job surfaces (reference A14/A21/A23 analogs): healthcheck,
profile_table, run_pipeline happy path + resume + structured error."""

from __future__ import annotations

import json

from pyspark.sql import functions as F
import os

import pandas as pd
import pyarrow.parquet as pq
import pytest

from dataquality_spark import synth


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cli") / "pages")
    pages = synth.gen_pages(400, seed=19)[
        ["url", "warc_ts", "html", "text", "lang"]]
    spark.createDataFrame(pages).repartition(4).write.mode(
        "overwrite").parquet(d)
    return d


def test_healthcheck_all_components(spark, pages_dir, capsys):
    from jobs import healthcheck

    report = healthcheck.run(["--input", pages_dir])
    assert report["status"] == "healthy"
    assert set(report["components"]) >= {"session", "models", "catalog",
                                         "input_schema", "pipeline_smoke"}
    assert report["components"]["catalog"]["status"] == "healthy"
    # the printed line is valid one-line JSON
    line = capsys.readouterr().out.strip().splitlines()[-1]
    assert json.loads(line)["status"] == "healthy"


def test_profile_table_report(spark, capsys):
    from jobs import profile_table

    report = profile_table.run(
        ["--input", "/root/testdata/sf0.001/lineitem.parquet",
         "--columns", "l_orderkey,l_quantity"])
    assert report["uniqueness"]["n_rows"] > 0
    assert "l_quantity_p50" in report["percentiles"]
    assert 0 < report["completeness"]["l_orderkey"] <= 100.0


def test_profile_table_repetition_pillar(spark):
    from jobs import profile_table

    report = profile_table.run(
        ["--input", "/root/testdata/sf0.001/documents.parquet",
         "--text-col", "text"])
    rep = report["repetition"]
    assert rep["column"] == "text"
    assert 0.0 < rep["avg_top_2gram_frac"] <= 1.0
    assert rep["avg_dup_line_frac"] >= 0.0
    assert "n_docs_dup_lines_gt_30pct" in rep


AUDIT_COLUMNS = [
    ("partition_id", "string"), ("n_docs", "bigint"), ("n_kept", "bigint"),
    ("n_distinct_urls", "bigint"), ("n_pii_email", "bigint"),
    ("n_pii_phone", "bigint"), ("n_pii_ipv4", "bigint"),
    ("n_pii_toxicity", "bigint"), ("completeness_url", "double"),
    ("completeness_warc_ts", "double"), ("completeness_text", "double"),
    ("completeness_lang", "double"),
    ("rule_hit_counts", "map<string,bigint>"),
    ("started_at", "timestamp"), ("finished_at", "timestamp"),
    ("docs_per_sec", "double")]


def test_run_pipeline_and_resume(spark, pages_dir, tmp_path, capsys):
    from jobs import run_pipeline

    out = str(tmp_path / "out")
    first = run_pipeline.run(["--input", pages_dir, "--output", out])
    assert first["n_docs"] == 400 and first["skipped_partitions"] == 0
    # the run summary is the job's last stdout line, as one JSON object
    line = capsys.readouterr().out.strip().splitlines()[-1]
    assert json.loads(line) == first
    decisions = spark.read.parquet(os.path.join(out, "decisions"))
    assert decisions.count() == 400
    # the audit and manifest tables: one row per partition, built from
    # the same per-partition counts
    audit_dir = os.path.join(out, "audit")
    assert spark.read.parquet(audit_dir).dtypes == AUDIT_COLUMNS
    aud = pq.read_table(audit_dir)   # maps in their stored key order
    hits = aud.column("rule_hit_counts").to_pylist()
    assert all([k for k, _ in m] == sorted(k for k, _ in m) for m in hits)
    a = aud.drop(["rule_hit_counts"]).to_pandas()
    assert a.partition_id.is_unique and len(a) == first["n_partitions"]
    assert a.n_docs.sum() == first["n_docs"]
    man = pq.read_table(os.path.join(out, "manifests")).to_pandas()
    j = a.merge(man, on="partition_id", validate="one_to_one")
    assert len(j) == len(a) == len(man)
    assert (j.output_rows == j.n_docs).all()
    assert (j.completed_at == j.finished_at).all()
    # second run: manifest resume skips everything
    second = run_pipeline.run(["--input", pages_dir, "--output", out])
    assert second["n_docs"] == 0
    assert second["skipped_partitions"] == first["n_partitions"]
    assert spark.read.parquet(os.path.join(out, "decisions")).count() == 400


def test_run_pipeline_error_is_structured(capsys):
    from jobs import run_pipeline

    with pytest.raises(SystemExit):
        run_pipeline.run(["--input", "/definitely/not/there",
                          "--output", "/tmp/dq_nope"])
    line = capsys.readouterr().out.strip().splitlines()[-1]
    err = json.loads(line)
    assert err["success"] is False and err["category"] == "input_not_found"
    assert err["suggestions"]


def test_scaling_merge_results_takes_min_over_trials():
    """merge_results must recompute min-of-union-of-trials per size and
    the derived efficiency — the adaptive bench probe depends on it."""
    from tools.scaling_bench import merge_results

    def mk(sec2, sec8):
        def ps(c, sec):
            return {"cores": c, "n_docs": 1000,
                    "full": {"sec": sec, "trials": [sec],
                             "docs_per_sec": round(1000 / sec, 1)},
                    "models": {"sec": sec, "trials": [sec],
                               "docs_per_sec": round(1000 / sec, 1)}}
        d = {"sizes": [2, 8], "low": 2, "high": 8, "n_docs": 1000,
             "per_size": {"2": ps(2, sec2), "8": ps(8, sec8)}}
        for st in ("full", "models"):
            sp = (d["per_size"]["8"][st]["docs_per_sec"]
                  / d["per_size"]["2"][st]["docs_per_sec"])
            d[st] = {"docs_per_sec_low":
                     d["per_size"]["2"][st]["docs_per_sec"],
                     "docs_per_sec_high":
                     d["per_size"]["8"][st]["docs_per_sec"],
                     "speedup": round(sp, 3), "ideal_speedup": 4.0,
                     "scaling_efficiency": round(sp / 4, 3)}
        return d

    noisy = mk(8.0, 4.0)     # high side hit by steal: efficiency 0.5
    clean = mk(8.5, 2.4)     # second window: clean high side
    m = merge_results(noisy, clean)
    assert m["per_size"]["8"]["full"]["sec"] == 2.4    # min of union
    assert m["per_size"]["2"]["full"]["sec"] == 8.0
    assert sorted(m["per_size"]["8"]["full"]["trials"]) == [2.4, 4.0]
    assert m["full"]["scaling_efficiency"] > 0.8


def test_curate_job_end_to_end(spark, tmp_path):
    """Decontaminate → paragraph-dedup → split in one job: flags, text
    rebuild and split columns all land in the output parquet."""
    import pandas as pd

    from jobs import curate

    docs = pd.DataFrame({
        "doc_id": range(40),
        "text": [f"unique words {i} alpha beta\nshared tail line"
                 for i in range(40)],
    })
    # eval set = doc 7's unique first line (the shared tail would flag
    # every doc) → only doc 7 gets flagged at n=3
    ev = pd.DataFrame({"text": [docs.text[7].split("\n")[0]]})
    inp, evp, outp = (str(tmp_path / d) for d in ("in", "ev", "out"))
    spark.createDataFrame(docs).write.parquet(inp)
    spark.createDataFrame(ev).write.parquet(evp)

    stats = curate.run(["--input", inp, "--output", outp,
                        "--eval", evp, "--ngram", "3",
                        "--dedupe-paragraphs", "--quality-model",
                        "--split", "train=0.8,val=0.2"])
    assert stats["n_docs_in"] == stats["n_docs_out"] == 40
    assert stats["steps"] == ["decontaminate:flag", "dedupe_paragraphs",
                              "quality_model", "split"]
    assert stats["n_contaminated"] == 1
    assert set(stats["split_counts"]) <= {"train", "val"}

    out = spark.read.parquet(outp).toPandas().set_index("doc_id")
    assert bool(out.loc[7, "contaminated"])
    # 'shared tail line' survives only at its first global occurrence
    assert (out["text"].str.contains("shared tail line")).sum() == 1
    assert set(out.columns) >= {"text", "contaminated", "n_matched",
                                "n_paragraphs", "n_kept", "split",
                                "bucket", "quality_model_score"}
    assert out["quality_model_score"].between(0, 1).all()

    # --drop-contaminated removes the flagged doc; --audit appends the
    # per-partition lineage table (append-mode across reruns)
    out2, audp = str(tmp_path / "out2"), str(tmp_path / "audit")
    stats2 = curate.run(["--input", inp, "--output", out2,
                         "--eval", evp, "--ngram", "3",
                         "--drop-contaminated", "--audit", audp])
    assert stats2["n_docs_out"] == 39
    aud = spark.read.parquet(audp).toPandas()
    assert aud["n_docs"].sum() == 39
    assert (aud["steps"] == "decontaminate:drop").all()
    assert set(aud.columns) >= {"partition_id", "n_docs",
                                "n_distinct_ids", "steps", "elapsed_sec"}
    out3 = str(tmp_path / "out3")
    curate.run(["--input", inp, "--output", out3, "--audit", audp])
    aud2 = spark.read.parquet(audp).toPandas()
    assert aud2["n_docs"].sum() == 39 + 40   # appended, not overwritten


def test_curate_job_cross_run_dedup(spark, tmp_path):
    """--dedup-ref drops exact copies of the previously-kept corpus;
    --near-dedup-ref additionally drops MinHash near-dups of it — the
    incremental-crawl scenario wired end-to-end through the CLI."""
    import pandas as pd

    from jobs import curate

    base = [" ".join(f"w{i}_{j}" for j in range(40)) for i in range(20)]
    ref = pd.DataFrame({"doc_id": range(20), "text": base})
    new = pd.DataFrame({
        "doc_id": range(100, 100 + 24),
        "text": (base[:4]                               # 4 exact copies
                 + [" ".join(t.split()[:32]) for t in base[4:8]]
                 # 4 near-dups (80% truncation)
                 + [f"fresh doc {i} " + " ".join(f"n{i}_{j}"
                    for j in range(30)) for i in range(16)]),
    })
    inp, refp, outp, outn = (str(tmp_path / d)
                             for d in ("new", "ref", "o_exact", "o_near"))
    spark.createDataFrame(new).write.parquet(inp)
    spark.createDataFrame(ref).write.parquet(refp)

    stats = curate.run(["--input", inp, "--output", outp,
                        "--dedup-ref", refp])
    assert stats["steps"] == ["exact_dedup_ref"]
    assert stats["n_docs_in"] == 24 and stats["n_docs_out"] == 20

    stats2 = curate.run(["--input", inp, "--output", outn,
                         "--dedup-ref", refp, "--near-dedup-ref"])
    assert stats2["steps"] == ["exact_dedup_ref", "near_dedup_ref"]
    assert stats2["n_docs_out"] == 16
    kept = {r["doc_id"] for r in spark.read.parquet(outn).collect()}
    assert kept == set(range(108, 124))   # only the fresh docs survive


def test_curate_job_bloom_dedup_ref(spark, tmp_path):
    """--dedup-ref-mode bloom drops the same exact copies as the
    anti-join mode (fpp sized to ~0 at this scale) with a map-only
    probe instead of a reference shuffle."""
    import pandas as pd

    from jobs import curate

    base = [" ".join(f"w{i}_{j}" for j in range(40)) for i in range(20)]
    ref = pd.DataFrame({"doc_id": range(20), "text": base})
    new = pd.DataFrame({"doc_id": range(100, 110),
                        "text": base[:4] + [f"fresh {i}" for i in range(6)]})
    inp, refp, outp = (str(tmp_path / d) for d in ("new", "ref", "out"))
    spark.createDataFrame(new).write.parquet(inp)
    spark.createDataFrame(ref).write.parquet(refp)

    stats = curate.run(["--input", inp, "--output", outp,
                        "--dedup-ref", refp, "--dedup-ref-mode", "bloom",
                        "--bloom-fpp", "1e-6"])
    assert stats["steps"] == ["bloom_dedup_ref"]
    assert stats["n_docs_out"] == 6
    kept = {r["doc_id"] for r in spark.read.parquet(outp).collect()}
    assert kept == set(range(104, 110))


def test_curate_job_near_dedup_clusters(spark, tmp_path):
    """--near-dedup resolves within-corpus near-dup CLUSTERS: a chain
    A~B~C whose ends fall below the pair threshold still collapses to
    one survivor (the minimum id) via connected components, while
    unrelated docs pass through untouched."""
    import pandas as pd

    from jobs import curate

    words = [f"w{j}" for j in range(40)]
    chain = [" ".join(words),          # A: 40 words
             " ".join(words[:34]),     # B: J(A,B)=32/38≈0.84
             " ".join(words[:29])]     # C: J(B,C)=27/32≈0.84, J(A,C)≈0.71
    fresh = [" ".join(f"u{i}_{j}" for j in range(30)) for i in range(10)]
    docs = pd.DataFrame({"doc_id": range(13), "text": chain + fresh})
    inp, outp = str(tmp_path / "in"), str(tmp_path / "out")
    spark.createDataFrame(docs).write.parquet(inp)

    stats = curate.run(["--input", inp, "--output", outp,
                        "--near-dedup", "--near-threshold", "0.75"])
    assert stats["steps"] == ["near_dedup_clusters"]
    assert stats["n_docs_in"] == 13 and stats["n_docs_out"] == 11
    kept = {r["doc_id"] for r in spark.read.parquet(outp).collect()}
    assert kept == {0} | set(range(3, 13))   # A survives, B and C drop


def test_pipeline_then_curate_compose(spark, pages_dir, tmp_path):
    """The two spark-submit stages chain: quality filter writes
    decisions, curation runs on them keyed by url with the scrubbed
    text — the full training-data path a user actually runs."""
    from jobs import curate, run_pipeline

    out1 = str(tmp_path / "filtered")
    run_pipeline.run(["--input", pages_dir, "--output", out1])
    out2 = str(tmp_path / "curated")
    stats = curate.run(["--input", os.path.join(out1, "decisions"),
                        "--output", out2,
                        "--id-col", "url", "--text-col", "text_scrubbed",
                        "--dedupe-paragraphs",
                        "--split", "train=0.9,val=0.1"])
    assert stats["n_docs_in"] == 400
    assert stats["steps"] == ["dedupe_paragraphs", "split"]
    curated = spark.read.parquet(out2)
    assert curated.count() == 400
    cols = set(curated.columns)
    assert {"url", "keep", "text_scrubbed", "n_paragraphs", "n_kept",
            "split", "bucket"} <= cols
    # split by url-hash: disjoint, exhaustive, deterministic
    n = {r["split"]: r["n"] for r in
         curated.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(n.values()) == 400 and set(n) <= {"train", "val"}


def test_curate_job_url_canon_and_upsample(spark, tmp_path):
    """--url-canon/--url-dedup collapse tracking-param variants of the
    same page to one doc; --upsample-weight repeats rows
    deterministically."""
    import pandas as pd

    from jobs import curate

    docs = pd.DataFrame({
        "doc_id": range(6),
        "text": [f"body {i}" for i in range(6)],
        "url": [
            "http://A.com/x?utm_source=a",     # 0 ┐ same canonical
            "HTTP://a.com:80/x",               # 1 ┘ → keep doc 0
            "http://WWW.b.com/y/",             # 2 ┐ same canonical
            "http://b.com/y?fbclid=z",         # 3 ┘ → keep doc 2
            "http://c.com/z?a=1",              # 4 distinct
            "http://c.com/z?a=2",              # 5 distinct
        ],
        "wt": [2.0, 2.0, 1.0, 1.0, 1.0, 1.0],
    })
    inp, outp = str(tmp_path / "uin"), str(tmp_path / "uout")
    spark.createDataFrame(docs).write.parquet(inp)

    stats = curate.run(["--input", inp, "--output", outp,
                        "--url-canon", "url", "--url-dedup",
                        "--upsample-weight", "wt"])
    assert stats["steps"] == ["url_canon", "url_dedup", "upsample"]
    out = spark.read.parquet(outp).toPandas()
    # 6 docs → 4 canonical urls; doc 0 (wt=2) emitted twice → 5 rows
    assert sorted(out["doc_id"].unique()) == [0, 2, 4, 5]
    assert len(out[out.doc_id == 0]) == 2
    assert stats["n_docs_out"] == 5
    assert (out[out.doc_id == 0]["url_canon"] == "http://a.com/x").all()


def test_ask_job_end_to_end(spark, tmp_path):
    """jobs/ask.py: the reference's interactive_query analog — register
    parquet tables by basename, answer questions in the reference's
    success / {error, suggestion} shapes (main.py:60-84)."""
    import pandas as pd

    from jobs import ask

    d = tmp_path / "tables"
    d.mkdir()
    pd.DataFrame({"id": [1, 2, 3], "score": [1.0, None, 3.0]}) \
        .to_parquet(d / "gizmos.parquet", index=False)

    out = ask.run(["--tables", str(d),
                   "how complete is the gizmos table",
                   "top 2 gizmos by score",
                   "what color is the sky"])
    assert [r["status"] for r in out] == ["success", "success", "error"]
    comp = dict(out[0]["rows"])
    assert comp == {"id": 1.0, "score": 2 / 3}
    assert out[1]["rows"][0][0] == 3  # id of max score
    assert "gizmos" in out[2]["suggestion"]


def test_ask_job_interactive_repl(spark, tmp_path):
    """--interactive: a two-question stdin session, one JSON answer per
    line, terminated by 'exit' (reference main.py:60-84 REPL shape)."""
    import io

    import pandas as pd

    from jobs import ask

    d = tmp_path / "tables"
    d.mkdir()
    pd.DataFrame({"id": [1, 2, 3], "score": [1.0, None, 3.0]}) \
        .to_parquet(d / "gizmos.parquet", index=False)

    stdin = io.StringIO(
        "how complete is the gizmos table\n"
        "\n"                      # blank lines are skipped
        "top 2 gizmos by score\n"
        "exit\n"
        "never reached\n")
    out = ask.run(["--tables", str(d), "--interactive"], stdin=stdin)
    assert [r["status"] for r in out] == ["success", "success"]
    assert dict(out[0]["rows"]) == {"id": 1.0, "score": 2 / 3}
    assert out[1]["rows"][0][0] == 3


def test_ask_job_requires_question_or_interactive(spark):
    import pytest

    from jobs import ask

    with pytest.raises(SystemExit):
        ask.run(["--tables", "/nonexistent"])


def test_curate_job_token_budget(spark, tmp_path):
    """--token-budget caps each --budget-group at N cumulative
    --budget-tokens through the CLI; equal-sized docs make the kept
    count per group exact (budget/doc_tokens)."""
    import pandas as pd

    from jobs import curate

    docs = pd.DataFrame({
        "doc_id": range(60),
        "lang": ["en" if i % 2 else "de" for i in range(60)],
        "n_chars": [100] * 60,
        "text": [f"doc {i}" for i in range(60)],
    })
    inp, outp = str(tmp_path / "in"), str(tmp_path / "out")
    spark.createDataFrame(docs).write.parquet(inp)
    stats = curate.run(["--input", inp, "--output", outp,
                        "--token-budget", "1000"])
    assert stats["steps"] == ["token_budget"]
    out = spark.read.parquet(outp).toPandas()
    # 100-token docs, 1000 cap → exactly 10 kept per lang (the 11th
    # doc's preceding cumulative is 1000, not < 1000)
    assert out.groupby("lang").size().to_dict() == {"de": 10, "en": 10}
    assert stats["n_docs_out"] == 20


def test_curate_job_mix_weights(spark, tmp_path):
    """--mix-weights holds explicit proportions: the bottleneck group
    sets the total, unweighted groups drop, --mix-total caps."""
    import pandas as pd

    from jobs import curate

    docs = pd.DataFrame({
        "doc_id": range(440),
        "lang": (["en"] * 300 + ["de"] * 100 + ["fr"] * 20
                 + ["zz"] * 20),
        "n_chars": [100] * 440,
        "text": [f"doc {i}" for i in range(440)],
    })
    inp, outp = str(tmp_path / "in_m"), str(tmp_path / "out_m")
    spark.createDataFrame(docs).write.parquet(inp)
    stats = curate.run(["--input", inp, "--output", outp,
                        "--mix-weights", "en=0.5,de=0.3,fr=0.2"])
    assert stats["steps"] == ["weighted_mix"]
    per = spark.read.parquet(outp).toPandas().groupby("lang").size()
    # fr is the bottleneck (20 docs at weight 0.2 → T = 100): en ~50,
    # de ~30, fr keeps all 20, zz (unweighted) drops entirely
    assert per.get("zz", 0) == 0
    assert per.get("fr", 0) == 20
    assert 35 <= per.get("en", 0) <= 65
    assert 18 <= per.get("de", 0) <= 42
    # --mix-total cap scales everything down proportionally
    out2 = str(tmp_path / "out_m2")
    curate.run(["--input", inp, "--output", out2,
                "--mix-weights", "en=0.5,de=0.3,fr=0.2",
                "--mix-total", "50"])
    per2 = spark.read.parquet(out2).toPandas().groupby("lang").size()
    assert per2.sum() < per.sum()


def test_curate_job_temperature_mix(spark, tmp_path):
    """--temperature-total downsamples toward an expected N kept docs
    with per-group rate ∝ n^alpha/n; alpha=0 on a skewed corpus keeps
    roughly equal counts per group."""
    import pandas as pd

    from jobs import curate

    docs = pd.DataFrame({
        "doc_id": range(400),
        "lang": ["en" if i < 320 else "de" for i in range(400)],
        "n_chars": [100] * 400,
        "text": [f"doc {i}" for i in range(400)],
    })
    inp, outp = str(tmp_path / "in_t"), str(tmp_path / "out_t")
    spark.createDataFrame(docs).write.parquet(inp)
    stats = curate.run(["--input", inp, "--output", outp,
                        "--temperature-total", "100",
                        "--temperature-alpha", "0.0"])
    assert stats["steps"] == ["temperature_mix"]
    per = spark.read.parquet(outp).toPandas().groupby("lang").size()
    # alpha=0 → each group targets ~50 kept despite the 4:1 skew
    assert 25 <= per.get("en", 0) <= 75
    assert 25 <= per.get("de", 0) <= 75


def test_curate_job_quantile_buckets(spark, tmp_path):
    """--quantile-buckets adds a per-group qbucket column (1 = lowest
    --quantile-score) through the CLI thresholds mode."""
    import pandas as pd

    from jobs import curate

    docs = pd.DataFrame({
        "doc_id": range(90),
        "lang": ["en"] * 90,
        "n_chars": list(range(90)),
        "text": [f"doc {i}" for i in range(90)],
    })
    inp, outp = str(tmp_path / "in_q"), str(tmp_path / "out_q")
    spark.createDataFrame(docs).write.parquet(inp)
    stats = curate.run(["--input", inp, "--output", outp,
                        "--quantile-buckets", "3"])
    assert stats["steps"] == ["quantile_buckets"]
    out = spark.read.parquet(outp).toPandas().set_index("doc_id")
    assert set(out.qbucket) == {1, 2, 3}
    assert out.loc[0, "qbucket"] == 1 and out.loc[89, "qbucket"] == 3
    assert stats["n_docs_out"] == 90


def test_curate_job_dsir_then_quantile(spark, tmp_path):
    """--dsir-target joins importance scores; chained with
    --quantile-buckets --quantile-score dsir_score the head bucket is
    the most target-like docs."""
    import pandas as pd

    from jobs import curate

    docs = pd.DataFrame({
        "doc_id": range(40),
        "lang": ["en"] * 40,
        "text": (["the quick brown fox jumps"] * 20
                 + ["der schnelle braune fuchs springt"] * 20),
    })
    target = docs.head(20)
    inp, tgt, outp = (str(tmp_path / p) for p in ("in_d", "tgt", "out_d"))
    spark.createDataFrame(docs).write.parquet(inp)
    spark.createDataFrame(target).write.parquet(tgt)
    stats = curate.run(["--input", inp, "--output", outp,
                        "--dsir-target", tgt,
                        "--quantile-buckets", "2",
                        "--quantile-score", "dsir_score"])
    assert stats["steps"] == ["dsir", "quantile_buckets"]
    out = spark.read.parquet(outp).toPandas()
    # bucket 2 (highest dsir_score) must be exactly the target-like docs
    top = set(out[out.qbucket == 2].doc_id)
    assert top == set(range(20))


def test_curate_job_remove_dup_spans(spark, tmp_path):
    """--remove-dup-spans K rebuilds text with every duplicated K-token
    span cut except its globally-first occurrence."""
    import pandas as pd

    from jobs import curate

    docs = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["a b c d e f", "a b c d e zz", "clean words only here"],
    })
    inp, outp = str(tmp_path / "in_s"), str(tmp_path / "out_s")
    spark.createDataFrame(docs).write.parquet(inp)
    stats = curate.run(["--input", inp, "--output", outp,
                        "--remove-dup-spans", "5"])
    assert stats["steps"] == ["remove_dup_spans"]
    out = (spark.read.parquet(outp).toPandas()
           .set_index("doc_id").text.to_dict())
    assert out[1] == "a b c d e f"      # winner keeps its tokens
    assert out[2] == "zz"               # shared 5-span cut
    assert out[3] == "clean words only here"


def test_curate_job_c4_lines(spark, tmp_path):
    """--c4-lines rebuilds text from surviving lines and DROPS docs
    flagged by the brace/lorem/min-lines doc rules."""
    import pandas as pd

    from jobs import curate

    good = ("This is a fine sentence.\nnope no punct\n"
            "Another proper sentence!\nA third good one?")
    docs = pd.DataFrame({
        "doc_id": [1, 2],
        "text": [good, "Code here { inline.\nValid sentence one."],
    })
    inp, outp = str(tmp_path / "in_c4"), str(tmp_path / "out_c4")
    spark.createDataFrame(docs).write.parquet(inp)
    stats = curate.run(["--input", inp, "--output", outp, "--c4-lines"])
    assert stats["steps"] == ["c4_lines"]
    out = spark.read.parquet(outp).toPandas()
    assert list(out.doc_id) == [1]       # brace doc dropped
    assert out.text.iloc[0] == ("This is a fine sentence.\n"
                                "Another proper sentence!\n"
                                "A third good one?")


def test_curate_job_chunk_then_shards(spark, tmp_path):
    """--chunk-tokens replaces the grain with window rows (chunk_key
    synthesized) and --shards assigns the training shuffle on that
    grain: dense 0-based pos per shard, every chunk covered."""
    import pandas as pd

    from jobs import curate

    docs = pd.DataFrame({
        "doc_id": range(20),
        "text": [" ".join(f"w{i}_{j}" for j in range(10))
                 for i in range(20)],   # 10 tokens/doc
    })
    inp, outp = str(tmp_path / "in"), str(tmp_path / "out")
    spark.createDataFrame(docs).write.parquet(inp)
    stats = curate.run(["--input", inp, "--output", outp,
                        "--chunk-tokens", "4", "--chunk-overlap", "0",
                        "--shards", "4"])
    assert stats["steps"] == ["chunk", "shards"]
    out = spark.read.parquet(outp).toPandas()
    # 10 tokens, N=4, stride 4 → i_max=(10-1)//4=2 → 3 chunks/doc
    assert len(out) == 60 and stats["n_docs_out"] == 60
    assert set(out.columns) >= {"doc_id", "chunk_id", "chunk_tokens",
                                "chunk_text", "chunk_key", "shard",
                                "pos"}
    assert out["shard"].between(0, 3).all()
    for _, grp in out.groupby("shard"):
        assert sorted(grp["pos"]) == list(range(len(grp)))
    assert out["chunk_key"].is_unique


def test_curate_job_boilerplate(spark, tmp_path):
    """--boilerplate-min-docs strips the repeated footer from every
    doc, preserves other columns, and precedes --c4-lines."""
    import pandas as pd

    from jobs import curate

    docs = pd.DataFrame({
        "doc_id": range(6),
        "host": ["h1"] * 4 + ["h2"] * 2,
        "text": [f"unique {i}\nCOOKIE BANNER" for i in range(6)],
    })
    inp, outp = str(tmp_path / "in"), str(tmp_path / "out")
    spark.createDataFrame(docs).write.parquet(inp)

    stats = curate.run(["--input", inp, "--output", outp,
                        "--boilerplate-min-docs", "3",
                        "--boilerplate-group", "host"])
    assert stats["steps"] == ["boilerplate_lines"]
    out = spark.read.parquet(outp).toPandas().set_index("doc_id")
    # banner stripped where host df >= 3, kept for the 2-doc host
    for i in range(4):
        assert out.loc[i, "text"] == f"unique {i}"
    for i in (4, 5):
        assert out.loc[i, "text"] == f"unique {i}\nCOOKIE BANNER"
    assert set(out.columns) >= {"host", "text"}


def test_run_pipeline_incremental_previous(spark, pages_dir, tmp_path):
    """--previous processes only added/changed pages: a mutated
    re-crawl of the same corpus yields a delta run whose doc count is
    exactly the mutation count."""
    from jobs import run_pipeline

    pages = spark.read.parquet(pages_dir)
    n_total = pages.count()
    # re-crawl: 1 in 5 pages gets new text, 10 brand-new urls appear,
    # the rest are byte-identical
    changed = (F.col("url").substr(-1, 1).isin("0", "5"))
    v2 = pages.withColumn(
        "text", F.when(changed, F.concat(F.col("text"),
                                         F.lit(" updated"))).otherwise(
            F.col("text")))
    fresh = pages.dropDuplicates(["url"]).limit(10).withColumn(
        "url", F.concat(F.lit("https://new.example/"),
                        F.md5("url")))
    v2 = v2.unionByName(fresh)
    v2_dir = str(tmp_path / "pages_v2")
    v2.write.parquet(v2_dir)
    # the diff keys on url after keep-newest dedup, so the delta holds
    # ONE row per changed url (planted dup urls collapse)
    n_changed = pages.where(changed).select("url").distinct().count()

    out = str(tmp_path / "out_inc")
    stats = run_pipeline.run(["--input", v2_dir, "--output", out,
                              "--previous", pages_dir, "--no-resume"])
    assert stats["n_docs"] == n_changed + 10
    assert stats["n_docs"] < n_total
    got = spark.read.parquet(out + "/decisions")
    assert got.count() == n_changed + 10


def test_run_pipeline_incremental_recrawl_same_text(spark, pages_dir,
                                                    tmp_path):
    """A recrawl that bumps every warc_ts but leaves text byte-identical
    must diff as UNCHANGED (the carry-forward optimization actually
    fires): only genuinely-new urls land in the delta. Regression test
    for the url#warc_ts keying that classified every timestamp-bumped
    page as 'added'."""
    from jobs import run_pipeline

    pages = spark.read.parquet(pages_dir)
    v2 = pages.withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 7 DAYS"))
    fresh = pages.dropDuplicates(["url"]).limit(5).withColumn(
        "url", F.concat(F.lit("https://brandnew.example/"), F.md5("url")))
    v2_dir = str(tmp_path / "pages_recrawl")
    v2.unionByName(fresh).write.parquet(v2_dir)

    out = str(tmp_path / "out_recrawl")
    stats = run_pipeline.run(["--input", v2_dir, "--output", out,
                              "--previous", pages_dir, "--no-resume"])
    assert stats["n_docs"] == 5


def test_curate_recipe_webtext_v1(spark, tmp_path):
    """--recipe webtext-v1 expands to the documented stage ordering
    (url canon+dedup → c4 lines → paragraph dedup → near-dup clusters →
    quality score → split → shards) in one flag, and later flags
    override the recipe's value options (--shards 4 beats its 64)."""
    import pandas as pd

    from jobs import curate

    n = 120
    docs = pd.DataFrame({
        "doc_id": range(n),
        "url": [f"https://h{i % 7}.ex/p/{i}?utm_source=x"
                for i in range(n)],
        # ≥3 kept lines per doc (C4's min_kept_lines) with distinct
        # vocab so near-dup clustering keeps every doc separate
        "text": [("Document {i} number opening line stands alone fine.\n"
                  "Unique filler {w0} sits on the second line today.\n"
                  "More filler {w1} closes out the third line fully."
                  ).format(i=i,
                           w0=" ".join(f"a{i}x{k}" for k in range(6)),
                           w1=" ".join(f"b{i}y{k}" for k in range(6)))
                 for i in range(n)],
    })
    # a canonical-url duplicate: doc 1 collapses onto doc 0's url once
    # the utm_ tracking param is stripped
    docs.loc[1, "url"] = "https://h0.ex/p/0"
    inp, outp = str(tmp_path / "in_recipe"), str(tmp_path / "out_recipe")
    spark.createDataFrame(docs).write.parquet(inp)

    stats = curate.run(["--input", inp, "--output", outp,
                        "--recipe", "webtext-v1", "--shards", "4"])
    assert stats["recipe"] == "webtext-v1"
    assert stats["steps"] == ["url_canon", "url_dedup",
                              "near_dedup_clusters", "c4_lines",
                              "dedupe_paragraphs",
                              "quality_model", "split", "shards"]
    assert stats["n_docs_out"] == n - 1  # only the planted url dup drops
    out = spark.read.parquet(outp)
    assert {"url_canon", "split", "shard", "pos",
            "quality_model_score"} <= set(out.columns)
    assert out.agg(F.max("shard")).head()[0] <= 3  # override beat 64


def test_curate_job_url_patterns(spark, tmp_path):
    """--url-patterns drops matching urls (block mode)."""
    import pandas as pd

    from jobs import curate

    docs = pd.DataFrame({
        "doc_id": range(40),
        "url": [f"https://h.ex/casino/{i}" if i % 4 == 0
                else f"https://h.ex/a/{i}" for i in range(40)],
        "text": [f"doc {i}" for i in range(40)],
    })
    inp, outp = str(tmp_path / "in_u"), str(tmp_path / "out_u")
    spark.createDataFrame(docs).write.parquet(inp)
    stats = curate.run(["--input", inp, "--output", outp,
                        "--url-patterns", r"/casino/;;[?&]utm_"])
    assert stats["steps"] == ["url_patterns"]
    assert stats["n_docs_out"] == 30
    kept = spark.read.parquet(outp)
    assert kept.where(kept.url.contains("/casino/")).count() == 0


def test_link_graph_job(spark, tmp_path):
    """pages with planted anchors -> host PageRank table: the hub that
    every page links to tops the ranking."""
    import pandas as pd

    from jobs import link_graph

    n = 60
    pages = pd.DataFrame({
        "url": [f"https://s{i % 6}.example/p/{i}" for i in range(n)],
        "warc_ts": pd.Timestamp("2024-01-01"),
        "html": [(f'<html><body><a href="https://hub.example/x">hub'
                  f'</a><a href="https://s{(i + 1) % 6}.example/n">n'
                  f'</a></body></html>').encode() for i in range(n)],
        "text": ["t"] * n,
        "lang": ["en"] * n,
    })
    inp, outp = str(tmp_path / "lg_in"), str(tmp_path / "lg_out")
    spark.createDataFrame(pages).write.parquet(inp)
    stats = link_graph.run(["--input", inp, "--output", outp,
                            "--top", "3"])
    assert stats["n_hosts"] == 7  # 6 sources + hub
    assert stats["top_hosts"][0]["host"] == "hub.example"
    ranks = spark.read.parquet(outp)
    assert ranks.count() == 7
    assert ranks.filter("node = 'hub.example'").first().rank == max(
        r.rank for r in ranks.collect())


def test_curate_job_rrf_signals(spark, tmp_path):
    """--rrf-signals fuses two score columns into a single rrf
    ranking column; the doc best on both signals tops the fusion."""
    import pandas as pd

    from jobs import curate

    n = 50
    docs = pd.DataFrame({
        "doc_id": range(n),
        "text": [f"doc {i}" for i in range(n)],
        "s_quality": [float((i * 7) % n) for i in range(n)],
        "s_rank": [float((i * 7) % n) for i in range(n)],
    })
    # doc 43 maximizes (43*7)%50 = 1? compute the argmax instead
    best = max(range(n), key=lambda i: (i * 7) % n)
    inp, outp = str(tmp_path / "in_r"), str(tmp_path / "out_r")
    spark.createDataFrame(docs).write.parquet(inp)
    stats = curate.run(["--input", inp, "--output", outp,
                        "--rrf-signals", "s_quality,s_rank"])
    assert stats["steps"] == ["rrf"]
    out = spark.read.parquet(outp).toPandas()
    assert {"rank_s_quality", "rank_s_rank", "rrf"} <= set(out.columns)
    top = out.sort_values("rrf", ascending=False).iloc[0]
    assert int(top.doc_id) == best
    assert int(top.rank_s_quality) == 1


def test_curate_job_group_cap(spark, tmp_path):
    """--group-cap keeps at most N docs per group; --cap-priority
    keeps the best-scoring ones."""
    import pandas as pd

    from jobs import curate

    docs = pd.DataFrame({
        "doc_id": range(60),
        "lang": ["en"] * 40 + ["de"] * 20,
        "score": [float(i) for i in range(60)],
        "text": [f"doc {i}" for i in range(60)],
    })
    inp, outp = str(tmp_path / "in_c"), str(tmp_path / "out_c")
    spark.createDataFrame(docs).write.parquet(inp)
    stats = curate.run(["--input", inp, "--output", outp,
                        "--group-cap", "5",
                        "--cap-priority", "score"])
    assert stats["steps"] == ["group_cap"]
    out = spark.read.parquet(outp).toPandas()
    per = out.groupby("lang").size()
    assert per["en"] == 5 and per["de"] == 5
    # priority mode kept the top scores of each group
    assert set(out[out.lang == "en"].doc_id) == {35, 36, 37, 38, 39}
    assert set(out[out.lang == "de"].doc_id) == {55, 56, 57, 58, 59}


def test_curate_job_split_sentences(spark, tmp_path):
    """--split-sentences replaces the grain with sentence rows and
    composes with --shards on the sentence key."""
    import pandas as pd

    import pytest as _pytest

    from jobs import curate

    docs = pd.DataFrame({
        "doc_id": range(10),
        "text": [f"First {i}. Second {i}! Third {i}?" for i in range(10)],
    })
    inp, outp = str(tmp_path / "in_s"), str(tmp_path / "out_s")
    spark.createDataFrame(docs).write.parquet(inp)
    stats = curate.run(["--input", inp, "--output", outp,
                        "--split-sentences", "--shards", "4"])
    assert stats["steps"] == ["sentences", "shards"]
    out = spark.read.parquet(outp)
    assert out.count() == 30
    assert {"sentence", "sentence_id", "sentence_key",
            "shard", "pos"} <= set(out.columns)
    assert out.select("shard").distinct().count() <= 4
    with _pytest.raises(SystemExit):
        curate.run(["--input", inp, "--output", outp,
                    "--split-sentences", "--chunk-tokens", "8"])


def test_curate_job_lm_ref_then_quantile(spark, tmp_path):
    """--lm-ref trains a bigram LM on the reference corpus and joins
    lattice log-likelihood scores; chained with --quantile-buckets
    --quantile-score lm_score_q the head bucket is the model-like docs
    (CCNet's head/middle/tail recipe in one plan)."""
    import pandas as pd

    from jobs import curate

    docs = pd.DataFrame({
        "doc_id": range(40),
        "lang": ["en"] * 40,
        "text": (["the quick brown fox jumps over the lazy dog"] * 20
                 + ["zx qv jk wq vz kj xq zv jq kx"] * 20),
    })
    ref = docs.head(20)
    inp, refp, outp = (str(tmp_path / p) for p in ("in_l", "ref_l", "out_l"))
    spark.createDataFrame(docs).write.parquet(inp)
    spark.createDataFrame(ref).write.parquet(refp)
    stats = curate.run(["--input", inp, "--output", outp,
                        "--lm-ref", refp,
                        "--quantile-buckets", "2",
                        "--quantile-score", "lm_score_q"])
    assert stats["steps"] == ["lm_score", "quantile_buckets"]
    out = spark.read.parquet(outp).toPandas()
    assert {"n_bigrams", "n_oov", "lm_score_q", "qbucket"} <= set(out.columns)
    # reference docs: every bigram is deterministic (p=1 → weight 0)
    # except the two successors of "the" (p=1/2 each), so the score is
    # exactly 2*floor(1e6*ln(1/2)); gibberish docs are all-OOV
    top = set(out[out.qbucket == 2].doc_id)
    assert top == set(range(20))
    by_id = out.set_index("doc_id")
    import math
    ref_score = 2 * math.floor(1e6 * math.log(0.5))
    assert (by_id.loc[range(20), "lm_score_q"] == ref_score).all()
    assert (by_id.loc[range(20), "n_oov"] == 0).all()
    assert (by_id.loc[range(20, 40), "n_oov"] == 9).all()
    assert (by_id.loc[range(20, 40), "lm_score_q"] < ref_score).all()
