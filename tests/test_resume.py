"""Resume/lineage invariance (SURVEY.md §5.2-4): kill after k partitions,
resume, final tables identical — including url-duplicates whose original
lives in an already-completed partition."""

import os

import duckdb
import pandas as pd
import pytest

from dataquality_spark import config as C, oracle, synth
from jobs import run_pipeline


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus")
    synth.write_pages(str(d), 800, seed=43)
    return str(d)


def _read_decisions(out_dir):
    return duckdb.sql(
        f"SELECT * FROM read_parquet('{out_dir}/decisions/*/*.parquet', "
        "hive_partitioning=true)").df()


def test_partial_then_resume_equals_single_run(spark, corpus_dir, tmp_path):
    inp = os.path.join(corpus_dir, "pages.parquet")
    split_out = str(tmp_path / "split")
    full_out = str(tmp_path / "full")

    # killed-after-4-partitions simulation + resume
    run_pipeline.run(["--input", inp, "--output", split_out,
                      "--max-partitions", "4"])
    s1 = run_pipeline.run(["--input", inp, "--output", split_out])
    assert s1["skipped_partitions"] == 4

    run_pipeline.run(["--input", inp, "--output", full_out, "--no-resume"])

    a = _read_decisions(split_out).sort_values(["url", "warc_ts"]) \
        .reset_index(drop=True)
    b = _read_decisions(full_out).sort_values(["url", "warc_ts"]) \
        .reset_index(drop=True)
    assert len(a) == len(b) == 800
    for col in ["url", "keep", "lang_pred", "text_scrubbed"]:
        assert (a[col].fillna("") == b[col].fillna("")).all(), col
    assert (a.rule_hits.map(tuple) == b.rule_hits.map(tuple)).all()

    # and both equal the oracle
    gold = oracle.run_oracle(pd.read_parquet(inp))
    m = gold.merge(a, on=["url", "warc_ts"], suffixes=("_g", "_s"))
    assert (m.keep_g == m.keep_s).all()

    # exactly one manifest row per partition across both runs
    mf = duckdb.sql(f"SELECT partition_id, count(*) c FROM "
                    f"read_parquet('{split_out}/manifests/*.parquet') "
                    "GROUP BY 1").df()
    assert (mf.c == 1).all()


@pytest.mark.parametrize("uri", [False, True], ids=["path", "uri"])
def test_rerun_is_noop(spark, corpus_dir, tmp_path, uri):
    inp = os.path.join(corpus_dir, "pages.parquet")
    out = str(tmp_path / "noop")
    target = f"file://{out}" if uri else out
    run_pipeline.run(["--input", inp, "--output", target])
    s = run_pipeline.run(["--input", inp, "--output", target])
    assert s["n_docs"] == 0
    assert s["skipped_partitions"] > 0
    assert len(_read_decisions(out)) == 800
