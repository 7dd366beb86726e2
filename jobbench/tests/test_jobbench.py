"""Tests of the benchmark itself (no Spark needed).

    python -m pytest jobbench/tests -q
"""

from __future__ import annotations

import importlib
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))                    # jobbench/
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))   # repo root

import corpus  # noqa: E402
import ledger  # noqa: E402


@pytest.fixture
def small_corpora(monkeypatch):
    monkeypatch.setattr(corpus, "SHARDS", 2)
    monkeypatch.setattr(corpus, "WEB_DOCS_PER_SHARD", 60)
    monkeypatch.setattr(corpus, "DUP_BASE_PER_SHARD", 20)
    monkeypatch.setattr(corpus, "PREP_PROCS", 2)


@pytest.mark.parametrize("workload", ["web-mixed", "dup-short"])
def test_same_seed_same_corpus(tmp_path, small_corpora, workload):
    a = corpus.prepare(str(tmp_path / "a"), workload, 5)
    b = corpus.prepare(str(tmp_path / "b"), workload, 5)
    c = corpus.prepare(str(tmp_path / "c"), workload, 6)
    da, db, dc = (corpus.corpus_digest(p["input"]) for p in (a, b, c))
    assert da == db
    assert da != dc
    assert a["expected"] == b["expected"]


def test_dup_short_shape(tmp_path, small_corpora):
    import pandas as pd

    p = corpus.prepare(str(tmp_path), "dup-short", 1)
    df = pd.read_parquet(p["input"])
    assert (df["text"].str.count(" ") < 49).all()
    assert not df["text"].str.contains("\n").any()
    per_url = df.groupby("url").size()
    assert 4 <= per_url.median() <= 6          # original + ~4 recrawls
    assert df.duplicated(["url", "text"]).any()
    assert (~df.duplicated(["url", "text"])).sum() > per_url.size


def test_resume_half_restricts_expected(tmp_path, small_corpora):
    web = corpus.prepare(str(tmp_path), "web-mixed", 3)
    half = corpus.prepare(str(tmp_path), "resume-half", 3)
    assert half["input"] == web["input"]
    done = dict(half["done"])
    assert done and set(done).isdisjoint(half["expected"])
    assert set(done) | set(half["expected"]) == set(web["expected"])
    n_all = sum(v[0] for v in web["expected"].values())
    assert n_all / 2 <= sum(done.values()) < n_all


def _write_oracle_decisions(p: dict, out: str, flip: int | None = None):
    """Write the oracle's decisions as a partitioned table, optionally
    with one keep bit flipped."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.dataset as ds

    from dataquality_spark import oracle

    pages = pd.read_parquet(p["input"])
    gold = oracle.run_oracle(pages)
    if flip is not None:
        gold.loc[flip, "keep"] = not gold.loc[flip, "keep"]
    gold["partition_id"] = corpus.partition_of(gold["warc_ts"])
    t = pa.Table.from_pandas(
        gold[["url", "warc_ts", "keep", "rule_hits", "text_scrubbed",
              "partition_id"]], preserve_index=False)
    ds.write_dataset(t, out, format="parquet", partitioning=["partition_id"],
                     partitioning_flavor="hive")


def test_output_check_accepts_oracle_and_rejects_flipped_keep(
        tmp_path, small_corpora):
    p = corpus.prepare(str(tmp_path / "w"), "web-mixed", 2)
    good, bad = str(tmp_path / "good"), str(tmp_path / "bad")
    _write_oracle_decisions(p, good)
    _write_oracle_decisions(p, bad, flip=7)
    assert corpus.check_decisions(good, p["expected"]) == []
    mismatched = corpus.check_decisions(bad, p["expected"])
    assert len(mismatched) == 1


def test_output_check_rejects_missing_partition(tmp_path, small_corpora):
    p = corpus.prepare(str(tmp_path / "w"), "web-mixed", 2)
    out = str(tmp_path / "d")
    _write_oracle_decisions(p, out)
    expected = dict(p["expected"], **{"1999-01": [1, "0" * 64]})
    assert corpus.check_decisions(out, expected) == ["1999-01"]


def test_event_log_per_span_sums():
    sums = ledger.parse_event_log(os.path.join(HERE, "data",
                                               "eventlog_small.jsonl"))
    w = sums["job0|io.write_decisions"]
    assert w["tasks"] == 3
    assert w["run_s"] == pytest.approx(0.6)
    assert w["cpu_s"] == pytest.approx(0.5)
    assert w["gc_s"] == pytest.approx(0.03)
    assert w["input_bytes"] == 3000
    assert w["output_bytes"] == 700
    assert w["py_run_s"] == pytest.approx(0.25)        # timing: ms
    assert w["py_init_s"] == pytest.approx(0.002)      # nsTiming: ns
    assert w["to_py_bytes"] == 5000
    assert w["from_py_bytes"] == 900
    f = sums["job0|pipeline.with_decisions"]
    assert f["tasks"] == 1
    assert f["shuffle_write_bytes"] == 64
    # the re-listed (skipped) stage 1 stays charged to its first job, so
    # the outside job only has its own stage's task
    assert sums["job0|-"]["tasks"] == 1
    assert sums["job0|-"]["shuffle_read_bytes"] == 96


def test_job_ledger_from_spans_and_sums():
    sums = ledger.parse_event_log(os.path.join(HERE, "data",
                                               "eventlog_small.jsonl"))
    spans = [{"tag": "job0", "span": "pipeline.with_decisions", "depth": 0,
              "start": 0.0, "end": 1.0},
             {"tag": "job0", "span": "pipeline.dedup_flags", "depth": 1,
              "start": 0.1, "end": 0.2},
             {"tag": "job0", "span": "io.write_decisions", "depth": 0,
              "start": 1.0, "end": 3.5}]
    led = ledger.job_ledger("job0", 4.0, spans, sums)
    assert led["pipeline.flags_s"] == pytest.approx(1.0)
    assert led["io.write_decisions_s"] == pytest.approx(2.5)
    assert led["unattributed_s"] == pytest.approx(0.5)
    assert led["io.write_MB"] == pytest.approx(700 / 2**20)
    assert led["spark.task_s"] == pytest.approx(0.6 + 0.05 + 0.04)


def test_tracer_wraps_layer_functions(monkeypatch):
    class FakeContext:
        def __init__(self):
            self.descriptions = []

        def setJobDescription(self, d):
            self.descriptions.append(d)

    from dataquality_spark import resume

    orig = resume.filter_remaining
    sc = FakeContext()
    tracer = ledger.Tracer(sc)
    for modname in ledger.LAYER_MODULES:
        mod = importlib.import_module(modname)
        for name, fn in list(vars(mod).items()):
            monkeypatch.setattr(mod, name, fn)   # restored after the test
    tracer.install()
    tracer.begin("job3")
    assert resume.filter_remaining is not orig
    assert resume.filter_remaining("pages", []) == "pages"
    assert [s["span"] for s in tracer.spans] == ["resume.filter_remaining"]
    assert sc.descriptions == ["job3|-", "job3|resume.filter_remaining",
                               "job3|-"]
    assert json.dumps(tracer.spans)
