"""Audit lineage metrics match the decisions they summarize
(reference ancestors: main.py:100-103 count/distinct assessment,
CaseStudy.md:111 completeness ratio, base_agent.py:60-103 envelope)."""

from pyspark.sql import functions as F

from dataquality_spark import audit, config as C, pipeline


def test_audit_totals(pages_sdf, golden):
    enriched = pipeline.with_decisions(pages_sdf)
    a = audit.audit_metrics(enriched).toPandas()

    assert a.n_docs.sum() == len(golden)
    assert a.n_kept.sum() == int(golden.keep.sum())

    # rule_hit_counts map sums to the oracle's per-rule totals
    from collections import Counter
    want = Counter(r for hs in golden.rule_hits for r in hs)
    got = Counter()
    for m in a.rule_hit_counts:
        for k, v in (m or {}).items():
            got[k] += v
    assert got == want

    # completeness fractions are in [0,1]; url is always present
    assert (a.completeness_url == 1.0).all()
    assert a.completeness_text.between(0, 1).all()


def test_audit_distinct_urls(pages_sdf):
    enriched = pipeline.with_decisions(pages_sdf)
    a = audit.audit_metrics(enriched)
    per_part = (enriched.groupBy(C.PARTITION_COL)
                .agg(F.count_distinct("url").alias("want")))
    j = a.join(per_part, C.PARTITION_COL).toPandas()
    assert (j.n_distinct_urls == j.want).all()


def test_audit_one_row_per_partition(pages_sdf):
    enriched = pipeline.with_decisions(pages_sdf)
    agg = audit.audit_metrics(enriched)
    # one hash aggregate: no explode (Generate), no join of its own
    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan(agg)
    assert plan(agg).count("Join") == plan(enriched).count("Join")
    a = agg.toPandas()
    n_parts = enriched.select(C.PARTITION_COL).distinct().count()
    assert len(a) == n_parts
    assert a[C.PARTITION_COL].is_unique
