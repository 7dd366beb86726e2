"""Per-partition audit lineage + rule-hit metrics (FIXTURES.md §3).

Reference ancestry: the AgentResult envelope + execution timing
(/root/reference/agents/base_agent.py:60-103) and usage-stats accumulator
(/root/reference/services/llm_service.py:127-136, main.py:518-539) become
one audit row per corpus partition; the reference's canonical
row-count / distinct-count assessment (/root/reference/main.py:100-103 —
including its invalid `COUNT(DISTINCT *)`, which we define properly as
distinct-url count per SURVEY.md §7 risk 5) becomes the n_docs /
n_distinct_urls columns; per-column completeness is the reference's
completeness ratio aggregate (DataQuality_AI_CaseStudy.md:111).

All aggregation is partial+final HashAggregate over partition_id — one
shuffle, map-side combined.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import config as C

COMPLETENESS_COLUMNS = ["url", "warc_ts", "text", "lang"]


def audit_metrics(enriched: DataFrame) -> DataFrame:
    """One audit row per partition_id from the with_decisions() frame.

    rule_hit_counts sums one `array_contains` per rule — exact because
    `rule_hits` lists a rule at most once (pipeline.assemble_rules) — keyed
    in sorted(config.ALL_RULES) order, zero-hit rules dropped."""
    rules = sorted(C.ALL_RULES)
    completeness = [
        F.round(F.count(c).cast("double") / F.count(F.lit(1)),
                C.SCORE_DECIMALS).alias(f"completeness_{c}")
        for c in COMPLETENESS_COLUMNS
    ]
    hit_counts = F.map_from_arrays(
        F.array(*[F.lit(r) for r in rules]),
        F.array(*[F.sum(F.array_contains("rule_hits", r).cast("long"))
                  for r in rules]))
    return enriched.groupBy(C.PARTITION_COL).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.count_distinct("url").alias("n_distinct_urls"),
        F.sum("pii_email").cast("long").alias("n_pii_email"),
        F.sum("pii_phone").cast("long").alias("n_pii_phone"),
        F.sum("pii_ipv4").cast("long").alias("n_pii_ipv4"),
        F.sum("pii_toxicity").cast("long").alias("n_pii_toxicity"),
        *completeness,
        F.map_filter(hit_counts, lambda _, v: v > 0).alias("rule_hit_counts"),
    )
