"""Six-pillar data-quality profiling operators over arbitrary tables.

Spark-native re-expression of the relational shapes the reference emits
as generated SQL (SURVEY.md §2.B; /root/reference/DataQuality_AI_CaseStudy.md
worked examples at :736-781, :812-879, :890-924, :936-1011):

* completeness_profile — per-column non-null ratio in ONE table scan
  (the reference's per-column UNION ALL shape, CaseStudy.md:736-747,
  rescans the table once per column; we aggregate every column in a
  single HashAggregate and unpivot with stack()).
* uniqueness_profile — COUNT(DISTINCT col) + composite keys
  (CaseStudy.md:822-824), exact or approx_count_distinct at scale.
* validity_conditional — CASE-WHEN range/domain pass counts
  (CaseStudy.md:836-838).
* consistency_orphans / consistency_full_outer — referential probes via
  anti-join and full outer join (CaseStudy.md:890-924).
* timeliness_buckets — recency CASE categorizer against a fixed cutoff
  (CaseStudy.md:945; no wall clock — determinism).
* drift_monthly — month-bucketed metric + LAG month-over-month change +
  threshold alert labels (CaseStudy.md:936-1011).

Scale notes: every operator is a single scan plus at most one shuffle
(the groupBy/distinct); completeness/validity are map-side-combinable
aggregates; joins take broadcast hints when one side is a dimension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Order-independent aggregation of currency-like double columns: round to
# an integer cents lattice, sum exactly in long, divide once at the end.
# Double sums are partition-order-dependent; long sums are exact, so the
# result is reproducible bit-for-bit across engines and cluster sizes.


def _cents(col) -> "F.Column":
    return F.round(F.col(col) * 100, 0).cast("long")


def avg_exact(col, alias: str):
    """Order-independent mean of a 2-dp double column."""
    return (F.sum(_cents(col)) / 100.0 / F.count(col)).alias(alias)


def completeness_profile(df: DataFrame, columns: list[str] | None = None
                         ) -> DataFrame:
    """Per-column (column_name, n_total, n_nonnull, completeness_pct).

    One scan, one aggregate row, unpivoted via stack — never the
    reference's N-scan UNION ALL fan-out.
    """
    cols = columns or df.columns
    agg = df.agg(
        F.count(F.lit(1)).alias("_total"),
        *[F.count(F.col(c)).alias(f"_nn_{c}") for c in cols],
    )
    stack_args = ", ".join(f"'{c}', _nn_{c}" for c in cols)
    return (agg.select(
                F.col("_total"),
                F.expr(f"stack({len(cols)}, {stack_args}) "
                       "as (column_name, n_nonnull)"))
            .select(
                "column_name",
                F.col("_total").alias("n_total"),
                "n_nonnull",
                (F.col("n_nonnull") * 100.0 / F.col("_total"))
                .alias("completeness_pct")))


def uniqueness_profile(df: DataFrame, columns: list[str],
                       composite: list[str] | None = None,
                       approx: bool = False) -> DataFrame:
    """One row: n_rows + distinct count per column (+ composite key).

    `approx=True` switches to HLL approx_count_distinct for the
    10^9-row regime where exact distinct is a full shuffle per column.
    """
    cnt = F.approx_count_distinct if approx else F.count_distinct
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    aggs += [cnt(F.col(c)).alias(f"distinct_{c}") for c in columns]
    if composite:
        key = F.concat_ws("|", *[F.col(c).cast("string") for c in composite])
        aggs.append(cnt(key).alias("distinct_composite"))
    return df.agg(*aggs)


def validity_conditional(df: DataFrame, checks: list[tuple[str, "F.Column"]]
                         ) -> DataFrame:
    """CASE-WHEN pass counts: one row with n_rows + per-check pass count
    and pass percentage. `checks` = [(name, boolean Column), ...]."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for name, cond in checks:
        aggs.append(F.sum(F.when(cond, 1).otherwise(0)).alias(f"pass_{name}"))
    out = df.agg(*aggs)
    for name, _ in checks:
        # ROUND to a fixed scale: cross-engine float division bit
        # patterns are only guaranteed identical after rounding.
        out = out.withColumn(
            f"pct_{name}",
            F.round(F.col(f"pass_{name}") * 100.0 / F.col("n_rows"), 4))
    return out


def exact_percentiles(df: DataFrame,
                      col_probs: dict[str, list[tuple[float, str]]],
                      round_decimals: int = 4,
                      range_partitions: int = 32,
                      approx: bool = False,
                      method: str = "histogram",
                      sketch_accuracy: int = 10_000) -> DataFrame:
    """EXACT interpolated percentiles (DuckDB quantile_cont / Spark
    percentile semantics) as ONE wide row, without ever buffering raw
    values in an aggregation state.

    ``col_probs``: {column: [(prob, output_alias), ...]}.

    Spark's built-in exact ``percentile()`` collects every value of a
    group into one aggregation buffer — an OOM/sort explosion at 10^9+
    rows. Two scale-safe exact formulations:

    ``method="sketch"`` — sketch-bracketed exact selection, zero wide
    shuffles:
      1. one scan: per-column non-null counts + a GK approx_percentile
         sketch queried a rank-margin below/above each target — GK's
         DETERMINISTIC ε = 1/accuracy bound makes the returned value
         window provably contain the target ranks;
      2. one scan: exact count of values below each window (map-side
         combined conditional sums);
      3. one scan: the in-window values only (≈ 6·n/accuracy rows by
         the sketch guarantee) → tiny groupBy + running sum → the ≤2
         bracketing rows per percentile reach the driver.
      Columns with n < 4·accuracy skip the window (the whole column is
      already tiny). Best when partial sketches stay small — i.e. up to
      n ≈ accuracy², beyond which the final sketch merge concentrates
      on one reducer.

    ``method="histogram"`` (default) — distributed (value, count)
    histogram → repartitionByRange two-phase cumulative ranks → bracket
    rows. One groupBy + one range shuffle of the DISTINCT values; no
    sketch state anywhere — the robust choice at 10^11+ rows with
    high-cardinality columns, and locally both methods floor at the
    same ~3-job overhead (measured equal at sf0.1).

    ``approx=True`` short-circuits to the raw approx_percentile sketch
    (rank error ≤ n/accuracy, cheapest possible single pass).
    """
    aliases = [a for ps in col_probs.values() for _, a in ps]
    if approx:
        aggs = []
        for col, ps in col_probs.items():
            for p, alias in ps:
                aggs.append(F.round(
                    F.expr(f"approx_percentile({col}, {p}, "
                           f"{sketch_accuracy})")
                    .cast("double"), round_decimals).alias(alias))
        return df.agg(*aggs)

    spark = df.sparkSession
    if method == "sketch":
        out = _sketch_percentile_targets(df, col_probs, sketch_accuracy)
        one = spark.createDataFrame(
            [tuple(out[a] for a in aliases)],
            ", ".join(f"`{a}` double" for a in aliases))
        return one.select(*[F.round(F.col(a), round_decimals).alias(a)
                            for a in aliases])
    structs = [F.struct(F.lit(col).alias("tag"),
                        F.col(col).cast("double").alias("v"))
               for col in col_probs]
    vals = (df.select(F.explode(F.array(*structs)).alias("s"))
            .select("s.tag", "s.v").filter(F.col("v").isNotNull()))
    counts = vals.groupBy("tag", "v").agg(F.count(F.lit(1)).alias("cnt"))
    parts = (counts.repartitionByRange(range_partitions, "tag", "v")
             .withColumn("pid", F.spark_partition_id())
             .persist())
    try:
        # Driver-side coordination is BOUNDED: one row per (column,
        # range-partition) here, ≤2 rows per requested percentile below —
        # independent of data volume (same class as report-row collects).
        sub = parts.groupBy("tag", "pid").agg(F.sum("cnt").alias("s")) \
                   .collect()
        # per tag: sorted [(pid, global_offset, size)]
        spans: dict[str, list[tuple[int, int, int]]] = {}
        n_by_tag: dict[str, int] = {}
        offs: dict[tuple[str, int], int] = {}
        for r in sorted(sub, key=lambda r: (r["tag"], r["pid"])):
            off = n_by_tag.get(r["tag"], 0)
            offs[(r["tag"], r["pid"])] = off
            spans.setdefault(r["tag"], []).append((r["pid"], off, r["s"]))
            n_by_tag[r["tag"]] = off + r["s"]

        def pid_of(tag: str, idx: int) -> int:
            for pid, off, size in spans[tag]:
                if off <= idx < off + size:
                    return pid
            raise AssertionError(f"rank {idx} not found for {tag}")

        # Which global 0-based sorted indexes we need, and in which
        # range partition each one lives.
        want: dict[str, list[tuple[float, str, int, int, float]]] = {}
        need_pids: set[tuple[str, int]] = set()
        for col, ps in col_probs.items():
            n = n_by_tag.get(col, 0)
            for p, alias in ps:
                if n == 0:
                    want.setdefault(col, []).append((p, alias, -1, -1, 0.0))
                    continue
                k = (n - 1) * float(p)
                lo, hi = int(k // 1), -int(-k // 1)
                want.setdefault(col, []).append((p, alias, lo, hi, k - lo))
                need_pids.add((col, pid_of(col, lo)))
                need_pids.add((col, pid_of(col, hi)))
        # (tag, pid) -> local 0-based indexes wanted inside that partition
        need_lidx: dict[tuple[str, int], set[int]] = {}
        for col, ps in want.items():
            for p, alias, lo, hi, frac in ps:
                if lo < 0:
                    continue
                for idx in (lo, hi):
                    key = (col, pid_of(col, idx))
                    need_lidx.setdefault(key, set()).add(idx - offs[key])
        if need_lidx:
            pid_pred = F.lit(False)
            for t, pid in need_lidx:
                pid_pred = pid_pred | ((F.col("tag") == t)
                                       & (F.col("pid") == pid))
            w_local = (Window.partitionBy("tag", "pid").orderBy("v")
                       .rowsBetween(Window.unboundedPreceding,
                                    Window.currentRow))
            # keep ONLY the bracketing rows: the collect is ≤2 rows per
            # requested percentile no matter the data volume
            brack = F.lit(False)
            for (t, pid), lidxs in need_lidx.items():
                here = (F.col("tag") == t) & (F.col("pid") == pid)
                hit = F.lit(False)
                for li in lidxs:
                    hit = hit | ((F.col("lcum") - F.col("cnt") <= li)
                                 & (F.col("lcum") > li))
                brack = brack | (here & hit)
            rows = (parts.filter(pid_pred)
                    .withColumn("lcum", F.sum("cnt").over(w_local))
                    .filter(brack)
                    .collect())
        else:
            rows = []
        # Per-tag global cumulative position of each collected row.
        by_tag: dict[str, list[tuple[int, int, float]]] = {}
        for r in rows:
            cum = offs[(r["tag"], r["pid"])] + r["lcum"]
            by_tag.setdefault(r["tag"], []).append((cum - r["cnt"], cum,
                                                    r["v"]))

        def value_at(tag: str, idx: int) -> float | None:
            for prev, cum, v in by_tag.get(tag, []):
                if prev <= idx < cum:
                    return v
            return None

        out: dict[str, float | None] = {}
        for col, ps in want.items():
            for p, alias, lo, hi, frac in ps:
                if lo < 0:
                    out[alias] = None
                    continue
                vlo, vhi = value_at(col, lo), value_at(col, hi)
                out[alias] = vlo + (vhi - vlo) * frac
    finally:
        parts.unpersist()
    one = spark.createDataFrame(
        [tuple(out[a] for a in aliases)],
        ", ".join(f"`{a}` double" for a in aliases))
    # final rounding stays Spark-side so HALF_UP ties break identically
    # to the other contract queries
    return one.select(*[F.round(F.col(a), round_decimals).alias(a)
                        for a in aliases])


def _sketch_percentile_targets(df: DataFrame,
                               col_probs: dict,
                               accuracy: int) -> dict:
    """{alias: exact interpolated value} via sketch-bracketed selection
    (see exact_percentiles docstring). The GK bound is deterministic, so
    the window ALWAYS contains ranks floor(k)/ceil(k); the exact answer
    comes from integer counts, never from the sketch value itself.
    """
    # pass 1 — one scan: non-null counts + windows. Querying the sketch
    # at p ± 3/accuracy gives a rank margin of 3·n/accuracy, which
    # exceeds the ε·n = n/accuracy error by 2·n/accuracy ≥ 8 ranks
    # whenever n ≥ 4·accuracy; below that the whole column is tiny and
    # the window opens fully.
    eps3 = 3.0 / accuracy
    aggs = []
    for col, ps in col_probs.items():
        aggs.append(F.count(F.col(col)).alias(f"__n_{col}"))
        qs = []
        for p, alias in ps:
            qs += [max(0.0, p - eps3), min(1.0, p + eps3)]
        arr = ", ".join(repr(q) for q in qs)
        aggs.append(F.expr(
            f"approx_percentile(`{col}`, array({arr}), {accuracy})")
            .alias(f"__w_{col}"))
    row1 = df.agg(*aggs).collect()[0]

    # per column: target ranks + a single [lo, hi] value window
    want: dict[str, list[tuple[str, int, int, float]]] = {}
    win: dict[str, tuple[float, float] | None] = {}
    n_by: dict[str, int] = {}
    for col, ps in col_probs.items():
        n = int(row1[f"__n_{col}"] or 0)
        n_by[col] = n
        w = row1[f"__w_{col}"]
        lows, highs = [], []
        for j, (p, alias) in enumerate(ps):
            if n == 0:
                want.setdefault(col, []).append((alias, -1, -1, 0.0))
                continue
            k = (n - 1) * float(p)
            lo, hi = int(k // 1), -int(-k // 1)
            want.setdefault(col, []).append((alias, lo, hi, k - lo))
            lows.append(float(w[2 * j]))
            highs.append(float(w[2 * j + 1]))
        if n == 0:
            win[col] = None
        elif n < 4 * accuracy:
            win[col] = (float("-inf"), float("inf"))
        else:
            win[col] = (min(lows), max(highs))

    # pass 2 — one scan: exact count strictly below each window start
    # (the global offset of the window's first in-window rank)
    aggs2 = []
    for col, w in win.items():
        if w is None:
            continue
        lo = w[0]
        cond = (F.lit(False) if lo == float("-inf")
                else (F.col(col) < F.lit(lo)))
        aggs2.append(F.sum(F.when(cond, 1).otherwise(0)).cast("long")
                     .alias(f"__b_{col}"))
    below = {c: 0 for c in col_probs}
    if aggs2:
        row2 = df.agg(*aggs2).collect()[0]
        for col, w in win.items():
            if w is not None:
                below[col] = int(row2[f"__b_{col}"] or 0)

    # pass 3 — one scan: ONLY in-window values through a tiny groupBy +
    # running sum; keep the ≤2 bracketing rows per target
    structs, preds = [], []
    for col, w in win.items():
        if w is None:
            continue
        lo, hi = w
        pred = F.col(col).isNotNull()
        if lo != float("-inf"):
            pred = pred & (F.col(col) >= F.lit(lo)) \
                        & (F.col(col) <= F.lit(hi))
        structs.append(F.when(pred, F.struct(
            F.lit(col).alias("tag"),
            F.col(col).cast("double").alias("v"))))
    by_tag: dict[str, list[tuple[int, int, float]]] = {}
    if structs:
        sub = (df.select(F.explode(F.array_compact(F.array(*structs)))
                         .alias("s"))
               .select("s.tag", "s.v")
               .groupBy("tag", "v").agg(F.count(F.lit(1)).alias("cnt")))
        w_cum = (Window.partitionBy("tag").orderBy("v")
                 .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        cum = sub.withColumn("lcum", F.sum("cnt").over(w_cum))
        brack = F.lit(False)
        for col, ps in want.items():
            if win[col] is None:
                continue
            hit = F.lit(False)
            for alias, lo, hi, frac in ps:
                for idx in (lo, hi):
                    li = idx - below[col]
                    hit = hit | ((F.col("lcum") - F.col("cnt") <= li)
                                 & (F.col("lcum") > li))
            brack = brack | ((F.col("tag") == col) & hit)
        for r in cum.filter(brack).collect():
            g = below[r["tag"]] + r["lcum"]
            by_tag.setdefault(r["tag"], []).append(
                (g - r["cnt"], g, r["v"]))

    def value_at(tag: str, idx: int) -> float:
        for prev, cumv, v in by_tag.get(tag, []):
            if prev <= idx < cumv:
                return v
        raise AssertionError(
            f"rank {idx} not bracketed for {tag} — sketch window bug")

    out: dict[str, float | None] = {}
    for col, ps in want.items():
        for alias, lo, hi, frac in ps:
            if lo < 0:
                out[alias] = None
                continue
            vlo, vhi = value_at(col, lo), value_at(col, hi)
            out[alias] = vlo + (vhi - vlo) * frac
    return out


def consistency_orphans(fact: DataFrame, dim: DataFrame,
                        fact_key: str, dim_key: str) -> DataFrame:
    """Referential-integrity probe: counts of fact rows with no matching
    dim row and dim rows with no matching fact row (anti-joins; the dim
    side is broadcast)."""
    dimb = F.broadcast(dim.select(dim_key).distinct())
    orphan_fact = fact.join(
        dimb, fact[fact_key] == dimb[dim_key], "left_anti").count()
    factk = fact.select(fact_key).distinct()
    orphan_dim = dim.join(
        F.broadcast(factk), dim[dim_key] == factk[fact_key],
        "left_anti").count()
    spark = fact.sparkSession
    return spark.createDataFrame(
        [(orphan_fact, orphan_dim)],
        "orphan_fact_rows bigint, orphan_dim_rows bigint")


def consistency_full_outer(left: DataFrame, right: DataFrame,
                           left_key: str, right_key: str) -> DataFrame:
    """Symmetric diff via FULL OUTER JOIN → (match_status, n) rows."""
    l = left.select(F.col(left_key).alias("_lk")).distinct()
    r = right.select(F.col(right_key).alias("_rk")).distinct()
    j = l.join(r, l["_lk"] == r["_rk"], "full_outer")
    status = (F.when(F.col("_lk").isNotNull() & F.col("_rk").isNotNull(),
                     "both")
              .when(F.col("_lk").isNotNull(), "left_only")
              .otherwise("right_only"))
    return (j.select(status.alias("match_status"))
             .groupBy("match_status").agg(F.count(F.lit(1)).alias("n")))


def timeliness_buckets(df: DataFrame, ts_col: str, cutoffs: list[str],
                       labels: list[str]) -> DataFrame:
    """Recency CASE categorizer: len(cutoffs)+1 buckets against FIXED
    ISO timestamps (cutoffs ascending; label[i] applies below cutoff[i])."""
    assert len(labels) == len(cutoffs) + 1
    expr = None
    for i, cut in enumerate(cutoffs):
        # string literal auto-casts to the column's timestamp flavor
        # (parquet reads back TIMESTAMP_NTZ in Spark 4 — an explicit
        # cast("timestamp") would force TIMESTAMP_LTZ and fail to compare).
        cond = F.col(ts_col) < F.lit(cut)
        expr = F.when(cond, labels[i]) if expr is None else expr.when(
            cond, labels[i])
    expr = expr.otherwise(labels[-1])
    return (df.select(expr.alias("recency_bucket"))
              .groupBy("recency_bucket")
              .agg(F.count(F.lit(1)).alias("n")))


def psi_drift(df: DataFrame, value_col: str, ts_col: str, cutoff: str,
              lo: float, hi: float, bins: int = 10,
              eps: float = 1e-6) -> DataFrame:
    """Population Stability Index between the reference period
    (ts < cutoff) and the current period (ts >= cutoff) — the standard
    feature-distribution drift metric behind the reference's AI
    feature-stability pillar (CaseStudy.md:154-161; drift_monthly
    covers volume/mean drift, this covers SHAPE drift).

    Fixed explicit bin edges (lo, hi, bins equal-width buckets, values
    clamped into [0, bins-1]) — deterministic on any engine and any
    cluster size, unlike quantile-derived edges. Per bin:
    psi_contrib = (p_cur - p_ref) * ln((p_cur+eps)/(p_ref+eps)); the
    total PSI is their sum (>0.2 = major shift by the usual rule).

    Output: (bin, n_ref, n_cur, p_ref, p_cur, psi_contrib) for every
    bin 0..bins-1 (empty bins included), rounded to 6 dp. Rows with a
    NULL/NaN value or NULL timestamp are excluded from both periods.

    Scale: one partial+final HashAggregate keyed on (bin, period) —
    2·bins rows reach the final stage; the scan is a single pass.
    """
    if bins < 1:
        raise ValueError(f"psi_drift: bins must be >= 1, got {bins}")
    if not hi > lo:
        # width 0 would make floor(x/0) NULL and silently exclude every
        # row (empty histogram, PSI 0) instead of surfacing the misuse
        raise ValueError(f"psi_drift: hi ({hi}) must be > lo ({lo})")
    width = (hi - lo) / bins
    # clamp the LONG floor result before narrowing to int — an extreme
    # outlier (sentinel 9.9e15) must land in the edge bin, not
    # integer-wrap into an arbitrary one; NaN (≠ NULL) is excluded
    # explicitly, otherwise its long-cast would silently land in bin 0
    vd = F.col(value_col).cast("double")
    bucket = F.when(
        vd.isNotNull() & ~F.isnan(vd),
        F.least(F.lit(bins - 1).cast("long"),
                F.greatest(F.lit(0).cast("long"),
                           F.floor((vd - F.lit(float(lo)))
                                   / F.lit(float(width))))).cast("int"))
    counted = (df.withColumn("_bin", bucket)
               .withColumn("_cur",
                           (F.col(ts_col) >= F.lit(cutoff)).cast("int"))
               .groupBy("_bin")
               .agg(F.sum(F.when(F.col("_cur") == 0, 1).otherwise(0))
                    .cast("long").alias("n_ref"),
                    F.sum(F.col("_cur")).cast("long").alias("n_cur")))
    all_bins = df.sparkSession.range(bins).select(
        F.col("id").cast("int").alias("bin"))
    filled = (all_bins.join(counted.withColumnRenamed("_bin", "bin"),
                            "bin", "left")
              .fillna(0, ["n_ref", "n_cur"]))
    totals = filled.agg(
        F.greatest(F.sum("n_ref"), F.lit(1)).alias("_tr"),
        F.greatest(F.sum("n_cur"), F.lit(1)).alias("_tc"))
    p_ref = F.col("n_ref").cast("double") / F.col("_tr").cast("double")
    p_cur = F.col("n_cur").cast("double") / F.col("_tc").cast("double")
    contrib = (p_cur - p_ref) * F.log((p_cur + F.lit(eps))
                                      / (p_ref + F.lit(eps)))
    return (filled.crossJoin(F.broadcast(totals))
            .withColumn("p_ref", F.round(p_ref, 6))
            .withColumn("p_cur", F.round(p_cur, 6))
            .withColumn("psi_contrib", F.round(contrib, 6))
            .drop("_tr", "_tc")
            .orderBy("bin"))


def drift_monthly(df: DataFrame, ts_col: str, value_col: str,
                  high_pct: float = 50.0, medium_pct: float = 25.0
                  ) -> DataFrame:
    """Month-over-month drift of row count + mean(value) with LAG and
    threshold labels — the reference's registration-drift query
    (CaseStudy.md:936-974) grafted onto any (timestamp, value) pair.

    Output: month, n, mean_value, prev_n, pct_change, drift_status,
    ordered by month. The window has a single global ordering over the
    ~tens of month rows produced by the aggregate — the heavy lifting
    (groupBy month) is a distributed partial+final HashAggregate; only
    the month-level rows pass through the unpartitioned window.
    """
    monthly = (df.groupBy(F.date_format(ts_col, "yyyy-MM").alias("month"))
                 .agg(F.count(F.lit(1)).alias("n"),
                      avg_exact(value_col, "mean_value")))
    w = Window.orderBy("month")
    out = (monthly
           .withColumn("prev_n", F.lag("n", 1).over(w))
           .withColumn(
               "pct_change",
               F.when(F.col("prev_n").isNotNull() & (F.col("prev_n") != 0),
                      F.round((F.col("n") - F.col("prev_n")) * 100.0
                              / F.col("prev_n"), 2)))
           .withColumn(
               "drift_status",
               F.when(F.col("pct_change").isNull(), "Baseline")
               .when(F.abs(F.col("pct_change")) > high_pct, "High Drift Alert")
               .when(F.abs(F.col("pct_change")) > medium_pct, "Medium Drift")
               .otherwise("Stable")))
    return out.orderBy("month")


def group_quality_report(df: DataFrame, group_col: str,
                         score_col: str = "quality_score",
                         text_col: str = "text",
                         keep_threshold: float = 0.5,
                         scale: int = 10_000) -> DataFrame:
    """Per-domain corpus report (the RefinedWeb/C4 "inspect quality by
    source/host before filtering" step): for each group —

    * n_docs, n_unique_texts (distinct md5 of the text; NULL counted
      as ''), dup_frac = 1 - unique/docs;
    * score_sum_i — the score summed on its integer lattice
      (round(score*scale) as BIGINT, order-free exact);
    * mean_score — ONE double division of the lattice sum;
    * keep_rate — fraction with score >= keep_threshold, compared ON
      THE LATTICE (score_i >= threshold*scale) so the cut is exact
      cross-engine.

    Scale design: one map-side-combined hash aggregate keyed on the
    group; the distinct-text count is a first (group, md5) aggregate
    whose shuffle rows are slim 48-byte pairs collapsing to distinct
    texts per group — document text itself reaches no exchange. At
    10^12 docs the output is |domains| rows — the table a curation
    run eyeballs before choosing blocklists and thresholds.
    """
    thr_i = int(round(keep_threshold * scale))
    score_i = F.round(F.col(score_col) * scale).cast("long")
    base = df.select(
        F.col(group_col).alias("grp"),
        score_i.alias("_score_i"),
        F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("_th"))
    per_text = base.groupBy("grp", "_th").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("_score_i").alias("score_sum_i"),
        F.sum((F.col("_score_i") >= thr_i).cast("long")).alias("kept"))
    out = per_text.groupBy("grp").agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_unique_texts"),
        F.sum("score_sum_i").cast("long").alias("score_sum_i"),
        F.sum("kept").cast("long").alias("_kept"))
    return (out.select(
        F.col("grp").alias(group_col),
        "n_docs", "n_unique_texts",
        F.round(1.0 - F.col("n_unique_texts").cast("double")
                / F.col("n_docs").cast("double"), 6).alias("dup_frac"),
        "score_sum_i",
        F.round(F.col("score_sum_i").cast("double")
                / (F.col("n_docs").cast("double") * scale), 6)
        .alias("mean_score"),
        F.round(F.col("_kept").cast("double")
                / F.col("n_docs").cast("double"), 6).alias("keep_rate")))


def group_topk(df: DataFrame, group_col: str, score_col: str,
               id_col: str, k: int = 3, ascending: bool = False,
               scale: int = 10_000) -> DataFrame:
    """Per-group exemplars: the top (or bottom) k rows of every group
    by score — the "read the best/worst documents per domain" step a
    curation reviewer runs next to group_quality_report before
    committing thresholds.

    Ordering is total and engine-exact: the score on its integer
    lattice (round(score·scale) as BIGINT, NULL score ranks last)
    descending (or ascending), then id_col ascending as the
    tie-break. Output: (group_col, rnk 1..k, id_col, score_i).

    Scale design: ONE exchange keyed on the group + per-group sort —
    the same shape as shard_assign; with |domains| groups the sorts
    parallelize and no global order is ever materialized. Only
    (group, id, score_i) rows shuffle.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    si = F.round(F.col(score_col) * scale).cast("long")
    base = df.select(F.col(group_col).alias("grp"),
                     F.col(id_col),
                     F.coalesce(si, F.lit(-1)).alias("score_i"))
    order = [F.asc("score_i") if ascending else F.desc("score_i"),
             F.asc(id_col)]
    w = Window.partitionBy("grp").orderBy(*order)
    return (base.withColumn("rnk",
                            F.row_number().over(w).cast("long"))
            .filter(F.col("rnk") <= k)
            .select(F.col("grp").alias(group_col), "rnk",
                    F.col(id_col), "score_i"))


def merge_group_reports(reports: DataFrame, group_col: str,
                        scale: int = 10_000,
                        keep_threshold: float = 0.5) -> DataFrame:
    """Re-aggregate saved per-shard/per-run `group_quality_report`
    outputs into one corpus-level report — the incremental path: a
    100 TB corpus profiles shard-by-shard (or run-by-run), persists
    the tiny per-domain rows, and merges them here without ever
    touching the documents again.

    Exactly mergeable columns (counts and the lattice score sum) are
    summed; the ratios are recomputed from the merged integers, so
    the result equals a single-pass report over the union — EXCEPT
    n_unique_texts/dup_frac, which are upper-bounded by the sum of
    per-shard distincts (a text duplicated ACROSS shards counts once
    per shard; exact cross-shard distincts require the hashes, which
    is `exact_dedup_cross`'s job). The keep count is reconstructed
    from keep_rate·n_docs (exact — it was computed as kept/n_docs).

    Scale design: input is |domains|·|shards| slim rows; one hash
    aggregate. Output schema matches group_quality_report plus
    `n_unique_texts_ub` honesty-renamed for the bound.
    """
    kept = F.round(F.col("keep_rate")
                   * F.col("n_docs").cast("double")).cast("long")
    agg = (reports
           .select(F.col(group_col).alias("grp"),
                   "n_docs", "n_unique_texts", "score_sum_i",
                   kept.alias("_kept"))
           .groupBy("grp")
           .agg(F.sum("n_docs").cast("long").alias("n_docs"),
                F.sum("n_unique_texts").cast("long")
                .alias("n_unique_texts_ub"),
                F.sum("score_sum_i").cast("long").alias("score_sum_i"),
                F.sum("_kept").cast("long").alias("_kept")))
    return agg.select(
        F.col("grp").alias(group_col),
        "n_docs", "n_unique_texts_ub", "score_sum_i",
        F.round(F.col("score_sum_i").cast("double")
                / (F.col("n_docs").cast("double") * scale), 6)
        .alias("mean_score"),
        F.round(F.col("_kept").cast("double")
                / F.col("n_docs").cast("double"), 6).alias("keep_rate"))
