"""Two-cluster-size scaling evidence (north rule: throughput scaling
efficiency ≥0.8 from N to 4N executors, proxied in-sandbox by local[N]
vs local[4N] on the SAME input).

    python tools/scaling_bench.py [--n-docs 60000] [--sizes N,4N]
        [--trials 3] [--alternate N] [--fit] [--out BENCH/scaling.json]

The default sizes are N = max(1, cpus // 4) and 4N, where cpus is
$SPARK_GRAFT_CPUS (fallback: all cores), so the high size never asks for
more slots than the host has.

Writes the corpus once (64 parquet splits so every size sees identical
input parallelism), then times in a fresh subprocess per cluster size
(cold JVM each — no cross-run cache leaks) BOTH:

* ``full``    the complete decision pipeline (dedup join + fused model
              UDF + rule assembly) — the job the north rule scales;
* ``models``  ONLY the fused model stage (scan → one Arrow crossing →
              langid + heuristics + gated perplexity + scrub → agg) —
              the isolatable compute stage, free of the tiny driver-side
              barriers, whose efficiency extrapolates to real multi-node
              executors that do not share one memory bus.

``--fit`` adds an Amdahl/USL-style least-squares fit T(c) = s + p/c over
the measured sizes and reports the serial fraction and the efficiency
the fit predicts for an N→4N step — the artifact that separates
"algorithmic serial fraction" from "shared-VM memory-bus ceiling".
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

RUNNER = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from dataquality_spark import pipeline
from dataquality_spark.session import get_spark

cores = {cores}
spark = get_spark("scaling-bench", master=f"local[{{cores}}]",
                  shuffle_partitions=2 * cores)
spark.sparkContext.setLogLevel("ERROR")
pages = spark.read.parquet({input_dir!r})

def run_full(df):
    out = pipeline.decisions(df)
    # sum(length(..)) forces the scrubbed strings to materialize without
    # an extra full-byte hash pass over them
    return out.agg(F.count(F.lit(1)),
                   F.sum(F.length("text_scrubbed")),
                   F.sum(F.size("rule_hits")),
                   F.sum(F.col("keep").cast("long"))).collect()[0]

def run_models(df):
    # the fused model stage alone: one Arrow crossing, no dedup join,
    # no decision assembly — the per-executor compute profile
    m = df.select(pipeline.models_udf(F.col("text"), F.col("lang"),
                                      F.lit(False)).alias("_m"))
    return m.agg(F.count(F.lit(1)),
                 F.sum(F.col("_m.n_words")),
                 F.sum(F.length(F.col("_m.text_scrubbed"))),
                 F.sum(F.col("_m.lang_score"))).collect()[0]

# Warm with one FULL pass per shape: codegen compile, python-worker
# spawn, model load and allocator pool warm-up land outside the timed
# region. A 100 TB job runs for hours — steady-state throughput is the
# number that extrapolates; first-minute effects don't. Min-of-N timed
# runs: this host is a shared VM with intermittent steal that hits
# high-concurrency runs hardest; min-time is the standard estimator of
# true machine capability under noisy neighbors.
res = {{"cores": cores}}
for name, fn in (("full", run_full), ("models", run_models)):
    fn(pages.limit(2000))
    row = fn(pages)
    trials = []
    for _ in range({n_trials}):
        t0 = time.monotonic()
        row = fn(pages)
        trials.append(round(time.monotonic() - t0, 3))
    dt = min(trials)
    res["n_docs"] = row[0]
    res[name] = {{"sec": dt, "trials": trials,
                  "docs_per_sec": round(row[0] / dt, 1)}}
print(json.dumps(res))
"""


def run_at(cores: int, input_dir: str, n_trials: int = 3) -> dict:
    code = RUNNER.format(repo=REPO, cores=cores, input_dir=input_dir,
                         n_trials=n_trials)
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, timeout=3600, check=False)
    lines = [l for l in out.stdout.strip().splitlines()
             if l.startswith("{")]
    if not lines:
        raise RuntimeError(f"run at {cores} cores failed:\n{out.stderr[-3000:]}")
    return json.loads(lines[-1])


def synthesize_corpus(n_docs: int, out_dir: str,
                      precompute_crc: bool = False) -> None:
    """precompute_crc materializes pipeline.with_dup_fingerprint's
    text_crc32 column at write time — the ingest-side trade that turns
    the dedup-flags branch's second text scan into a ~20 B/row slim
    read (A/B probe for that path; decisions are bit-identical)."""
    wrap = ("pipeline.with_dup_fingerprint(df)" if precompute_crc
            else "df")
    code = f"""
import sys; sys.path.insert(0, {REPO!r})
from pyspark.sql import functions as F
from dataquality_spark import pipeline, synth
from dataquality_spark.session import get_spark
pages = synth.gen_pages({n_docs}, seed=42)[
    ["url", "warc_ts", "html", "text", "lang"]]
spark = get_spark("synth")
spark.sparkContext.setLogLevel("ERROR")
df = spark.createDataFrame(pages)
{wrap}.repartition(64).write.mode("overwrite").parquet({out_dir!r})
"""
    subprocess.run([sys.executable, "-c", code], check=True, timeout=1800)


def _merge_min(rounds: list[dict]) -> dict:
    """Merge repeated measurements at one size: min over all trials."""
    out = dict(rounds[-1])
    for stage in ("full", "models"):
        trials = [t for r in rounds for t in r[stage]["trials"]]
        dt = min(trials)
        out[stage] = {"sec": dt, "trials": trials,
                      "docs_per_sec": round(out["n_docs"] / dt, 1)}
    return out


def _summarize(per_size: dict[int, dict], sizes: list[int]) -> dict:
    """Assemble the result summary from merged per-size measurements —
    the single source of the result shape for both measure() and
    merge_results()."""
    lo, hi = min(sizes), max(sizes)
    ratio = hi / lo
    out: dict = {"sizes": sorted(sizes), "low": lo, "high": hi,
                 "n_docs": per_size[lo]["n_docs"],
                 "per_size": {str(c): per_size[c] for c in sizes}}
    for stage in ("full", "models"):
        sp = (per_size[hi][stage]["docs_per_sec"]
              / per_size[lo][stage]["docs_per_sec"])
        out[stage] = {
            "docs_per_sec_low": per_size[lo][stage]["docs_per_sec"],
            "docs_per_sec_high": per_size[hi][stage]["docs_per_sec"],
            "speedup": round(sp, 3),
            "ideal_speedup": ratio,
            "scaling_efficiency": round(sp / ratio, 3)}
    pairs = n_to_4n_pairs(out)
    if pairs:
        out["n_to_4n_pairs"] = pairs
    return out


def n_to_4n_pairs(summary: dict) -> dict:
    """Every (N, 4N) pair present in the measured sizes, with the
    docs/sec at both ends and the 4×-ideal efficiency — the north
    rule's two-cluster-size criterion evidenced at multiple rungs."""
    sizes = summary["sizes"]
    pairs: dict = {}
    for lo in sizes:
        hi = lo * 4
        if hi not in sizes:
            continue
        entry = {}
        for stage in ("full", "models"):
            d_lo = summary["per_size"][str(lo)][stage]["docs_per_sec"]
            d_hi = summary["per_size"][str(hi)][stage]["docs_per_sec"]
            entry[stage] = {"docs_per_sec_low": d_lo,
                            "docs_per_sec_high": d_hi,
                            "efficiency": round(d_hi / d_lo / 4.0, 3)}
        pairs[f"{lo}to{hi}"] = entry
    return pairs


def measure(sizes: list[int], input_dir: str, trials: int = 3,
            alternate: int = 0) -> dict:
    """Measure every size; with alternate>0, interleave the sizes N times
    so all sizes sample the same host-noise windows."""
    rounds: dict[int, list[dict]] = {c: [] for c in sizes}
    for _ in range(max(1, alternate)):
        for c in sizes:
            r = run_at(c, input_dir, trials)
            rounds[c].append(r)
            print(json.dumps({"round": r}), file=sys.stderr)
    per_size = {c: _merge_min(rs) for c, rs in rounds.items()}
    return _summarize(per_size, sizes)


def merge_results(a: dict, b: dict) -> dict:
    """Merge two `measure()` results over the SAME sizes/input: min over
    the union of every trial, summary recomputed. Lets callers extend a
    noisy measurement with extra interleaved rounds instead of starting
    over (min-of-trials is associative)."""
    assert a["sizes"] == b["sizes"] and a["n_docs"] == b["n_docs"]
    per_size = {c: _merge_min([a["per_size"][str(c)],
                               b["per_size"][str(c)]])
                for c in a["sizes"]}
    return _summarize(per_size, a["sizes"])


def amdahl_fit(summary: dict) -> dict:
    """Least-squares fit T(c) = s + p/c per stage over the measured
    sizes; returns serial seconds s, parallel seconds p, serial fraction
    at c=1, R², and the fit-predicted N→4N efficiency at the measured
    (low, high) pair."""
    import numpy as np

    out = {}
    sizes = summary["sizes"]
    lo, hi = summary["low"], summary["high"]
    for stage in ("full", "models"):
        c = np.array(sizes, dtype=float)
        t = np.array([summary["per_size"][str(int(x))][stage]["sec"]
                      for x in sizes])
        A = np.vstack([np.ones_like(c), 1.0 / c]).T
        (s, p), res, *_ = np.linalg.lstsq(A, t, rcond=None)
        pred = A @ np.array([s, p])
        ss_res = float(((t - pred) ** 2).sum())
        ss_tot = float(((t - t.mean()) ** 2).sum())
        r2 = 1.0 - ss_res / ss_tot if ss_tot > 0 else 1.0
        t_lo, t_hi = s + p / lo, s + p / hi
        eff = (t_lo / t_hi) / (hi / lo)
        out[stage] = {"serial_sec": round(float(s), 4),
                      "parallel_sec": round(float(p), 4),
                      "serial_fraction_c1": round(float(s / (s + p)), 5),
                      "r2": round(r2, 5),
                      "fit_efficiency_low_to_high": round(float(eff), 3)}
    return out


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    n = max(1, cpus // 4)
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-docs", type=int, default=60_000)
    ap.add_argument("--sizes", default=f"{n},{4 * n}",
                    help="comma-separated core counts (first=low, last=high)")
    ap.add_argument("--input", default=None,
                    help="existing pages parquet dir (else synthesized)")
    ap.add_argument("--trials", type=int, default=3,
                    help="timed trials per subprocess (min is reported)")
    ap.add_argument("--alternate", type=int, default=0,
                    help="N interleaved rounds over all sizes; every size "
                         "then samples the same host-noise windows and "
                         "the reported ratios are robust to shared-VM "
                         "neighbors")
    ap.add_argument("--fit", action="store_true",
                    help="add the Amdahl T(c)=s+p/c fit (use ≥3 sizes)")
    ap.add_argument("--precompute-crc", action="store_true",
                    help="materialize text_crc32 at corpus-write time "
                         "(with_dup_fingerprint) so the dedup-flags "
                         "branch scans slim rows — A/B for the "
                         "ingest-fingerprint fast path")
    ap.add_argument("--out", default=None,
                    help="also write the JSON summary to this path")
    args = ap.parse_args()

    sizes = [int(x) for x in args.sizes.split(",")]
    input_dir = args.input
    if input_dir is None:
        work = tempfile.mkdtemp(prefix="dq_scaling_")
        input_dir = os.path.join(work, "pages")
        print(f"synthesizing {args.n_docs} pages → {input_dir}",
              file=sys.stderr)
        synthesize_corpus(args.n_docs, input_dir, args.precompute_crc)

    summary = measure(sizes, input_dir, args.trials, args.alternate)
    if args.precompute_crc:
        summary["precomputed_crc"] = True
    if args.fit:
        summary["amdahl_fit"] = amdahl_fit(summary)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(summary, f, indent=1)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
