"""spark-submit entry point: the full quality-filter job.

    spark-submit --py-files dq.zip jobs/run_pipeline.py \
        --input /data/pages.parquet --output /data/out \
        [--max-partitions K] [--no-resume] [--extract-html] \
        [--lenient-schema] [--previous DIR] [--repartition N]

Lifecycle (SURVEY.md §3 new-engine equivalent): config → read pages with
fixed schema → resume anti-join against the processed-partition manifest →
optional salted repartition → decision pipeline → dynamic-partition-
overwrite decisions write → one audit aggregate, collected once through
Arrow (at most one row per month partition) and appended with the job's
wall clock → manifest rows and run summary built from those same rows.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from dataquality_spark import audit, config as C, pipeline, resume  # noqa: E402
from dataquality_spark.errors import format_error_response  # noqa: E402
from dataquality_spark.session import get_spark  # noqa: E402
from dataquality_spark.sources import io  # noqa: E402


def run(argv: list[str] | None = None) -> dict:
    """CLI wrapper: on failure print ONE structured JSON error line
    (category + suggestions, reference A22 analog) and exit non-zero."""
    try:
        return _run(argv)
    except SystemExit:
        raise
    except Exception as e:
        report = format_error_response(e, job="run_pipeline")
        print(json.dumps(report))
        raise SystemExit(2)


def _run(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--max-partitions", type=int, default=None,
                    help="process at most K remaining partitions (resume demo)")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--extract-html", action="store_true")
    ap.add_argument("--lenient-schema", action="store_true",
                    help="tolerate case-drifted input columns "
                         "(io.read_pages_lenient fallback chain)")
    ap.add_argument("--previous", default=None, metavar="DIR",
                    help="previous crawl snapshot (same pages schema): "
                         "process ONLY urls that are new or whose "
                         "newest text changed vs it (operators/snapshot."
                         "needs_processing keyed on url after keep-"
                         "newest dedup, so a timestamp-bumped recrawl "
                         "with byte-identical text is detected as "
                         "unchanged). The output is a DELTA — unchanged "
                         "urls carry their previous run's decisions "
                         "forward, which is sound because identical "
                         "bytes yield the identical decision")
    ap.add_argument("--repartition", type=int, default=None,
                    help="salted (host, salt) repartition width")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    spark = get_spark("dq-run-pipeline", master=args.master)
    t0 = time.monotonic()

    decisions_dir = os.path.join(args.output, "decisions")
    audit_dir = os.path.join(args.output, "audit")
    manifest_dir = os.path.join(args.output, "manifests")

    reader = io.read_pages_lenient if args.lenient_schema else io.read_pages
    pages = reader(spark, args.input)
    pages = pages.withColumn(
        C.PARTITION_COL, F.date_format("warc_ts", "yyyy-MM"))

    done = [] if args.no_resume else resume.completed_partitions(
        spark, manifest_dir)
    remaining = resume.filter_remaining(pages, done)

    if args.previous:
        from dataquality_spark.operators import snapshot

        prev = reader(spark, args.previous)

        def _newest(df):
            # Keep-newest record per url (the rule the decision
            # pipeline's url-duplicate ranker applies anyway) so the
            # diff keys on url alone: a recrawl that bumps warc_ts but
            # leaves text byte-identical diffs as UNCHANGED instead of
            # "added" — the carry-forward optimization actually fires.
            # Slim (url, max ts) agg + semi join back: text never
            # shuffles; ties on (url, max ts) are assumed unique per
            # crawl (snapshot_diff's documented precondition).
            ts = df.groupBy("url").agg(F.max("warc_ts").alias("warc_ts"))
            return df.join(ts, ["url", "warc_ts"], "left_semi")

        remaining = (snapshot.needs_processing(
            _newest(prev), _newest(remaining), "url", "text")
            .drop("status"))

    if args.max_partitions is not None:
        pids = sorted(r[0] for r in
                      remaining.select(C.PARTITION_COL).distinct().collect())
        keep_pids = pids[:args.max_partitions]
        remaining = remaining.filter(F.col(C.PARTITION_COL).isin(keep_pids))

    enriched = pipeline.with_decisions(
        remaining.drop(C.PARTITION_COL),
        extract_from_html=args.extract_html,
        salt_repartition=args.repartition,
        # rank url-duplicates against the FULL corpus even when resuming
        dedup_scope=pages.drop(C.PARTITION_COL) if done else None)
    enriched = enriched.persist()

    decisions_df = enriched.select(*pipeline.DECISION_COLUMNS)
    io.write_decisions(decisions_df, decisions_dir)

    elapsed = time.monotonic() - t0
    # wall-clock allowed at runtime (audit metadata, not data logic)
    finished = datetime.datetime.now()
    rows = io.append_audit(audit.audit_metrics(enriched), audit_dir,
                           finished, elapsed)
    n_docs = int(rows.n_docs.sum())
    resume.record_done(spark, manifest_dir,
                       list(zip(rows[C.PARTITION_COL], rows.n_docs)),
                       finished)
    enriched.unpersist()
    from dataquality_spark.caching import unpersist_all
    unpersist_all()  # release the dedup-flags cache

    stats = {"n_docs": n_docs, "n_partitions": len(rows),
             "elapsed_sec": round(elapsed, 3),
             "docs_per_sec": round(n_docs / max(elapsed, 1e-9), 1),
             "skipped_partitions": len(done)}
    print(json.dumps(stats))
    return stats


if __name__ == "__main__":
    run()
