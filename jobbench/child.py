"""One fresh benchmark process: set up a session, then run the real job
(`jobs/run_pipeline.run`) repeatedly for a time budget.

    python child.py <spec.json>

The spec names the input corpus, the warm-up corpus, the manifest rows
to pre-record (resume-half), the time budget and whether to trace. The
result (set-up time, and wall, CPU, peak RSS and output dir per job) is
written to spec["result"]. Decisions are checked by the parent.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import sys
import time


def main(spec_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    sys.path.insert(0, spec["repo"])
    sys.path.insert(0, os.path.join(spec["repo"], "jobs"))
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import procs
    import run_pipeline
    from dataquality_spark import resume
    from dataquality_spark.session import get_spark

    work, master = spec["work"], spec["master"]
    shutil.rmtree(spec["out_root"], ignore_errors=True)
    conf = {"spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']}"}
    if spec["trace"]:
        os.makedirs(spec["event_dir"], exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": spec["event_dir"],
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark("jobbench", master=master, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    tracer = None
    if spec["trace"]:
        import ledger

        tracer = ledger.Tracer(spark.sparkContext)
        tracer.install()

    def job(inp: str, out: str) -> dict:
        return run_pipeline.run(["--input", inp, "--output", out,
                                 "--master", master])

    warm_out = os.path.join(spec["out_root"], "warmup")
    job(spec["warmup"], warm_out)
    setup_s = time.monotonic() - spec["t_spawn"]
    shutil.rmtree(warm_out, ignore_errors=True)

    manifest = None
    if spec["done"]:
        manifest = os.path.join(spec["out_root"], "manifest-template")
        resume.record_done(spark, manifest, [tuple(r) for r in spec["done"]],
                           datetime.datetime(2000, 1, 1))

    me = os.getpid()
    jobs, t_start = [], time.monotonic()
    while (len(jobs) < spec["min_jobs"]
           or (time.monotonic() - t_start < spec["budget_s"]
               and len(jobs) < spec["max_jobs"])):
        out = os.path.join(spec["out_root"], f"job{len(jobs)}")
        if manifest:
            shutil.copytree(manifest, os.path.join(out, "manifests"))
        if tracer:
            tracer.begin(f"job{len(jobs)}")
        cpu0 = procs.cpu_seconds(me)
        with procs.PeakRss(me) as rss:
            t0 = time.monotonic()
            stats = job(spec["input"], out)
            wall = time.monotonic() - t0
        jobs.append({"wall_s": wall, "n_docs": stats["n_docs"],
                     "cpu_s": procs.cpu_seconds(me) - cpu0,
                     "peak_rss_mb": rss.peak,
                     "decisions": os.path.join(out, "decisions")})
    result = {"setup_s": setup_s, "jobs": jobs,
              "spans": tracer.spans if tracer else [],
              "app_id": spark.sparkContext.applicationId}
    spark.stop()
    with open(spec["result"], "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main(sys.argv[1])
