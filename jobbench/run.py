"""Job-level benchmark of the decision pipeline (jobs/run_pipeline.py).

    python3 jobbench/run.py --workload web-mixed --seed 1 --seconds 10 \
        --trace 0

Builds the seeded workload corpus and its pandas-oracle digest (cached
per workload and seed under jobbench/_work), then runs the real job,
`run_pipeline.run(argv)`, at local[4] in fresh processes and checks
every job's decisions against the oracle digest.

--trace 0 reports the end-to-end metrics, with tracing off:
  docs_per_s      docs decided per second of job wall time (run start
                  to manifest recorded), median over jobs
  cpu_s_per_kdoc  CPU seconds of the whole process tree (driver, JVM,
                  Python workers) per 1000 docs, median over jobs
  setup_s         process start to a warm session (one small warm-up
                  job: Python workers spawned, models loaded)
  peak_rss_mb     peak summed RSS of the process tree during a job,
                  median over jobs

--trace 1 runs an untraced process and a traced one (layer wrappers +
Spark event log, see ledger.py), plus single-thread direct calls of the
model functions (micro.py), and reports the per-layer ledger.

The last stdout line is the result JSON; the line before it carries the
host fingerprint and source commit. A full record of the run is kept in
jobbench/_work/results/.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

import corpus
import procs

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
MASTER = "local[4]"
DEADLINE_S = 165          # a run must end within 180 s
MIN_JOBS = 2              # timed jobs per process (median reported)
MAX_JOBS = 12


def _program_present() -> bool:
    return (os.path.isfile(os.path.join(REPO, "jobs", "run_pipeline.py"))
            and os.path.isfile(os.path.join(REPO, "dataquality_spark",
                                            "__init__.py")))


def _child_env() -> dict:
    env = dict(os.environ)
    env.update({
        "TMPDIR": os.path.join(WORK, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_GRAFT_CPUS": "4",
        # the job needs far less than session.py's 8g default heap; a
        # smaller cap keeps the benchmark's memory small on a shared host
        "SPARK_DRIVER_MEMORY": "2g",
        # no hsperfdata files in /tmp from the launcher or driver JVM
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [REPO] + [p for p in [env.get("PYTHONPATH")] if p]),
    })
    return env


def _become_subreaper() -> None:
    """Adopt the orphans of the processes this run starts, so that
    _stop_descendants can reap them."""
    import ctypes

    libc = ctypes.CDLL("libc.so.6", use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    PR_SET_CHILD_SUBREAPER = 36
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> None:
    """Collect every exited child without blocking."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stop_descendants(keep: set, grace_s: float = 15) -> None:
    """Let what a child left behind (the JVM and its Python workers, which
    this process adopts as subreaper) finish shutting down, so the JVM's
    shutdown hooks delete its temp dirs; then kill whatever remains and
    reap it all. Processes in `keep` (started before the child, such as
    multiprocessing's resource tracker) are left alone."""
    def left() -> list:
        return [p for p in procs.tree(os.getpid())[1:] if p not in keep]

    t_end = time.monotonic() + grace_s
    while left() and time.monotonic() < t_end:
        _reap()
        time.sleep(0.1)
    for pid in left():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    t_end = time.monotonic() + 10
    while left() and time.monotonic() < t_end:
        _reap()
        time.sleep(0.05)


def _stop_all() -> None:
    """Stop and reap every process this run started, the ones it adopted
    included. The corpus build's process pool starts multiprocessing's
    resource tracker, which would otherwise outlive this process."""
    from multiprocessing import resource_tracker

    try:
        resource_tracker._resource_tracker._stop()
    except ChildProcessError:     # already reaped by _reap
        pass
    _stop_descendants(keep=set())


def run_child(spec: dict, deadline: float) -> dict:
    """Run child.py on `spec` in a fresh process group; return its result."""
    tag = spec["tag"]
    spec_path = os.path.join(WORK, "runs", f"{tag}.spec.json")
    spec["result"] = os.path.join(WORK, "runs", f"{tag}.result.json")
    if os.path.exists(spec["result"]):
        os.remove(spec["result"])
    log_path = os.path.join(WORK, "runs", f"{tag}.log")
    before = set(procs.tree(os.getpid()))
    with open(log_path, "w") as log:
        spec["t_spawn"] = time.monotonic()
        with open(spec_path, "w") as f:
            json.dump(spec, f)
        p = subprocess.Popen([sys.executable, os.path.join(HERE, "child.py"),
                              spec_path], stdout=log, stderr=subprocess.STDOUT,
                             env=_child_env(), cwd=os.path.join(WORK, "tmp"),
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            _stop_descendants(keep=before)
    if rc != 0 or not os.path.exists(spec["result"]):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"benchmark process {tag} failed ({rc}):\n{tail}")
    with open(spec["result"]) as f:
        return json.load(f)


def check_jobs(result: dict, expected: dict) -> int:
    """Check each job's decisions against the oracle; return #failed."""
    failed = 0
    for j in result["jobs"]:
        bad = corpus.check_decisions(j["decisions"], expected)
        j["mismatched_partitions"] = bad
        failed += bool(bad)
        shutil.rmtree(os.path.dirname(j["decisions"]), ignore_errors=True)
    return failed


def host_fingerprint() -> dict:
    import pyarrow
    import pyspark

    cpu = platform.processor()
    try:
        with open("/proc/cpuinfo") as f:
            cpu = next(l.split(":", 1)[1].strip() for l in f
                       if l.startswith("model name"))
    except (OSError, StopIteration):
        pass
    try:
        with open("/proc/meminfo") as f:
            mem_kb = int(f.readline().split()[1])
    except (OSError, ValueError, IndexError):
        mem_kb = 0
    commit = None
    if os.path.isdir(os.path.join(REPO, ".git")):
        try:
            commit = subprocess.run(["git", "-C", REPO, "rev-parse", "HEAD"],
                                    capture_output=True, text=True,
                                    timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    # the benchmark's checkout need not be a git repository: the program
    # sources' digest identifies the code measured either way
    h = hashlib.sha256()
    for top in ("dataquality_spark", "jobs"):
        for dirpath, _, files in sorted(os.walk(os.path.join(REPO, top))):
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(dirpath, name)
                    h.update(os.path.relpath(path, REPO).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return {"nproc": os.cpu_count(), "cpu_model": cpu,
            "mem_gb": round(mem_kb / 2**20, 1),
            "python": platform.python_version(),
            "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "master": MASTER, "commit": commit,
            "source_sha256": h.hexdigest()}


def _spec(tag, prep, warmup, trace, budget_s) -> dict:
    return {"tag": tag, "repo": REPO, "work": WORK, "master": MASTER,
            "input": prep["input"], "warmup": warmup, "done": prep["done"],
            "trace": trace, "budget_s": budget_s, "min_jobs": MIN_JOBS,
            "max_jobs": MAX_JOBS,
            "out_root": os.path.join(WORK, "runs", tag),
            "event_dir": os.path.join(WORK, "runs", tag, "events")}


def _docs_per_s(jobs: list) -> float:
    return statistics.median(j["n_docs"] / j["wall_s"] for j in jobs)


def end_to_end(prep, warmup, seconds, deadline):
    """(metrics, attempted, failed, detail) of an untraced run."""
    r = run_child(_spec("e2e", prep, warmup, False, seconds), deadline)
    failed = check_jobs(r, prep["expected"])
    jobs = r["jobs"]
    metrics = {
        "docs_per_s": _docs_per_s(jobs),
        "cpu_s_per_kdoc": statistics.median(
            j["cpu_s"] / (j["n_docs"] / 1000) for j in jobs),
        "setup_s": r["setup_s"],
        "peak_rss_mb": statistics.median(j["peak_rss_mb"] for j in jobs),
    }
    return metrics, len(jobs), failed, r


def per_layer(prep, warmup, seconds, deadline):
    """(metrics, attempted, failed, detail) of a traced run."""
    import ledger
    import micro

    plain = run_child(_spec("plain", prep, warmup, False, seconds / 2),
                      deadline)
    traced_spec = _spec("traced", prep, warmup, True, seconds / 2)
    traced = run_child(traced_spec, deadline)
    failed = check_jobs(plain, prep["expected"])
    failed += check_jobs(traced, prep["expected"])
    log = os.path.join(traced_spec["event_dir"], traced["app_id"])
    sums = ledger.parse_event_log(log)
    ledgers = [ledger.job_ledger(f"job{i}", j["wall_s"], traced["spans"],
                                 sums)
               for i, j in enumerate(traced["jobs"])]
    metrics = {k: statistics.median(l[k] for l in ledgers)
               for k in ledgers[0] if not k.startswith("_")}
    # workers are spawned once per process, by the set-up warm-up job
    metrics["models.py_boot_s"] = ledger.tag_total(sums, "setup")["py_boot_s"]
    metrics["trace.overhead_frac"] = (
        1 - _docs_per_s(traced["jobs"]) / _docs_per_s(plain["jobs"]))
    metrics.update(micro.model_rates(prep["input"], prep["dup_stale"]))
    detail = {"plain": plain, "traced": traced, "ledgers": ledgers}
    return (metrics, len(plain["jobs"]) + len(traced["jobs"]), failed,
            detail)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=corpus.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    deadline = time.monotonic() + DEADLINE_S
    if not _program_present():
        print("jobbench: jobs/run_pipeline.py and dataquality_spark/ not "
              f"found under {REPO}", file=sys.stderr)
        return 2
    for d in ("tmp", "runs", "corpora", "results"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    # model caches and every temp file stay inside the work dir
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    sys.path.insert(0, REPO)
    _become_subreaper()
    # a terminated run still stops the processes it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return _measure(args, deadline)
    finally:
        _stop_all()


def _measure(args, deadline: float) -> int:
    from dataquality_spark.functions import langid, lm

    langid.get_model()
    lm.get_model()
    warmup = corpus.prepare_warmup(WORK)
    prep = corpus.prepare(WORK, args.workload, args.seed)

    measure = per_layer if args.trace else end_to_end
    metrics, attempted, failed, detail = measure(prep, warmup, args.seconds,
                                                 deadline)
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    host = host_fingerprint()
    record = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "host": host,
              "corpus_sha256": corpus.corpus_digest(prep["input"]),
              "metrics": metrics, "detail": detail}
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(WORK, "results", f"{stamp}-{args.workload}"
                           f"-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({k: record[k] for k in
                      ("workload", "seed", "host", "corpus_sha256")}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]],
                                "unit": m["unit"]} for m in declared}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
