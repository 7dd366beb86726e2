"""Per-layer ledger of a traced job: spans from runtime wrappers, task
metrics from the Spark event log.

`Tracer.install` wraps every public function of the job's layer modules
in place, so `jobs/run_pipeline.py` runs unchanged but each call is timed
as a span. A top-level span also names the Spark jobs it launches
(`setJobDescription("<job tag>|<span>")`), and `parse_event_log` sums
the `SparkListenerTaskEnd` metrics, the Python-worker SQL metrics
included, per description.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import time
from collections import Counter, defaultdict

LAYER_MODULES = ("dataquality_spark.sources.io", "dataquality_spark.resume",
                 "dataquality_spark.pipeline", "dataquality_spark.audit",
                 "dataquality_spark.caching")
OUTSIDE = "-"   # span name for Spark jobs launched outside any layer span

# Python-worker SQL metrics of the Arrow UDF node → ledger keys
PY_METRICS = {
    "time to run Python workers": "py_run_s",
    "time to initialize Python workers": "py_init_s",
    "time to start Python workers": "py_boot_s",
    "data sent to Python workers": "to_py_bytes",
    "data returned from Python workers": "from_py_bytes",
}
_UNIT = {"timing": 1e-3, "nsTiming": 1e-9}   # to seconds; sizes stay bytes


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.tag = "setup"
        self._depth = 0

    def begin(self, tag: str) -> None:
        """Start a new job: later spans and Spark jobs carry `tag`."""
        self.tag = tag
        self.sc.setJobDescription(f"{tag}|{OUTSIDE}")

    def install(self) -> None:
        for modname in LAYER_MODULES:
            mod = importlib.import_module(modname)
            layer = modname.rsplit(".", 1)[1]
            for name, fn in list(vars(mod).items()):
                if (inspect.isfunction(fn) and fn.__module__ == modname
                        and not name.startswith("_")):
                    setattr(mod, name, self._wrap(f"{layer}.{name}", fn))

    def _wrap(self, span: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            top = self._depth == 0
            if top:
                self.sc.setJobDescription(f"{self.tag}|{span}")
            self._depth += 1
            t0 = time.monotonic()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.monotonic()
                self._depth -= 1
                self.spans.append({"tag": self.tag, "span": span,
                                   "depth": self._depth,
                                   "start": t0, "end": t1})
                if top:
                    self.sc.setJobDescription(f"{self.tag}|{OUTSIDE}")
        return traced


def _metric_types(node, out: dict) -> None:
    """accumulatorId → metricType from any plan info in an event."""
    if isinstance(node, dict):
        if "accumulatorId" in node and "metricType" in node:
            out[node["accumulatorId"]] = node["metricType"]
        for v in node.values():
            _metric_types(v, out)
    elif isinstance(node, list):
        for v in node:
            _metric_types(v, out)


def parse_event_log(path: str) -> dict:
    """{job description: Counter of summed task metrics} for one log.

    Each stage is charged to the first job that lists it (later jobs
    list it again only as a skipped parent)."""
    stage_desc: dict[int, str] = {}
    types: dict[int, str] = {}
    sums: dict[str, Counter] = defaultdict(Counter)
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e.get("Event", "")
            if ev == "SparkListenerJobStart":
                desc = (e.get("Properties") or {}).get(
                    "spark.job.description") or OUTSIDE
                for s in e.get("Stage IDs", []):
                    stage_desc.setdefault(s, desc)
            elif ev.endswith(("SQLExecutionStart",
                              "SQLAdaptiveExecutionUpdate")):
                _metric_types(e.get("sparkPlanInfo"), types)
            elif ev == "SparkListenerTaskEnd":
                _add_task(sums[stage_desc.get(e["Stage ID"], OUTSIDE)],
                          e, types)
    return dict(sums)


def _add_task(c: Counter, e: dict, types: dict) -> None:
    m = e.get("Task Metrics") or {}
    c["tasks"] += 1
    c["run_s"] += m.get("Executor Run Time", 0) / 1e3
    c["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    c["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    c["output_bytes"] += (m.get("Output Metrics") or {}).get(
        "Bytes Written", 0)
    c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    c["shuffle_read_bytes"] += (sr.get("Local Bytes Read", 0)
                                + sr.get("Remote Bytes Read", 0))
    for a in (e.get("Task Info") or {}).get("Accumulables", []):
        key = PY_METRICS.get(a.get("Name"))
        if key is None or a.get("Update") is None:
            continue
        v = float(a["Update"])
        if key.endswith("_s"):
            v *= _UNIT.get(types.get(a.get("ID")), 1e-3)
        c[key] += v


def tag_total(sums: dict, tag: str) -> Counter:
    """Task metrics summed over every Spark job of one tag."""
    total: Counter = Counter()
    for d, c in sums.items():
        if d.split("|", 1)[0] == tag:
            total.update(c)
    return total


def job_ledger(tag: str, wall_s: float, spans: list[dict],
               sums: dict) -> dict:
    """Per-layer metrics of one traced job (tag) from its spans and the
    parsed event log."""
    span_s: Counter = Counter()
    for s in spans:
        if s["tag"] == tag and s["depth"] == 0:
            span_s[s["span"]] += s["end"] - s["start"]
    by_span = {d.split("|", 1)[1]: c for d, c in sums.items()
               if d.split("|", 1)[0] == tag}
    total = tag_total(sums, tag)

    def of(span: str) -> Counter:
        return by_span.get(span, Counter())

    mb = 1 / 2**20
    write, flags = of("io.write_decisions"), of("pipeline.with_decisions")
    audit_spans = ("audit.audit_metrics", "io.append_audit")
    audit = sum((of(s) for s in audit_spans), Counter())
    # the audit spans and the job's own per-partition collect (outside any
    # span) read the persisted decisions cache, not the corpus
    return {
        "io.write_decisions_s": span_s["io.write_decisions"],
        "io.scan_MB": (total["input_bytes"] - audit["input_bytes"]
                       - of(OUTSIDE)["input_bytes"]) * mb,
        "io.write_MB": write["output_bytes"] * mb,
        "resume.list_s": span_s["resume.completed_partitions"],
        "resume.record_s": span_s["resume.record_done"],
        "pipeline.flags_s": span_s["pipeline.with_decisions"],
        "pipeline.flags_shuffle_MB": flags["shuffle_write_bytes"] * mb,
        "models.py_run_s": total["py_run_s"],
        "models.py_init_s": total["py_init_s"],
        "models.to_py_MB": total["to_py_bytes"] * mb,
        "models.from_py_MB": total["from_py_bytes"] * mb,
        "audit.s": sum(span_s[s] for s in audit_spans),
        "audit.in_MB": audit["input_bytes"] * mb,
        "spark.task_s": total["run_s"],
        "spark.cpu_s": total["cpu_s"],
        "spark.gc_s": total["gc_s"],
        "unattributed_s": wall_s - sum(span_s.values()),
        # diagnostics, not reported metrics
        "_spans": dict(span_s),
        "_by_span": {k: dict(v) for k, v in by_span.items()},
    }
