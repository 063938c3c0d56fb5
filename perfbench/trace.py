"""Spans around layer calls, plus Spark work read back from the status store.

A span records name, start, end, parent and unit id. Spans live in
memory; ``Tracer.layer_metrics`` folds them into the per-layer metrics.
Spark jobs, stages and SQL executions are read from the application's
status store after every unit (it keeps only the newest 1 000 jobs and
stages) and each is charged to the innermost span that was open on the
unit's thread when it was submitted.

Wrapped layer functions that return lazy DataFrames measure plan
construction only; their execution shows up in the ``spark.*`` counters
of whichever span triggered it.
"""

from __future__ import annotations

import functools
import importlib
import json
import re
import threading
import time
from dataclasses import dataclass, field

from perfbench.stats import covered_time, self_times

# (module, attribute, span name, counter on the result): the layers'
# public functions, patched where their callers look them up
WRAPPED = [
    ("reactionetl_etl_spark.etl.pipeline", "list_raw_files", "sources.list", len),
    ("reactionetl_etl_spark.etl.cleanse", "probe_csv_headers", "sources.probe", None),
    ("reactionetl_etl_spark.etl.pipeline", "cleanse_incoming_csvs", "cleanse.csv", None),
    ("reactionetl_etl_spark.etl.pipeline", "cleanse_metadata_jsons", "cleanse.json", None),
    ("reactionetl_etl_spark.etl.pipeline", "enrich_fact", "enrich.enrich_fact", None),
    ("reactionetl_etl_spark.etl.pipeline", "assign_simulation_nums", "enrich.assign", None),
    ("reactionetl_etl_spark.etl.pipeline", "staged_overwrite_partitions", "commit.swap", None),
    ("reactionetl_etl_spark.etl.pipeline", "recover_staged_commits", "commit.recover", None),
    ("reactionetl_etl_spark.pipelines.training", "quality_verdicts", "training.quality", None),
    ("reactionetl_etl_spark.pipelines.training", "duplicate_drop_list", "training.dup_stage", None),
    ("reactionetl_etl_spark.operators.dedup", "minhash_lsh_candidates", "dedup.minhash", None),
    ("reactionetl_etl_spark.pipelines.training", "connected_components", "graph.cc", None),
    ("reactionetl_etl_spark.pipelines.training", "ngram_contamination", "text.contamination", None),
    # the catalog reaches the same operators through their modules
    ("reactionetl_etl_spark.operators.graph", "connected_components", "graph.cc", None),
    ("reactionetl_etl_spark.operators.text", "ngram_contamination", "text.contamination", None),
]

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric value: '1,234', '2.3 MiB' or the
    'total (min, med, max ...)\\n<total> (...)' form."""
    line = text.split("\n")[1] if "\n" in text else text
    m = re.match(r"\s*([\d,.]+)\s*([KMGT]?i?B)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE.get(m.group(2) or "B", 1)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    unit: int
    count: int = 0
    spark: dict = field(default_factory=dict)


# per-span Spark counters reported as spark.<key>
ENGINE_KEYS = (
    "jobs", "tasks", "task_s", "cpu_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "input_bytes", "output_bytes", "failed_tasks",
)


class Tracer:
    """Records spans when ``on``; a disabled tracer's ``span`` is a no-op
    apart from the unit spans the benchmark itself times."""

    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.on = False  # set while a unit runs
        self.collect_s = 0.0  # time spent reading the status store
        self.spans: list[Span] = []
        self.unit = -1
        self.job_windows: list[tuple[int, float, float]] = []  # (span id, start, end)
        self._local = threading.local()
        self._thread = threading.get_ident()
        self._seen_job = -1
        self._seen_exec = -1
        self._patched: list[tuple[object, str, object]] = []
        if enabled:
            jvm = spark.sparkContext._jvm
            self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
            self._mapper.registerModule(
                getattr(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$")
            )
            self._store = spark.sparkContext._jsc.sc().statusStore()
            self._sql = spark._jsparkSession.sharedState().statusStore()
            self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
            self._jlist = jvm.java.util.ArrayList
            self.install()

    # -- spans ------------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str) -> int | None:
        if not self.on:
            return None
        stack = self._stack()
        self.spans.append(Span(name, time.time(), 0.0, stack[-1] if stack else None, self.unit))
        stack.append(len(self.spans) - 1)
        return stack[-1]

    def close(self, sid: int | None, count: int = 0) -> None:
        if sid is None:
            return
        self._stack().pop()
        self.spans[sid].end = time.time()
        self.spans[sid].count += count

    def span(self, name: str):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.sid = tracer.open(name)
                return self

            def __exit__(self, *exc):
                tracer.close(self.sid)

        return _Ctx()

    def _wrapper(self, fn, name: str, counter):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            # spans belong to the unit's thread; pool threads run untraced
            if not self.on or threading.get_ident() != self._thread:
                return fn(*args, **kwargs)
            sid = self.open(name)
            out = None
            try:
                out = fn(*args, **kwargs)
                return out
            finally:
                self.close(sid, counter(out) if counter and out is not None else 0)

        return traced

    def install(self) -> None:
        for mod_name, attr, name, counter in WRAPPED:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            self._patched.append((mod, attr, fn))
            setattr(mod, attr, self._wrapper(fn, name, counter))

    def uninstall(self) -> None:
        for mod, attr, fn in reversed(self._patched):
            setattr(mod, attr, fn)
        self._patched.clear()

    # -- status store -----------------------------------------------------

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def _charge(self, t_sec: float, first_span: int) -> int | None:
        """Innermost span (of the unit's thread) open at ``t_sec``."""
        best = None
        for i in range(first_span, len(self.spans)):
            s = self.spans[i]
            if s.start <= t_sec <= (s.end or float("inf")):
                best = i  # later-opened spans nest inside earlier ones
        return best

    def collect(self, first_span: int) -> None:
        """Read jobs/stages/executions submitted since the last call and
        charge them to spans from ``first_span`` on. Called after every
        unit, so the 1 000-entry retention never drops unread work."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        try:
            self._collect(first_span)
        finally:
            self.collect_s += time.perf_counter() - t0

    def reset(self) -> None:
        """Forget the set-up: read past its Spark work and drop its spans."""
        if self.enabled:
            self._collect(len(self.spans))
        self.spans.clear()
        self.job_windows.clear()
        self.collect_s = 0.0

    def _collect(self, first_span: int) -> None:
        jobs = [j for j in self._json(self._store.jobsList(None)) if j["jobId"] > self._seen_job]
        if not jobs:
            return
        self._seen_job = max(j["jobId"] for j in jobs)
        stages = {}
        for s in self._json(
            self._store.stageList(None, False, False, self._no_quantiles, self._jlist())
        ):
            stages.setdefault(s["stageId"], []).append(s)
        owner: dict[int, int] = {}  # stage -> job that ran it first
        job_span: dict[int, int | None] = {}
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            sid = self._charge(j["submissionTime"] / 1000.0, first_span)
            job_span[j["jobId"]] = sid
            if sid is None:
                continue
            sp = self.spans[sid].spark
            sp["jobs"] = sp.get("jobs", 0) + 1
            if j.get("completionTime"):
                self.job_windows.append((sid, j["submissionTime"] / 1000.0, j["completionTime"] / 1000.0))
            for st in j["stageIds"]:
                owner.setdefault(st, j["jobId"])
        scan_jobs, exec_rows = self._executions(first_span)
        for st, jid in owner.items():
            sid = job_span.get(jid)
            if sid is None:
                continue
            sp = self.spans[sid].spark
            for a in stages.get(st, []):
                if a["status"] == "SKIPPED":
                    continue
                run_s = a["executorRunTime"] / 1000.0
                for k, v in (
                    ("tasks", a["numCompleteTasks"] + a["numFailedTasks"]),
                    ("task_s", run_s),
                    ("cpu_s", a["executorCpuTime"] / 1e9),
                    ("gc_s", a["jvmGcTime"] / 1000.0),
                    ("shuffle_write_bytes", a["shuffleWriteBytes"]),
                    ("shuffle_read_bytes", a["shuffleReadBytes"]),
                    ("spill_bytes", a["memoryBytesSpilled"]),
                    ("input_bytes", a["inputBytes"]),
                    ("output_bytes", a["outputBytes"]),
                    ("failed_tasks", a["numFailedTasks"]),
                    ("scan_task_s", run_s if jid in scan_jobs and a["inputBytes"] > 0 else 0.0),
                ):
                    sp[k] = sp.get(k, 0) + v
        for sid, vals in exec_rows:
            sp = self.spans[sid].spark
            for k, v in vals.items():
                sp[k] = sp.get(k, 0) + v

    def _new_executions(self) -> list[dict]:
        n = self._sql.executionsCount()
        k = 32
        while True:
            batch = self._json(self._sql.executionsList(max(0, n - k), k))
            if not batch or k >= n or int(batch[0]["executionId"]) <= self._seen_exec + 1:
                break
            k *= 4
        new = [e for e in batch if int(e["executionId"]) > self._seen_exec]
        if new:
            self._seen_exec = max(int(e["executionId"]) for e in new)
        return new

    def _executions(self, first_span: int) -> tuple[set[int], list[tuple[int, dict]]]:
        """(jobs of executions that scan CSV/JSON, per-span SQL counters)."""
        scan_jobs: set[int] = set()
        rows = []
        for e in self._new_executions():
            plan = e.get("physicalPlanDescription") or ""
            if re.search(r"Scan (csv|json)", plan):
                scan_jobs.update(int(j) for j in (e.get("jobs") or {}))
            sid = self._charge(int(e["submissionTime"]) / 1000.0, first_span)
            if sid is None:
                continue
            values = e.get("metricValues") or {}
            vals = {"dynamic_parts": 0.0, "written_bytes": 0.0, "python_rows_out": 0.0, "python_bytes_sent": 0.0}
            python = False
            for m in e.get("metrics") or []:
                v = values.get(str(m["accumulatorId"]))
                if v is None:
                    continue
                if m["name"] == "number of dynamic part":
                    vals["dynamic_parts"] += parse_metric(v)
                elif m["name"] == "written output":
                    vals["written_bytes"] += parse_metric(v)
                elif m["name"] == "data sent to Python workers":
                    vals["python_bytes_sent"] += parse_metric(v)
                    python = True
            if python:
                for node in self._json(self._sql.planGraph(int(e["executionId"])).allNodes()):
                    names = {m["name"]: m["accumulatorId"] for m in node.get("metrics") or []}
                    if "data sent to Python workers" in names and "number of output rows" in names:
                        v = values.get(str(names["number of output rows"]))
                        vals["python_rows_out"] += parse_metric(v) if v else 0.0
            rows.append((sid, vals))
        return scan_jobs, rows

    # -- per-layer fold ---------------------------------------------------

    def layer_metrics(self, units: int, unit_wall: float, cores: int) -> dict[str, float]:
        """Per-unit means over the traced units (see the README table)."""
        units = max(1, units)
        intervals = [(s.start, s.end, s.parent) for s in self.spans]
        selfs = self_times(intervals)
        tot: dict[str, float] = {}
        cnt: dict[str, float] = {}
        spark: dict[str, float] = {}
        by_top: dict[str, dict[str, float]] = {}
        for i, s in enumerate(self.spans):
            tot[s.name] = tot.get(s.name, 0.0) + (s.end - s.start)
            tot["self:" + s.name] = tot.get("self:" + s.name, 0.0) + selfs[i]
            cnt[s.name] = cnt.get(s.name, 0) + s.count
            top = self._layer_of(i)
            agg = by_top.setdefault(top, {})
            for k, v in s.spark.items():
                spark[k] = spark.get(k, 0.0) + v
                agg[k] = agg.get(k, 0.0) + v

        def t(*names):
            return sum(tot.get(n, 0.0) for n in names) / units

        def layer(top, key):
            return by_top.get(top, {}).get(key, 0.0) / units

        pipe_spans = [i for i, s in enumerate(self.spans) if s.name in ("pipeline.run_once", "pipeline.materialize")]
        pipe_wall = sum(self.spans[i].end - self.spans[i].start for i in pipe_spans)
        pipe_jobs = [
            (max(a, self.spans[i].start), min(b, self.spans[i].end))
            for i in pipe_spans
            for (_, a, b) in self.job_windows
            if a < self.spans[i].end and b > self.spans[i].start
        ]
        out = {
            "sources.list_s": t("sources.list"),
            "sources.files_listed": cnt.get("sources.list", 0) / units,
            "sources.probe_s": t("sources.probe"),
            "cleanse.plan_s": t("self:cleanse.csv", "self:cleanse.json"),
            "cleanse.scan_task_s": spark.get("scan_task_s", 0.0) / units,
            "enrich.plan_s": t("enrich.enrich_fact", "enrich.assign"),
            "commit.swap_s": t("commit.swap", "commit.recover"),
            "commit.partitions_rewritten": layer("commit", "dynamic_parts"),
            "commit.bytes_rewritten": layer("commit", "written_bytes"),
            "pipeline.run_once_s": t("pipeline.run_once"),
            "pipeline.materialize_s": t("pipeline.materialize"),
            "pipeline.jobs": layer("pipeline", "jobs") + layer("commit", "jobs"),
            "pipeline.driver_s": (pipe_wall - covered_time(pipe_jobs)) / units,
            "dedup.minhash_s": t("dedup.minhash"),
            "graph.cc_s": t("graph.cc"),
            "graph.cc_jobs": layer("graph", "jobs"),
            "text.contamination_s": t("text.contamination"),
            "training.quality_s": t("training.quality"),
            "training.dup_stage_s": t("training.dup_stage"),
            "training.pack_export_self_s": t("self:training.build"),
            "catalog.plan_s": t("catalog.plan"),
            "catalog.exec_s": t("catalog.exec"),
        }
        for k in ENGINE_KEYS:
            out[f"spark.{k}"] = spark.get(k, 0.0) / units
        out["spark.core_busy"] = spark.get("task_s", 0.0) / max(1e-9, unit_wall * cores)
        out["python.rows_out"] = spark.get("python_rows_out", 0.0) / units
        out["python.bytes_sent"] = spark.get("python_bytes_sent", 0.0) / units
        out["trace.overhead"] = self.collect_s / max(1e-9, unit_wall)
        return out

    def _layer_of(self, i: int) -> str:
        """The layer a span's Spark work belongs to: the outermost span
        below the unit span (``pipeline`` for run_once / materialize,
        but ``commit`` / ``graph`` when one of those wraps it)."""
        name = self.spans[i].name
        while True:
            top = name.split(".")[0]
            if top in ("commit", "graph"):
                return top
            p = self.spans[i].parent
            if p is None or self.spans[p].name.startswith("unit"):
                return top
            i, name = p, self.spans[p].name
