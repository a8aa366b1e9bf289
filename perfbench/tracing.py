"""Span tracing for the traced benchmark run.

The tracer wraps the engine's public functions where the pipelines call
them (the pipelines import names directly, so e.g. ``api_ingestion.
load_dataframe`` is patched, not ``writers.load_dataframe``) and records one
span per call: name, start, end, parent span, and the job it ran for. Spans
stay in memory; ``write`` dumps them as JSON lines at the end.

Each span also sets a Spark job group for the duration of the call, so the
Spark jobs it launches can be attributed to its layer afterwards through
the status tracker and the UI's REST API (``spark_metrics``).

``install`` patches and ``uninstall`` restores, so untraced rounds in the
same process run the unmodified engine.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import statistics
import threading
import time
import urllib.request
from collections import Counter, defaultdict
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, dataclass

from data_ingestion_pipelines_spark import catalog
from data_ingestion_pipelines_spark.operators.incremental import WatermarkStore
from data_ingestion_pipelines_spark.orchestration import runner
from data_ingestion_pipelines_spark.pipelines import api_ingestion, file_inventory
from data_ingestion_pipelines_spark.pipelines.file_inventory import FileInventoryPipeline
from data_ingestion_pipelines_spark.sinks.runlog import RunLog
from data_ingestion_pipelines_spark.sources.files import local_lister

import workloads

LAYERS = ["orchestration", "catalog", "sources", "pipelines", "sinks", "operators"]
# pipeline entry points; their self time is pipelines.self_s
PIPELINE_ENTRIES = {"pipelines.run_api_job", "pipelines.refresh", "pipelines.classify", "pipelines.copy"}
GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    job: str | None = None

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its child spans cover."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    return {
        s.sid: s.duration - _union_length(
            [(max(c.start, s.start), min(c.end, s.end)) for c in children[s.sid] if c.end > s.start and c.start < s.end]
        )
        for s in spans
    }


def shared_self_times(spans: list[Span]) -> dict[int, float]:
    """Self time that adds up to the wall time: every instant goes to the
    spans open then that have no open child, split evenly among them when
    several run at once (jobs on pool threads). Where no spans overlap this
    equals ``self_times``."""
    children: dict[int, set[int]] = defaultdict(set)
    for s in spans:
        if s.parent is not None:
            children[s.parent].add(s.sid)
    events = sorted(
        [(s.start, 1, s.sid) for s in spans] + [(s.end, 0, s.sid) for s in spans]
    )
    share: dict[int, float] = Counter()
    open_: set[int] = set()
    last = events[0][0] if events else 0.0
    for t, kind, sid in events:
        if open_ and t > last:
            leaves = [o for o in open_ if not (children[o] & open_)]
            for o in leaves:
                share[o] += (t - last) / len(leaves)
        last = t
        if kind:
            open_.add(sid)
        else:
            open_.discard(sid)
    return {s.sid: share[s.sid] for s in spans}


class Tracer:
    def __init__(self, spark, pool_size: int):
        self.sc = spark.sparkContext
        self.pool_size = pool_size
        self.spans: list[Span] = []
        self.counts: Counter = Counter()
        self.values: dict[str, list[float]] = defaultdict(list)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []
        self.listing: list = []  # accumulators of executor listing time

    # -- spans ---------------------------------------------------------------
    def current(self) -> Span | None:
        stack = getattr(self._local, "stack", None)
        return stack[-1] if stack else None

    @contextlib.contextmanager
    def span(self, name: str, parent: Span | None = None, job: str | None = None):
        """Open a span under ``parent`` (default: this thread's open span);
        it inherits the parent's job unless ``job`` is given."""
        stack = self._local.__dict__.setdefault("stack", [])
        parent = parent or (stack[-1] if stack else None)
        job = job or (parent.job if parent else None)
        s = Span(next(self._ids), name, 0.0, parent=parent.sid if parent else None, job=job)
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(f"{GROUP_PREFIX}{s.sid}", name)
        stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            with self._lock:
                self.spans.append(s)

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counts[name] += n

    def record(self, name: str, value: float) -> None:
        with self._lock:
            self.values[name].append(value)

    # -- patching ------------------------------------------------------------
    def _patch(self, owner, attr: str, wrapper) -> None:
        self._saved.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapper)

    def _wrap(self, owner, attr: str, name: str, after=None) -> None:
        orig = owner.__dict__[attr]
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if after is not None:
                after(out, *args, **kwargs)
            return out

        self._patch(owner, attr, traced)

    def install(self) -> None:
        tracer = self
        orig_paginate = api_ingestion.paginate
        orig_list = file_inventory.list_files_distributed

        def paginate(*args, **kwargs):
            with tracer.span("sources.paginate"):
                pages = list(orig_paginate(*args, **kwargs))
            tracer.count("sources.pages", len(pages))
            return pages

        def list_files(spark, seed_dirs, lister=local_lister):
            # the listing is lazy: it runs on the executors inside whichever
            # of the pipeline's actions reads it, so it gets no span. The
            # lister it hands them adds the time spent walking to an
            # accumulator, and the traced round lists as often as untraced.
            spent = spark.sparkContext.accumulator(0.0)
            tracer.listing.append(spent)

            def timed(root):
                records, total = iter(lister(root)), 0.0
                while True:
                    t0 = time.perf_counter()
                    rec = next(records, None)
                    total += time.perf_counter() - t0
                    if rec is None:
                        break
                    yield rec
                spent.add(total)

            return orig_list(spark, seed_dirs, timed)

        class TracedPool(ThreadPoolExecutor):
            def submit(self, fn, spec, attempt):
                submitted, parent = time.perf_counter(), tracer.current()

                def run(spec, attempt):
                    tracer.record("orchestration.queue_wait", time.perf_counter() - submitted)
                    tracer.count("orchestration.attempts")
                    tracer.count("orchestration.reruns", attempt > 1)
                    with tracer.span("orchestration.job", parent=parent, job=f"{spec.key}#{attempt}"):
                        return fn(spec, attempt)

                return super().submit(run, spec, attempt)

        self._patch(api_ingestion, "paginate", paginate)
        self._patch(file_inventory, "list_files_distributed", list_files)
        self._patch(runner, "ThreadPoolExecutor", TracedPool)
        self._wrap(runner.JobRunner, "run_group", "orchestration.run_group")
        self._wrap(catalog, "load_specs", "catalog.load_specs")
        self._wrap(api_ingestion, "json_pages_to_df", "sources.json_parse")
        self._wrap(api_ingestion, "run_api_job", "pipelines.run_api_job")
        self._wrap(api_ingestion, "transform_for_spec", "pipelines.transform_plan")
        self._wrap(api_ingestion, "load_dataframe", "sinks.load")
        self._wrap(file_inventory, "replace_partitions", "sinks.control_write")
        self._wrap(RunLog, "flush", "sinks.runlog_flush")
        self._wrap(WatermarkStore, "get", "operators.watermark_get")
        self._wrap(WatermarkStore, "advance_from", "operators.watermark_advance")
        self._wrap(workloads.FileSync, "change_tree", "harness.change_tree")
        self._wrap(FileInventoryPipeline, "refresh_inventory", "pipelines.refresh")
        self._wrap(FileInventoryPipeline, "classify_inventory", "pipelines.classify")
        self._wrap(
            FileInventoryPipeline, "copy_files", "pipelines.copy",
            after=lambda results, *a, **k: tracer.record("pipelines.files_copied", results.count()),
        )

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    # -- results -------------------------------------------------------------
    def total(self, name: str) -> float:
        return sum(s.duration for s in self.spans if s.name == name)

    def number(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def uncovered(self) -> float:
        """Time of the top-level spans (the traced round) that no child
        span covers: what the spans leave unexplained."""
        own = self_times(self.spans)
        return sum(own[s.sid] for s in self.spans if s.parent is None)

    def self_time_by_layer(self) -> dict[str, float]:
        """Shared self time summed per layer; the values add up to the
        traced round's wall time. The harness layer holds the harness's
        own spans and the time ``uncovered`` reports."""
        own = shared_self_times(self.spans)
        out: dict[str, float] = Counter()
        for s in self.spans:
            out[s.layer] += own[s.sid]
        return dict(sorted(out.items()))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(s)) + "\n")

    def spark_metrics(self) -> dict[str, float]:
        """Spark jobs, tasks and stage metrics of the jobs this tracer's spans
        launched, attributed to the layer of the innermost open span."""
        sc = self.sc
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        job_layer: dict[int, str] = {}
        for s in self.spans:
            for job_id in tracker.getJobIdsForGroup(f"{GROUP_PREFIX}{s.sid}"):
                job_layer[job_id] = s.layer
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        jobs = _get_json(f"{base}/jobs")
        stages = {(st["stageId"], st["attemptId"]): st for st in _get_json(f"{base}/stages")}
        stage_ids: set[int] = set()
        for j in jobs:
            if j["jobId"] in job_layer:
                stage_ids.update(j["stageIds"])
        picked = [st for (sid, _), st in stages.items() if sid in stage_ids]
        out = {
            "spark.jobs": len(job_layer),
            "spark.tasks": sum(st.get("numCompleteTasks", 0) for st in picked),
            "spark.task_s": sum(st.get("executorRunTime", 0) for st in picked) / 1000,
            "spark.shuffle_write_mb": sum(st.get("shuffleWriteBytes", 0) for st in picked) / 2**20,
            "spark.input_mb": sum(st.get("inputBytes", 0) for st in picked) / 2**20,
            "spark.output_mb": sum(st.get("outputBytes", 0) for st in picked) / 2**20,
            "spark.gc_s": sum(st.get("jvmGcTime", 0) for st in picked) / 1000,
        }
        per_layer = Counter(job_layer.values())
        for layer in LAYERS:
            out[f"spark.jobs.{layer}"] = per_layer[layer]
        return out

    def layer_metrics(self) -> dict[str, float]:
        """Per-layer span totals and counts (sums over the traced round)."""
        own = self_times(self.spans)
        runs = self.total("orchestration.run_group")
        waits = self.values["orchestration.queue_wait"]
        return {
            "orchestration.queue_wait_p50_s": statistics.median(waits) if waits else 0.0,
            "orchestration.pool_utilization": (
                self.total("orchestration.job") / (self.pool_size * runs) if runs else 0.0
            ),
            "orchestration.attempts": self.counts["orchestration.attempts"],
            "orchestration.reruns": self.counts["orchestration.reruns"],
            "catalog.load_specs_s": self.total("catalog.load_specs"),
            "sources.paginate_s": self.total("sources.paginate"),
            "sources.pages": self.counts["sources.pages"],
            "sources.json_parse_s": self.total("sources.json_parse"),
            "sources.list_files_s": sum(a.value for a in self.listing),
            "pipelines.transform_plan_s": self.total("pipelines.transform_plan"),
            "pipelines.self_s": sum(own[s.sid] for s in self.spans if s.name in PIPELINE_ENTRIES),
            "pipelines.refresh_s": self.total("pipelines.refresh"),
            "pipelines.classify_s": self.total("pipelines.classify"),
            "pipelines.copy_s": self.total("pipelines.copy"),
            "pipelines.files_copied": sum(self.values["pipelines.files_copied"]),
            "sinks.load_s": self.total("sinks.load"),
            "sinks.runlog_flush_s": self.total("sinks.runlog_flush"),
            "sinks.runlog_flushes": self.number("sinks.runlog_flush"),
            "sinks.control_write_s": self.total("sinks.control_write"),
            "operators.watermark_get_s": self.total("operators.watermark_get"),
            "operators.watermark_advance_s": self.total("operators.watermark_advance"),
        }


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=60) as resp:
        return json.loads(resp.read())
