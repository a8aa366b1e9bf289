"""The benchmark workloads.

Each workload is set up once per session (inputs generated from the seed)
and then runs in rounds. A round is the whole scenario on fresh targets; it
reports its timings in a ``Round`` and is checked by its oracle afterwards,
outside the timed region. The workloads call the engine only through its
public entry points, looked up on their modules at call time so the traced
run can wrap them.

Every round is a sequence of passes, and each pass runs units:

================  =========================  ===================================
workload          pass                       unit
================  =========================  ===================================
api_fanout        a scheduled run of the     one job execution
                  job group (2 per round)
file_sync         first sync, re-sync        one pipeline step (refresh,
                                             classify, copy)
================  =========================  ===================================
"""

from __future__ import annotations

import contextlib
import itertools
import os
import sys
import threading
import time
from dataclasses import dataclass, field

from data_ingestion_pipelines_spark import catalog
from data_ingestion_pipelines_spark.operators.classify import ExclusionRules
from data_ingestion_pipelines_spark.operators.incremental import WatermarkStore
from data_ingestion_pipelines_spark.orchestration import runner
from data_ingestion_pipelines_spark.pipelines import api_ingestion
from data_ingestion_pipelines_spark.pipelines.file_inventory import FileInventoryPipeline
from data_ingestion_pipelines_spark.sinks.runlog import RunLog
from data_ingestion_pipelines_spark.specs import JobSpec, LoadType, PaginationType

import gen
import oracles
from fakeapi import NEXT_HEADER, FakeApi, source_url

JOB_GROUP, JOB_ORDER = 1, 1
LOAD_TS = "2024-06-01 00:00:00"
JOB_TIME_GUARD_S = 30.0
POOL_SIZE = len(os.sched_getaffinity(0))  # job-runner threads: one per core (nproc)


@dataclass
class Round:
    wall_s: float = 0.0
    pass_s: list[float] = field(default_factory=list)
    unit_s: list[float] = field(default_factory=list)
    rows: int = 0  # rows landed in targets
    docs: int = 0  # input documents: API pages or listed files
    attempted: int = 0  # units attempted (jobs, files)
    failed: int = 0
    attempts: int = 0  # job executions, reruns included
    ingests: int = 0  # pipeline runs: job executions, sync passes
    extra: dict[str, float] = field(default_factory=dict)  # workload-specific layer metrics


class JobGuard:
    """Per-job time guard. A job that runs past ``seconds`` is recorded as
    failed: its Spark jobs are cancelled through a job tag, the fake API
    answers its further requests with 408, and the guard raises so the
    runner counts the attempt as failed instead of waiting on it."""

    def __init__(self, spark, seconds: float = JOB_TIME_GUARD_S):
        self.sc = spark.sparkContext
        self.seconds = seconds
        self._tags = itertools.count(1)
        self._local = threading.local()

    def expired(self) -> bool:
        deadline = getattr(self._local, "deadline", None)
        return deadline is not None and time.monotonic() > deadline

    @contextlib.contextmanager
    def __call__(self):
        tag = f"perfbench-job-{next(self._tags)}"
        self._local.deadline = time.monotonic() + self.seconds
        self.sc.addJobTag(tag)
        timer = threading.Timer(self.seconds, self.sc.cancelJobsWithTag, [tag])
        timer.start()
        try:
            yield
        finally:
            timer.cancel()
            timer.join()
            self.sc.removeJobTag(tag)
            expired = self.expired()
            self._local.deadline = None
        if expired:
            raise TimeoutError(f"job exceeded its {self.seconds:.0f} s time guard")


def api_spec(job: gen.ApiJob, depends_on: int | None = None) -> JobSpec:
    return JobSpec(
        job_group=JOB_GROUP,
        job_order=JOB_ORDER,
        job_num=job.num,
        load_type=LoadType(job.load_type),
        source_url=source_url(job.num),
        source_pk_cols="id",
        source_change_key_cols="item",
        exclude_columns="tags,links,owner_region",
        transformed_columns_in_target="amount:decimal(12,2);attrs_size:int",
        additional_columns_in_target="load_ts",
        target_db_name="bench",
        target_tbl_name=f"src{job.num}",
        depends_on=f"{JOB_GROUP}/{JOB_ORDER}/{depends_on}" if depends_on else "",
        pagination=PaginationType.HEADER,
        pagination_keyword=NEXT_HEADER,
        options={"change_key_col": "modifiedAt"},
    )


def job_key(num: int) -> str:
    return f"{JOB_GROUP}/{JOB_ORDER}/{num}"


class Workload:
    name: str

    def prepare(self, rdir: str) -> None:
        """Untimed work before a round (in ``rdir``)."""


class ApiFanout(Workload):
    """Small API jobs, run by the job runner in two scheduled passes on a
    pool of ``POOL_SIZE`` threads."""

    name = "api_fanout"

    def __init__(self, n_jobs: int = gen.FANOUT_JOBS, failures: int = gen.FANOUT_FIRST_ATTEMPT_FAILURES,
                 dependencies: int = gen.FANOUT_DEPENDENCIES):
        self.sizes = (n_jobs, failures, dependencies)

    @classmethod
    def warmup(cls) -> "ApiFanout":
        return cls(3, 0, 0)

    def setup(self, spark, seed: int, work: str) -> None:
        self.jobs = gen.fanout_jobs(seed, *self.sizes)
        self.api = FakeApi(self.jobs, gen.FANOUT_PAGE_ROWS)
        for p in range(2):  # serialize every page the passes will fetch
            self.api.publish(p)
            for job in self.jobs:
                since = gen.max_change_key(job.states[0]) if p and job.load_type == "INC" else None
                self.api.pages(f"src{job.num}", since)
        self.control = os.path.join(work, "job_queue")
        catalog.save_specs(spark, [api_spec(j, j.depends_on) for j in self.jobs], self.control)

    def round(self, spark, rdir: str) -> Round:
        guard = JobGuard(spark)
        self.api.expired = guard.expired
        lake, out = os.path.join(rdir, "lake"), Round()
        watermarks = WatermarkStore(spark, os.path.join(rdir, "watermarks"))
        runlog = RunLog(spark, os.path.join(rdir, "runlog"))
        lock = threading.Lock()
        self.api.served = 0

        writes = []

        def job_fn(spec: JobSpec) -> int:
            t0, start_ns = time.perf_counter(), time.time_ns()
            with lock:
                out.attempts += 1
            with guard():
                rows = api_ingestion.run_api_job(
                    spark, spec, lake, transport=self.api, watermarks=watermarks, load_ts=LOAD_TS
                )
            with lock:
                out.unit_s.append(time.perf_counter() - t0)
                out.rows += rows
            # outside the unit's time: the bytes this execution wrote
            target = os.path.join(lake, spec.target_db_name, spec.target_tbl_name)
            with lock:
                writes.append((self.api.current, rows, written_since(target, start_ns)))
            return rows

        start = time.perf_counter()
        for p in range(2):
            self.api.publish(p)
            t0 = time.perf_counter()
            specs = catalog.load_specs(spark, self.control, job_group=JOB_GROUP, job_order=JOB_ORDER)
            results = runner.JobRunner(job_fn, pool_size=POOL_SIZE, runlog=runlog).run_group(specs)
            out.pass_s.append(time.perf_counter() - t0)
            out.attempted += len(results)
            out.failed += sum(r.status != "S" for r in results)
        out.wall_s = time.perf_counter() - start
        out.ingests = len(out.unit_s)
        out.docs = self.api.served
        out.extra = sink_numbers(writes, [os.path.join(lake, "bench", f"src{j.num}") for j in self.jobs])
        self.runlog_path, self.lake, self.wm_path = runlog.path, lake, watermarks.path
        return out

    def check(self, out: Round, plant: bool = False) -> list[str]:
        problems = []
        for job in self.jobs:
            path = os.path.join(self.lake, "bench", f"src{job.num}")
            expected = oracles.expected_api_target(job.load_type, job.states)
            problems += oracles.compare_target(f"src{job.num}", path, expected, plant and job.num == 1)
        problems += oracles.check_watermarks(
            oracles.read_watermarks(self.wm_path),
            {job_key(j.num): oracles.expected_watermark(j.states) for j in self.jobs},
        )
        logged = len(oracles.read_rows(self.runlog_path))
        if logged != out.attempts:
            problems.append(f"runlog holds {logged} rows for {out.attempts} attempts")
        return problems


class FileSync(Workload):
    """File inventory sync of a 4k-file tree: refresh, classify, copy;
    then a re-sync after part of the tree changed."""

    name = "file_sync"
    rules = ExclusionRules(extensions=set(gen.EXCLUDED_EXTENSIONS), name_terms=set(gen.EXCLUDED_NAME_TERMS))

    def __init__(self, n_files: int = gen.FILES_TOTAL):
        self.n_files = n_files

    @classmethod
    def warmup(cls) -> "FileSync":
        return cls(400)

    def setup(self, spark, seed: int, work: str) -> None:
        self.seed = seed
        self.tree = gen.plan_tree(seed, os.path.join(work, "tree"), self.n_files)
        self.planned = dict(self.tree.files)
        self.written = False

    def prepare(self, rdir: str) -> None:
        # writing the files is left out of set-up and round times: it is
        # not the engine's work, and creating 10k files on ext4 took from
        # 0.6 to 5 s depending on what earlier runs created and deleted.
        # Later rounds reuse the tree with the last re-sync's changes
        # undone, so each round starts from the same files with less
        # file-system churn between rounds.
        if self.written:
            gen.restore_tree(self.tree, self.planned)
        else:
            gen.write_tree(self.tree)
            self.written = True

    def round(self, spark, rdir: str) -> Round:
        self.target = os.path.join(rdir, "target")
        self.control = os.path.join(rdir, "control")
        pipe = FileInventoryPipeline(spark, self.control, JOB_GROUP, JOB_ORDER)
        guard = JobGuard(spark)
        out = Round()
        for p in range(2):
            if p:
                self.change_tree()
            t0 = time.perf_counter()
            steps = [
                lambda: pipe.refresh_inventory(self.tree.seed_dirs(), self.target),
                lambda: pipe.classify_inventory(self.rules),
                lambda: pipe.copy_files(),
            ]
            listed = len(self.tree.files)
            for step in steps:
                t = time.perf_counter()
                try:
                    with guard():
                        step()
                except Exception as ex:  # the pass's files count as failed
                    print(f"# sync pass {p} failed: {ex!r}", file=sys.stderr)
                    out.failed += listed
                    break
                finally:
                    out.unit_s.append(time.perf_counter() - t)
            out.pass_s.append(time.perf_counter() - t0)
            out.docs += listed
            out.rows += listed + (len(self.change.deleted) if p else 0)
        out.wall_s = sum(out.pass_s)
        out.attempted = out.docs
        out.ingests = 2
        # files whose bytes the re-sync had to copy: modified and added ones
        out.extra = {"resync_useful_copies": sum(
            not gen.is_excluded(r) for r in self.change.modified + self.change.added
        )}
        return out

    def change_tree(self) -> None:
        """The changes the re-sync picks up, written back to disk."""
        self.change = gen.mutate_tree(self.seed, self.tree)
        os.sync()  # the changed files' write-back is not the re-sync's

    def check(self, out: Round, plant: bool = False) -> list[str]:
        return oracles.check_file_sync(self.tree, self.change.deleted, self.target, self.control, plant)


def _parquet_files(path: str) -> list[os.DirEntry]:
    return [e for e in os.scandir(path) if e.name.endswith(".parquet")] if os.path.isdir(path) else []


def written_since(path: str, start_ns: int) -> int:
    """Bytes of the parquet files under ``path`` written since ``start_ns``."""
    return sum(e.stat().st_size for e in _parquet_files(path) if e.stat().st_mtime_ns >= start_ns)


def sink_numbers(writes: list[tuple[int, int, int]], targets: list[str]) -> dict[str, float]:
    """``sinks.write_amplification``: bytes written to the targets over the
    bytes the ingested rows alone would take, at the bytes per row of the
    first pass (which writes into empty targets, so writes exactly its
    rows); ``sinks.target_files``: parquet files in the targets at the end.
    ``writes`` holds (pass, rows, bytes written) per execution."""
    first = [(r, b) for p, r, b in writes if p == 0]
    bytes_per_row = sum(b for _, b in first) / sum(r for r, _ in first)
    return {
        "sinks.write_amplification": sum(b for *_, b in writes) / (bytes_per_row * sum(r for _, r, _ in writes)),
        "sinks.target_files": sum(len(_parquet_files(t)) for t in targets),
    }


WORKLOADS = {w.name: w for w in (ApiFanout, FileSync)}
