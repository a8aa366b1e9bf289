"""Ingestion benchmark of record.

    python3 perfbench/run.py --workload api_fanout --seed 1 --seconds 20 --trace 0

Runs one workload (``api_fanout`` or ``file_sync``, see workloads.py)
against the engine's public entry points on ``local[nproc]``, from the root
of a checkout of the repository. Set-up (session start plus
input generation) is repeated ``SETUPS`` times; then whole rounds of the
workload run until ``--seconds`` have been measured. Every round's outputs
are checked against an oracle. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``; the lines
before it print every metric with its unit. The exit code is 1 if any output
was wrong, 2 if the package cannot be imported.

``--trace 0`` reports the end-to-end metrics, measured without tracing.
``--trace 1`` alternates untraced and traced rounds (at least untraced,
traced, untraced) and reports the
per-layer metrics of the traced ones (medians), the tracing overhead and the
Spark engine's numbers per layer; the spans are written to
``.perfbench/spans-<workload>-<seed>.jsonl``.

``--plant-wrong-row`` swaps one value the oracle reads back, to show that a
wrong output makes the run fail.

All files go to a fresh directory under ``.perfbench/`` at the root of the
checkout, removed at the end.

Every workload reports every end-to-end metric; a workload's round is a
sequence of passes made of units (see workloads.py), and the metrics read:

==============  ==========================================================
setup_s         median of ``SETUPS`` set-ups (session start + inputs)
wall_s          round makespan
rows_per_s      rows landed (control-table rows on file_sync) per second
files_per_s     documents (API pages served, files listed) per second
job_p50_s       median unit: job execution, pipeline step
job_p90_s       90th percentile unit
delivery_p50_s  median pass: scheduled group run, sync pass
delivery_max_s  slowest pass of the round
first_sync_s    first pass: first group run, first sync
resync_s        median later pass: second group run, re-sync
peak_rss_mb     peak resident memory of this process and its descendants
                (JVM, Python workers) during the measured rounds, shared
                pages counted once (sum of each process's PSS)
==============  ==========================================================

Timings are medians over the measured rounds. ``failed_share`` (failed
units over attempted, oracle mismatches counted as failures) is printed and
carried by the ``attempted``/``failed`` fields; it is 0 on a correct run, so
it is not one of the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
CORES = len(os.sched_getaffinity(0))  # nproc
SHUFFLE_PARTITIONS = CORES
DRIVER_MEMORY = "1g"
SETUPS = 3  # set-ups per run; the first also launches the JVM


def descendants() -> list[int]:
    """Pids of every process below this one, read from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


class PeakRss:
    """Peak resident memory of this process and all its descendants (the
    JVM and Spark's Python workers), sampled from /proc every ``interval``
    seconds. A sample walks the page tables of every process (about 25 ms
    of kernel time for the JVM's pre-touched heap, holding its memory-map
    lock), so sampling often slows and unsteadies what it measures; the
    heap is resident from the start and Spark's Python workers live on
    between tasks, so a slow rate still finds the peak."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak = 0
        self.at_peak: list[int] = []  # each process's RSS at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def sample(self) -> dict[int, int]:
        """Proportional resident bytes of each process of the tree: a page
        shared by n processes counts 1/n in each, so a forked child (the
        JVM's short-lived process launches, Spark's Python workers) does
        not count its parent's pages a second time."""
        out = {}
        for pid in [os.getpid(), *descendants()]:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    pss = next(line for line in f if line.startswith("Pss:"))
                out[pid] = int(pss.split()[1]) * 1024
            except (OSError, StopIteration, IndexError, ValueError):
                pass
        return out

    def _run(self) -> None:
        while not self._stop.is_set():
            rss = self.sample()
            if sum(rss.values()) > self.peak:
                self.peak = sum(rss.values())
                self.at_peak = sorted(rss.values(), reverse=True)
            self._stop.wait(self.interval)


def start_session(work: str):
    from data_ingestion_pipelines_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(work, "spark-local"),
            # the whole heap is resident from the start, so peak RSS does
            # not depend on when the collector chose to grow it
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            ),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "5000",
            "spark.ui.retainedStages": "5000",
            "spark.sql.ui.retainedExecutions": "100",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and its JVM, and wait until the JVM and the Python
    workers it started have exited."""
    from pyspark import SparkContext

    started = descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while (alive := [p for p in started if running(p)]) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in alive:
        os.kill(pid, signal.SIGKILL)


def running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def quantile(values: list[float], q: int) -> float:
    """The q-th percentile (q in 1..99) interpolated between samples, never beyond them."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def end_to_end(rounds, setups: list[float], peak_rss: int) -> dict[str, tuple[float, str]]:
    units = [u for r in rounds for u in r.unit_s]
    passes = [p for r in rounds for p in r.pass_s]
    med = statistics.median
    return {
        "setup_s": (med(setups), "s"),
        "wall_s": (med(r.wall_s for r in rounds), "s"),
        "rows_per_s": (med(r.rows / r.wall_s for r in rounds), "1/s"),
        "files_per_s": (med(r.docs / r.wall_s for r in rounds), "1/s"),
        "job_p50_s": (med(units), "s"),
        "job_p90_s": (quantile(units, 90), "s"),
        "delivery_p50_s": (med(passes), "s"),
        "delivery_max_s": (med(max(r.pass_s) for r in rounds), "s"),
        "first_sync_s": (med(r.pass_s[0] for r in rounds), "s"),
        "resync_s": (med(med(r.pass_s[1:]) for r in rounds), "s"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
    }


LAYER_UNITS = {"_s": "s", "_mb": "MB", "_ratio": "ratio", "_utilization": "ratio", "_amplification": "ratio"}
LAYER_METRICS = [
    "orchestration.queue_wait_p50_s", "orchestration.pool_utilization", "orchestration.attempts",
    "orchestration.reruns", "catalog.load_specs_s", "sources.paginate_s", "sources.pages",
    "sources.json_parse_s", "sources.list_files_s", "pipelines.transform_plan_s", "pipelines.self_s",
    "pipelines.refresh_s", "pipelines.classify_s", "pipelines.copy_s", "pipelines.files_copied",
    "pipelines.copy_useful_ratio", "sinks.load_s", "sinks.write_amplification", "sinks.target_files",
    "sinks.runlog_flush_s", "sinks.runlog_flushes", "sinks.control_write_s", "operators.watermark_get_s",
    "operators.watermark_advance_s", "spark.jobs", "spark.jobs_per_ingest",
    *(f"spark.jobs.{layer}" for layer in
      ("orchestration", "catalog", "sources", "pipelines", "sinks", "operators")),
    "spark.tasks", "spark.task_s", "spark.shuffle_write_mb", "spark.input_mb", "spark.output_mb",
    "spark.gc_s", "trace.wall_s", "trace.uncovered_s", "trace.overhead_s", "trace.spans",
]


def unit_of(name: str) -> str:
    return next((u for suffix, u in LAYER_UNITS.items() if name.endswith(suffix)), "count")


def per_layer(traced: list[tuple], untraced_walls: list[float]) -> dict[str, tuple[float, str]]:
    """Medians over the traced rounds of each per-layer metric, in
    ``LAYER_METRICS`` order."""
    samples: dict[str, list[float]] = {}
    for rnd, tracer, spark_numbers in traced:
        values = {**tracer.layer_metrics(), **spark_numbers}
        values["spark.jobs_per_ingest"] = spark_numbers["spark.jobs"] / rnd.ingests
        copies = tracer.values["pipelines.files_copied"]
        values["pipelines.copy_useful_ratio"] = (
            rnd.extra["resync_useful_copies"] / copies[-1] if "resync_useful_copies" in rnd.extra else 0.0
        )
        values["sinks.write_amplification"] = rnd.extra.get("sinks.write_amplification", 0.0)
        values["sinks.target_files"] = rnd.extra.get("sinks.target_files", 0)
        values["trace.wall_s"] = tracer.total("harness.round")
        values["trace.uncovered_s"] = tracer.uncovered()
        values["trace.spans"] = len(tracer.spans)
        for k, v in values.items():
            samples.setdefault(k, []).append(float(v))
    samples["trace.overhead_s"] = [
        statistics.median(r.wall_s for r, _, _ in traced) - statistics.median(untraced_walls)
    ]
    return {k: (statistics.median(samples[k]), unit_of(k)) for k in LAYER_METRICS}


def main() -> int:
    ap = argparse.ArgumentParser(description="Ingestion benchmark of record.")
    ap.add_argument("--workload", required=True, choices=["api_fanout", "file_sync"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--plant-wrong-row", action="store_true")
    args = ap.parse_args()

    # the package is imported from the checkout, by this process and by the
    # Python workers the JVM starts for mapInPandas stages
    sys.path.insert(0, REPO)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    # few malloc arenas in the JVM's many threads, so native memory (and
    # peak RSS) does not depend on which threads happened to allocate
    os.environ.setdefault("MALLOC_ARENA_MAX", "2")
    # no JVM performance-data files in the system's /tmp (spark-submit's
    # launcher JVM; the driver JVM's options are in start_session)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    try:
        import data_ingestion_pipelines_spark  # noqa: F401
    except ImportError as ex:
        print(f"cannot import the engine from {REPO}: {ex}", file=sys.stderr)
        return 2
    import workloads
    from tracing import Tracer

    root = os.path.join(REPO, ".perfbench")
    os.makedirs(root, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=root)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    spark = None
    try:
        with PeakRss() as rss:
            wl_cls = workloads.WORKLOADS[args.workload]
            setups = []
            for i in range(SETUPS):
                if spark is not None:
                    spark.stop()
                os.sync()
                t0 = time.perf_counter()
                spark = start_session(work)
                wl = wl_cls()
                wl.setup(spark, args.seed, os.path.join(work, f"setup{i}"))
                setups.append(time.perf_counter() - t0)
            print(f"# setups (s): {', '.join(f'{s:.3f}' for s in setups)}; first includes JVM launch")

            # a small round of the same workload warms the JVM's compiled code
            # paths, so measured rounds are not first-call outliers
            t0 = time.perf_counter()
            warm = wl_cls.warmup()
            warm.setup(spark, args.seed, os.path.join(work, "warmup"))
            warm.prepare(os.path.join(work, "warmup", "round"))
            problems = warm.check(warm.round(spark, os.path.join(work, "warmup", "round")))
            print(f"# warm-up round (s): {time.perf_counter() - t0:.3f}")
            rss.peak = 0

            rounds, traced = [], []
            measured = 0.0
            n = 0
            # whole rounds until --seconds have been measured; a traced run
            # brackets its traced round with untraced ones, whose median wall
            # time the tracing overhead is taken against
            while measured < args.seconds or (args.trace and n < 3):
                rdir = os.path.join(work, f"round{n}")
                tracer = Tracer(spark, workloads.POOL_SIZE) if args.trace and n % 2 else None
                wl.prepare(rdir)
                os.sync()  # write back set-up and earlier rounds' files before timing
                n += 1
                if tracer:
                    tracer.install()
                    try:
                        with tracer.span("harness.round"):
                            rnd = wl.round(spark, rdir)
                    finally:
                        tracer.uninstall()
                    traced.append((rnd, tracer, tracer.spark_metrics()))
                else:
                    rnd = wl.round(spark, rdir)
                    rounds.append(rnd)
                measured += rnd.wall_s
                print(f"# round {n - 1}{' (traced)' if tracer else ''} (s): wall {rnd.wall_s:.3f}, passes "
                      + ", ".join(f"{p:.3f}" for p in rnd.pass_s))
                problems += wl.check(rnd, plant=args.plant_wrong_row)
                shutil.rmtree(rdir, ignore_errors=True)
            if traced:
                spans_path = os.path.join(root, f"spans-{args.workload}-{args.seed}.jsonl")
                tracer = traced[-1][1]
                tracer.write(spans_path)
                print(f"# spans of the last traced round: {spans_path}")
                by_layer = tracer.self_time_by_layer()
                print("# self time by layer (s): " + ", ".join(f"{k} {v:.3f}" for k, v in by_layer.items())
                      + f"; uncovered by spans {tracer.uncovered():.3f} of wall {tracer.total('harness.round'):.3f}")
        all_rounds = rounds + [t[0] for t in traced]
        attempted = sum(r.attempted for r in all_rounds)
        failed = min(attempted, sum(r.failed for r in all_rounds) + len(problems))
        if args.trace:
            metrics = per_layer(traced, [r.wall_s for r in rounds])
        else:
            metrics = end_to_end(rounds, setups, rss.peak)
            print(f"# peak resident memory by process (MB): {[round(b / 2**20) for b in rss.at_peak]}")
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    for p in problems[:20]:
        print(f"# MISMATCH {p}", file=sys.stderr)
    print(f"# workload={args.workload} seed={args.seed} rounds={len(all_rounds)} traced={len(traced)} "
          f"cores={CORES} shuffle_partitions={SHUFFLE_PARTITIONS} driver_memory={DRIVER_MEMORY}")
    print(f"# samples: {sum(len(r.unit_s) for r in rounds)} units (job_*), "
          f"{sum(len(r.pass_s) for r in rounds)} passes (delivery_*) in {len(rounds)} untraced rounds")
    print(f"failed_share {failed / attempted:.4f} ratio")
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    print(json.dumps({
        "correct": not problems and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if not problems and failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
