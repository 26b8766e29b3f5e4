"""Repository benchmark: the spatial-join and tiling pipeline on Spark.

    python3 perfbench/run.py --workload tiles-200 --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One run:

1. generates the workload's pages from ``--seed`` (cached under
   ``.perfbench-work/inputs``; generation is timed apart from set-up),
2. starts the Spark session at ``local[<half the CPUs>]`` (JVM, context,
   Python workers) and runs one unit; this cold start is printed as
   ``jvm_setup_s`` and is not part of ``setup_s``,
3. sets up ``SETUPS`` times on new SparkSessions of that context: the
   polygon index build and broadcast, planning and the first execution of
   one unit; ``setup_s`` is their median,
4. runs units back to back for ``--seconds`` and reports their median,
5. checks the output against the workload's oracle twin.

With ``--trace 1`` it instead warms the JVM up, then runs the same
sequence (set-up, ``WARMUP_UNITS``, ``TRACE_UNITS`` timed units) in three
fresh contexts: untraced, with Spark's event log, untraced again. The
traced context also runs the cumulative-prefix jobs. It reports per-layer
metrics (see ``BASELINE.md``) and the tracing overhead.

Human-readable ``metric`` lines come first; the last line of standard
output is one JSON object. The exit code is non-zero when an output check
fails.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

# Engine modules (and workloads/kernels/eventlog, which import them) are
# imported inside functions: main() first checks that the engine sources
# are present and puts the checkout on sys.path.
ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench-work"
SETUPS = 5
MIN_UNITS = 3
WARMUP_UNITS = 3
TRACE_UNITS = 3

END_TO_END_UNITS = {
    "setup_s": "s",
    "run_s": "s",
    "pages_per_s": "1/s",
}

PER_LAYER_UNITS = {
    "sources.scan_s": "s",
    "sources.rows_read": "count",
    "sources.bytes_read": "bytes",
    "extract.rows_valid": "count",
    "extract.rows_quarantined": "count",
    "extract.rows_prefiltered": "count",
    "extract.prefilter_yield": "ratio",
    "text.mine_us_per_doc": "us",
    "text.payloads_per_doc": "count/doc",
    "pip.match_us_per_point": "us",
    "pip.candidates_per_point": "count/point",
    "pip.matches_per_point": "count/point",
    "pip.hit_ratio": "ratio",
    "pip.index_bytes": "bytes",
    "pipeline.python_s": "s",
    "pipeline.arrow_bytes_in": "bytes",
    "pipeline.arrow_bytes_out": "bytes",
    "pipeline.payload_rows": "count",
    "pipeline.mine_records_s": "s",
    "pipeline.tile_agg_s": "s",
    "pipeline.shuffle_bytes": "bytes",
    "sinks.write_s": "s",
    "sinks.task_commit_s": "s",
    "sinks.job_commit_s": "s",
    "sinks.lineage_s": "s",
    "sinks.files_written": "count",
    "sinks.partitions_written": "count",
    "sinks.bytes_written": "bytes",
    "sinks.rows_per_file": "count/file",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.exec_run_s": "s",
    "spark.core_busy_ratio": "ratio",
    "trace.overhead_s": "s",
    "peak_rss_mb": "MB",
}


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--pages", type=int, default=None,
        help="override the workload's page count (the self-test runs tiny inputs)",
    )
    args = p.parse_args(argv)
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    if args.pages is not None and args.pages < 1:
        p.error("--pages must be at least 1")
    return args


def metric_line(name: str, value, unit: str) -> None:
    print(f"metric {name} = {value} {unit}", flush=True)


# ---------------------------------------------------------------- inputs

def file_hash(path: Path) -> str:
    return hashlib.sha256(path.read_bytes()).hexdigest()[:16]


def synth_hash() -> str:
    return file_hash(ROOT / "harvester_fgp_spark" / "synth.py")


def pages_parquet(n: int, seed: int, files: int) -> tuple[str, float]:
    """Path of the cached pages table for (n, seed) and the seconds spent
    generating it (0 on a cache hit). Written with pyarrow, one file per
    core, so the scan splits the same way on every run."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from harvester_fgp_spark.synth import generate_pages

    path = WORK / "inputs" / f"pages-n{n}-s{seed}-{synth_hash()}"
    if path.is_dir():
        return str(path), 0.0
    t0 = time.perf_counter()
    pdf = generate_pages(n, seed)
    schema = pa.schema([
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ])
    pdf["warc_ts"] = pdf["warc_ts"].dt.tz_localize("UTC")
    table = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
    tmp = path.with_name(path.name + f".tmp{os.getpid()}")
    tmp.mkdir(parents=True)
    step = -(-n // files)
    for i in range(0, n, step):
        pq.write_table(table.slice(i, step), tmp / f"part-{i // step:05d}.parquet")
    os.replace(tmp, path)
    return str(path), time.perf_counter() - t0


def oracle_path(workload: str, n: int, seed: int) -> Path:
    """Cache file of the oracle twin's result for (workload, n, seed). The
    inputs come from synth.py and the result format from workloads.py, so
    both files' hashes are part of the key."""
    key = f"{workload}-n{n}-s{seed}-{synth_hash()}"
    return WORK / "oracle" / f"{key}-{file_hash(Path(__file__).with_name('workloads.py'))}.json"


def cached_oracle(path: Path, compute) -> tuple[dict, float]:
    if path.is_file():
        return json.loads(path.read_text()), 0.0
    t0 = time.perf_counter()
    value = compute()
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(value))
    return value, time.perf_counter() - t0


# ---------------------------------------------------------------- /proc

def cpu_ticks() -> list[int]:
    """The machine-wide CPU time counters of /proc/stat: user, nice, system,
    idle, iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


class PeakRss(threading.Thread):
    """Peak of the summed RSS of a process and all its descendants (the
    JVM and the Python workers it forks), sampled from /proc."""

    def __init__(self, pid: int, period_s: float = 0.1) -> None:
        super().__init__(daemon=True)
        self.pid, self.period_s = pid, period_s
        self.peak_bytes = 0
        self._done = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        total, todo = 0, [self.pid]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self) -> None:
        while not self._done.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._done.wait(self.period_s)

    def stop(self) -> float:
        self._done.set()
        self.join()
        return self.peak_bytes / 2**20


# ---------------------------------------------------------------- spark

def session(cores: int, event_log_dir: str | None = None):
    from harvester_fgp_spark.session import build_session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
    }
    if event_log_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": Path(event_log_dir).as_uri(),
        })
    return build_session(
        app_name="perfbench", master=f"local[{cores}]", extra_conf=conf
    )


def stop_jvm() -> None:
    """Stop the JVM that PySpark launched and wait for it: the gateway
    exits when its stdin closes, and its Python workers go with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def timed_units(runner, seconds: float):
    """Run units back to back for ``seconds`` (at least MIN_UNITS).
    Returns (unit seconds of the successful units, attempted, failed)."""
    samples, attempted, failed = [], 0, 0
    deadline = time.monotonic() + seconds
    while time.monotonic() < deadline or attempted < MIN_UNITS:
        attempted += 1
        t0 = time.perf_counter()
        try:
            runner.unit()
        except Exception:  # a failed unit is counted, the loop goes on
            traceback.print_exc()
            failed += 1
            continue
        samples.append(time.perf_counter() - t0)
        runner.after_unit()
    if not samples:
        raise RuntimeError(f"all {attempted} units failed")
    return samples, attempted, failed


def check_output(runner, oracle: Path) -> tuple[bool, dict]:
    expected, oracle_s = cached_oracle(oracle, runner.oracle)
    try:
        ok, facts = runner.check(expected)
    except Exception:
        traceback.print_exc()
        ok, facts = False, {}
    facts["oracle_s"] = oracle_s
    return ok, facts


# ---------------------------------------------------------------- runs

@dataclass(frozen=True)
class RunSpec:
    wl: object  # workloads.Workload
    n: int
    seed: int
    cores: int
    pages_path: str
    polygons: object  # pandas frame from synth.generate_polygons
    seconds: int
    oracle: Path


def run_untraced(r: RunSpec):
    Runner = r.wl.runner
    # the cold start (JVM, context, Python workers) is reported apart: an
    # engine change cannot move it, and it varies more than the rest
    t0 = time.perf_counter()
    spark = session(r.cores)
    runner = Runner(spark, r.pages_path, r.polygons, str(WORK))
    runner.unit()
    jvm_setup_s = time.perf_counter() - t0
    runner.after_unit()
    # each set-up starts a new SparkSession on that context: index build
    # and broadcast, planning, first execution. They also warm the JVM and
    # the Python workers up for the timed units.
    setups = []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        runner = Runner(spark.newSession(), r.pages_path, r.polygons, str(WORK))
        runner.unit()
        setups.append(time.perf_counter() - t0)
        runner.after_unit()
    before = cpu_ticks()
    samples, attempted, failed = timed_units(runner, r.seconds)
    ticks = [b - a for a, b in zip(before, cpu_ticks())]
    ok, facts = check_output(runner, r.oracle)
    spark.stop()
    attempted += 1
    failed += 0 if ok else 1
    run_s = statistics.median(samples)
    metrics = {
        "setup_s": statistics.median(setups),
        "run_s": run_s,
        "pages_per_s": r.n / run_s,
    }
    metric_line("jvm_setup_s", round(jvm_setup_s, 4), "s")
    metric_line("setup_samples_s", [round(x, 3) for x in setups], "s")
    metric_line("units", len(samples), "count")
    metric_line("unit_samples_s", [round(x, 3) for x in samples], "s")
    # the share of this machine's CPU time that its hypervisor gave to other
    # guests during the timed units: units slow down with it
    metric_line("steal_ratio", round(ticks[7] / max(sum(ticks[:8]), 1), 4), "ratio")
    metric_line("failed_ratio", failed / attempted, "ratio")
    for k, v in facts.items():
        metric_line(f"check.{k}", v, "")
    return metrics, ok and not failed, attempted, failed


def labelled(spark, label: str, fn):
    """Run ``fn`` with its Spark jobs under the job description ``label``,
    the key the event-log reader groups them by."""
    sc = spark.sparkContext
    sc.setJobDescription(label)
    try:
        return fn()
    finally:
        sc.setJobDescription(None)


def trace_sequence(spark, r: RunSpec):
    """Set-up, WARMUP_UNITS untimed units, then TRACE_UNITS timed units,
    each under its own job description. Returns the runner and the timed
    units' seconds."""
    runner = r.wl.runner(spark, r.pages_path, r.polygons, str(WORK))
    labelled(spark, "setup", runner.unit)
    for i in range(WARMUP_UNITS):
        runner.after_unit()
        labelled(spark, f"warmup.{i}", runner.unit)
    times = []
    for i in range(TRACE_UNITS):
        runner.after_unit()
        t0 = time.perf_counter()
        labelled(spark, f"unit.{i}", runner.unit)
        times.append(time.perf_counter() - t0)
    runner.after_unit()
    return runner, times


def run_traced(r: RunSpec):
    """Warm the JVM up, then run trace_sequence in three fresh contexts:
    untraced, with the event log, untraced again. The tracing overhead is
    the traced median unit minus the untraced one; untraced contexts on
    both sides cancel the JVM's warming over the run. The traced context
    also runs the cumulative-prefix jobs and row counts."""
    import pandas as pd

    import eventlog
    import kernels
    from workloads import WORKLOADS, IngestRun, TilesRun
    from harvester_fgp_spark.operators.extract import split_valid
    from harvester_fgp_spark.plans.pipeline import mine_records
    from harvester_fgp_spark.sources.tables import read_pages

    spark = session(r.cores)
    rss = PeakRss(spark.sparkContext._gateway.proc.pid)
    rss.start()
    runner = r.wl.runner(spark, r.pages_path, r.polygons, str(WORK))
    for _ in range(1 + WARMUP_UNITS):
        runner.unit()
        runner.after_unit()
    peak_rss_mb = rss.stop()
    spark.stop()

    spark = session(r.cores)
    _, plain = trace_sequence(spark, r)
    spark.stop()

    log_dir = WORK / "eventlog" / f"{os.getpid()}-{time.time_ns()}"
    log_dir.mkdir(parents=True)
    spark = session(r.cores, str(log_dir))
    runner, traced = trace_sequence(spark, r)
    ok, facts = check_output(runner, r.oracle)

    # cumulative prefixes: scan -> mine_records -> (unit) -> tile-partitioned sink
    pages = read_pages(spark, r.pages_path)
    labelled(spark, "scan", pages.write.format("noop").mode("overwrite").save)
    mined = mine_records(spark, pages, r.polygons)
    labelled(spark, "mine_records", mined.write.format("noop").mode("overwrite").save)
    sink_path, _ = pages_parquet(min(r.n, WORKLOADS["ingest"].pages), r.seed, r.cores)
    sink = IngestRun(spark, sink_path, r.polygons, str(WORK / "prefix"))
    labelled(spark, "sink", sink.unit)
    valid, quarantined = split_valid(pages)
    rows_valid = labelled(spark, "count.valid", valid.count)
    rows_quarantined = labelled(spark, "count.quarantined", quarantined.count)
    payload_docs = labelled(
        spark, "count.payload_docs", mined.select("url").distinct().count
    )
    spark.stop()

    spark = session(r.cores)
    _, plain_after = trace_sequence(spark, r)
    spark.stop()
    plain += plain_after
    attempted = 3 * TRACE_UNITS + 1
    failed = 0 if ok else 1

    (log_file,) = [p for p in log_dir.iterdir() if not p.name.endswith(".inprogress")]
    log = eventlog.read(str(log_file))
    unit, scan, mine = log["unit.1"], log["scan"], log["mine_records"]
    mpy = "MapInPandas"
    rows_prefiltered = mine.node("Filter", "number of output rows")
    m = {
        "sources.scan_s": scan.wall_s,
        "sources.rows_read": scan.node("Scan parquet", "number of output rows"),
        "sources.bytes_read": scan.node("Scan parquet", "size of files read"),
        "extract.rows_valid": rows_valid,
        "extract.rows_quarantined": rows_quarantined,
        "extract.rows_prefiltered": rows_prefiltered,
        "extract.prefilter_yield": payload_docs / max(rows_prefiltered, 1),
        "pipeline.python_s": unit.node(mpy, "time to run Python workers"),
        "pipeline.arrow_bytes_in": unit.node(mpy, "data sent to Python workers"),
        "pipeline.arrow_bytes_out": unit.node(mpy, "data returned from Python workers"),
        "pipeline.payload_rows": unit.node(mpy, "number of output rows"),
        "pipeline.mine_records_s": mine.wall_s,
        "pipeline.tile_agg_s": (
            unit.shuffle_read_stage_s if r.wl.runner is TilesRun else 0.0
        ),
        "pipeline.shuffle_bytes": unit.shuffle_write_bytes,
    }
    # write_records_and_checkpoint runs two SQL executions: records, lineage
    write, lineage = log["sink"].executions[:2]
    cmd = "Execute InsertIntoHadoopFsRelationCommand"
    files = write.node(cmd, "number of written files")
    m.update({
        "sinks.write_s": write.wall_s,
        "sinks.task_commit_s": write.node(cmd, "task commit time"),
        "sinks.job_commit_s": write.node(cmd, "job commit time"),
        "sinks.lineage_s": lineage.wall_s,
        "sinks.files_written": files,
        "sinks.partitions_written": write.node(cmd, "number of dynamic part"),
        "sinks.bytes_written": write.node(cmd, "written output"),
        "sinks.rows_per_file": write.node(cmd, "number of output rows") / max(files, 1),
        "spark.jobs": unit.jobs,
        "spark.stages": unit.stages,
        "spark.tasks": unit.tasks,
        "spark.exec_run_s": unit.exec_run_s,
        "spark.core_busy_ratio": unit.exec_run_s / (traced[1] * r.cores),
    })
    pages_pdf = pd.read_parquet(r.pages_path, columns=["text", "lang"])
    m.update(kernels.measure(pages_pdf, r.polygons))
    plain_s = statistics.median(plain)
    m["trace.overhead_s"] = statistics.median(traced) - plain_s
    m["peak_rss_mb"] = peak_rss_mb
    metric_line("run_s_untraced", plain_s, "s")
    metric_line("run_s_traced", statistics.median(traced), "s")
    metric_line("unit_samples_untraced_s", [round(x, 3) for x in plain], "s")
    metric_line("unit_samples_traced_s", [round(x, 3) for x in traced], "s")
    metric_line("failed_ratio", failed / attempted, "ratio")
    for k, v in facts.items():
        metric_line(f"check.{k}", v, "")
    return m, ok and not failed, attempted, failed


def main(argv=None) -> int:
    if not (ROOT / "harvester_fgp_spark").is_dir():
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    args = parse_args(argv)
    from workloads import WORKLOADS

    # Spark gets half the CPUs. Each task keeps a JVM thread and a Python
    # worker busy, and the JVM's compiler and GC threads and this driver
    # need CPU too; at local[<all CPUs>] they queue behind each other and
    # the timings measure the scheduler. On a 4-CPU host local[2] runs a
    # unit as fast as local[4], and two busy threads beside it slow it by
    # 0-6% instead of 21-51%.
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    # Spark's Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["_JAVA_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}"
    )

    from harvester_fgp_spark.synth import generate_polygons

    wl = WORKLOADS[args.workload]
    n = args.pages or wl.pages
    pages_path, gen_s = pages_parquet(n, args.seed, cores)
    polygons = generate_polygons(wl.polygons, 42)
    metric_line("input_gen_s", round(gen_s, 4), "s")

    t0 = time.perf_counter()
    run = run_traced if args.trace else run_untraced
    try:
        metrics, correct, attempted, failed = run(RunSpec(
            wl, n, args.seed, cores, pages_path, polygons, args.seconds,
            oracle_path(wl.name, n, args.seed),
        ))
    finally:
        stop_jvm()
    metric_line("wall_s", round(time.perf_counter() - t0, 3), "s")
    units = PER_LAYER_UNITS if args.trace else END_TO_END_UNITS
    for k, v in metrics.items():
        metric_line(k, v, units[k])
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()
        },
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
