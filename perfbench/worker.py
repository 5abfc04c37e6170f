"""One benchmark process: set up a Spark session, make the cold call and the
warm calls of one workload, check every output, and print one JSON line.

Started by run.py, which times set-up from the moment it spawns this
process. With ``--setup-only`` the process stops once set-up is done; run.py
starts such processes beside the main one to take the median set-up time.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(Path(__file__).resolve().parent))

# imports count towards set-up, as they would for a nightly spark-submit
from pyspark import SparkContext  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

import spans as tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# the spans whose per-call Spark metrics are reported
CALL_SPANS = (
    "compiler.compile", "engine.run", "engine.outputs", "profiling.profile",
    "writers.write", "dedup.lsh", "dedup.closure", "similarity.neardup",
)
TIMED_SPANS = CALL_SPANS[:4] + ("profiling.synth",) + CALL_SPANS[4:]
SPARK_FIELDS = ("jobs", "tasks", "driver_gap_s", "executor_cpu_s", "executor_run_s",
                "gc_s", "spill_mb", "shuffle_write_mb", "input_mb")
ENGINE_PHASES = ("compile", "fused_scan", "viol_counts", "distinct_wait", "uniq_wait",
                 "ref_wait", "drift_wait", "build_outputs")


def build_session(work: Path, trace: bool) -> SparkSession:
    cores = len(os.sched_getaffinity(0))
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        # a few GB: the inputs are tens of MB and the host's RAM is shared
        .config("spark.driver.memory", "2g")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={work / 'tmp'} -Dderby.system.home={work}")
    )
    if trace:
        log_dir = work / "eventlog"
        log_dir.mkdir(parents=True, exist_ok=True)
        # Spark 4 rolls and zstd-compresses event logs by default; the
        # reader in spans.py wants one plain JSON-lines file
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", log_dir.as_uri())
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until the driver JVM has exited, so that no JVM
    outlives its worker or overlaps the next measurement."""
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits on EOF
    gateway.proc.wait(timeout=60)


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--inputs", required=True, help="JSON {table: parquet dir}")
    ap.add_argument("--work", required=True)
    ap.add_argument("--warm-calls", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--setup-only", action="store_true")
    a = ap.parse_args()

    work = Path(a.work)
    trace = bool(a.trace)
    spark = build_session(work, trace)
    wl = WORKLOADS[a.workload](spark, json.loads(a.inputs), work)
    wl.register()
    ready = time.time()
    if a.setup_only:
        stop_session(spark)
        print(json.dumps({"ready": ready}))
        return 0
    sys.stdin.readline()  # "go": the other set-ups are over

    tr = tracing.Tracer(trace)
    base_rdds = persistent_rdds(spark)
    walls: list[float] = []
    windows: list[tuple[float, float]] = []  # each call's start and end, epoch seconds
    attempted = failed = leaked = 0
    phases: list[tuple[int, dict]] = []  # (call index, engine phase seconds)
    counts: list[tuple[int, dict]] = []  # (call index, workload counters)
    errors: list[str] = []
    for n in range(1 + a.warm_calls):
        tr.call = n
        attempted += 1
        call_errors: list[str] = []
        e0 = time.time()
        t0 = time.perf_counter()
        out = None
        try:
            with tr.span("call"):
                out = wl.call(tr)
        except Exception:
            call_errors.append(traceback.format_exc(limit=4))
        walls.append(time.perf_counter() - t0)
        windows.append((e0, time.time()))
        if out is not None:
            try:
                call_errors += wl.check(out)
                phases.append((n, out_phases(out)))
                counts.append((n, dict(wl.counts)))
                wl.cleanup(out)
            except Exception:
                call_errors.append(traceback.format_exc(limit=4))
        left = persistent_rdds(spark) - base_rdds
        if left:
            leaked += left
            call_errors.append(f"{left} persisted RDDs left after cleanup()")
            spark.catalog.clearCache()
            base_rdds = persistent_rdds(spark)
        if call_errors:
            failed += 1
            errors += [f"call {n}: {e}" for e in call_errors]
    warm = walls[1:]
    result = {
        "attempted": attempted,
        "failed": failed,
        "errors": errors[:20],
        "ready": ready,
        "cold_s": walls[0],
        "warm_s": warm,
        "windows": windows,
        "rows": wl.rows,
        "peak_rss_mb": jvm_peak_rss_mb(spark),
        "leaked_persists": leaked,
        "host": {
            "cores": len(os.sched_getaffinity(0)),
            "pyspark": spark.version,
            "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        },
    }
    app_id = spark.sparkContext.applicationId
    stop_session(spark)
    if trace:
        result["layers"] = layer_metrics(tr, work / "eventlog" / app_id, phases, counts, leaked)
        result["spans"] = [dataclasses.asdict(s) for s in tr.spans]
    print(json.dumps(result))
    return 0


def out_phases(out) -> dict:
    """The engine's own phase timings of a call's validation result, found
    anywhere in the (nested) tuple the call returned."""
    if isinstance(out, tuple):
        return next((ph for part in out if (ph := out_phases(part))), {})
    m = getattr(out, "metrics", None)
    return m["phase_seconds"] if isinstance(m, dict) and "phase_seconds" in m else {}


def layer_metrics(tr, log_path: Path, phases, counts, leaked) -> dict[str, float]:
    """Per-layer metrics: warm-call medians of span times and of the Spark
    metrics of the jobs each span submitted; ``cold.`` for the cold call."""
    log = tracing.EventLog.read(log_path)
    by_name: dict[str, list[tracing.Span]] = {}
    for s in tr.spans:
        by_name.setdefault(s.name, []).append(s)
    out: dict[str, float] = {}
    for name in TIMED_SPANS:
        spans = by_name.get(name, [])
        out[f"{name}_s"] = median([s.wall for s in spans if s.call > 0])
        out[f"cold.{name}_s"] = sum(s.wall for s in spans if s.call == 0)
    for name in CALL_SPANS:
        per_call = [tracing.spark_metrics(s, log.jobs_in(s)) for s in by_name.get(name, []) if s.call > 0]
        for f in SPARK_FIELDS:
            out[f"{name}.spark.{f}"] = median([m[f] for m in per_call])
    calls = by_name["call"]
    for c in calls:
        # layer spans run one after another, so children plus self time
        # must account for the call's wall time exactly
        kids = tr.children(c)
        gap = c.wall - sum(k.wall for k in kids) - tracing.self_time(c, kids)
        if abs(gap) > 1e-3:
            raise RuntimeError(f"call {c.call}: layer spans overlap by {gap:.4f} s")
    out["call.self_s"] = median(
        [tracing.self_time(c, tr.children(c)) for c in calls if c.call > 0]
    )
    # jobs inside a call but outside every layer span: work no layer owns
    layer_spans = [s for s in tr.spans if s.name != "call"]
    out["call.unattributed_jobs"] = sum(
        1 for c in calls for j in log.jobs_in(c)
        if not any(s.call == c.call and s.t0 - 1e-3 <= j.submit <= s.t1 + 1e-3 for s in layer_spans)
    ) / len(calls)
    for p in ENGINE_PHASES:
        out[f"engine.phase.{p}_s"] = median([ph.get(p, 0.0) for n, ph in phases if n > 0])
    for k in sorted({k for _, c in counts for k in c}):
        out[k] = median([c.get(k, 0) for n, c in counts if n > 0])
    # persists left by the engine's own cleanup(); the corpus workload makes
    # no engine call, so its leaks count under hygiene only
    out["engine.leaked_persists"] = leaked if phases and any(ph for _, ph in phases) else 0
    return out


if __name__ == "__main__":
    sys.exit(main())
