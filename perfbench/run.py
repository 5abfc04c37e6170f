"""Benchmark entry point.

    python3 perfbench/run.py --workload suite40 --seed 1 --seconds 12 --trace 0

Run from the root of a source checkout of dq_suite_amsterdam_spark. One run:

1. generates the workload's inputs from ``--seed`` (cached on disk by
   workload, seed and size; timed apart from set-up);
2. starts the host-speed probe (probe.py), which runs until the end;
3. times set-up ``SETUPS`` times, each in a fresh interpreter started at the
   same moment: imports, Spark session start and registering the inputs;
   reports the median;
4. in the last of those processes makes one cold call and then warm calls
   for ``--seconds``, checking every call's output;
5. scales every time to the reference host speed (``host_scale``) and prints
   a human-readable report and, as the last line, one JSON object.

With ``--trace 0`` the JSON carries the end-to-end metrics; with ``--trace 1``
the Spark event log is on and it carries the per-layer metrics instead.
The metric names are the ones BENCHMARK.json declares.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from gen import ensure_inputs  # noqa: E402

# input size per workload: rows of the source-code table; rows of the fact
# table, with a twentieth as many documents and a fortieth as many vectors
SIZES = {"suite40": 100_000, "keys_dedup": 50_000}
# nominal warm-call seconds per workload on a 4-core host. A run makes
# seconds // nominal warm calls (at least one): a fixed count for a given
# --seconds, so every run and every commit medians over the same calls.
NOMINAL_CALL_S = {"suite40": 6.0, "keys_dedup": 20.0}
# fresh-interpreter set-ups per run, started together; the median is
# reported. Each set-up boots a JVM (about 8 s alone on 4 cores, 10 s with
# two side by side); more would dominate a run's wall time.
SETUPS = 2
# CPU seconds of probe.py's fixed work on the reference host, a quiet
# 4-core VM (PySpark 4.1.2, Java 17, Python 3). Every reported time is
# scaled by REF_PROBE_S / (the probe's median over that time's own window)
# and by the share of CPU time not stolen. A shared host's speed drifts by
# more than a tenth over minutes, and that drift, not the program, set the
# spread of the unscaled times between runs.
REF_PROBE_S = 0.0045
# a run that has not finished by then is killed and fails
RUN_TIMEOUT_S = 170


class Worker:
    """One worker process; ``t_spawn`` is the wall time it was started at."""

    def __init__(self, args: list[str], env: dict, log: Path) -> None:
        self.log = log
        self.t_spawn = time.time()
        with open(log, "ab") as err:
            self.proc = subprocess.Popen(
                [sys.executable, str(HERE / "worker.py"), *args],
                stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=err,
                env=env, cwd=env["PERFBENCH_WORK"],
            )

    def result(self, deadline: float, stdin: bytes = b"") -> dict:
        try:
            out, _ = self.proc.communicate(stdin, timeout=max(deadline - time.monotonic(), 0))
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.communicate()
            raise RuntimeError(f"run timed out after {RUN_TIMEOUT_S} s")
        lines = out.decode().strip().splitlines()
        if self.proc.returncode != 0 or not lines:
            tail = self.log.read_text(errors="replace")[-3000:]
            raise RuntimeError(f"worker exited with {self.proc.returncode}:\n{tail}")
        return json.loads(lines[-1])

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.communicate()


def stop_probe(probe: subprocess.Popen) -> list:
    """Stop the host-speed probe and return its samples."""
    try:
        out, _ = probe.communicate(b"", timeout=30)
    except subprocess.TimeoutExpired:
        probe.kill()
        probe.communicate()
        raise RuntimeError("host-speed probe did not stop")
    return json.loads(out)


def _window(samples: list, t0: float, t1: float) -> list:
    """The probe samples taken from t0 to t1, in time order; for a window
    shorter than the probe's period (a call that failed at once), the two
    samples nearest its middle."""
    xs = [x for x in samples if t0 <= x[0] <= t1]
    if len(xs) < 2:
        mid = (t0 + t1) / 2
        xs = sorted(sorted(samples, key=lambda x: abs(x[0] - mid))[:2])
    return xs


def probe_median(samples: list, t0: float, t1: float) -> float:
    return statistics.median(x[1] for x in _window(samples, t0, t1))


def steal_share(samples: list, t0: float, t1: float) -> float:
    """Share of the host's CPU time the hypervisor gave to others."""
    xs = _window(samples, t0, t1)
    return (xs[-1][2] - xs[0][2]) / max(xs[-1][3] - xs[0][3], 1)


def host_scale(samples: list, t0: float, t1: float) -> float:
    """Factor that turns a wall time measured from t0 to t1 into the time
    it would take on the reference host: the probe's work took
    ``REF_PROBE_S`` there and no CPU time was stolen."""
    return REF_PROBE_S / probe_median(samples, t0, t1) * (1 - steal_share(samples, t0, t1))


def count_dq_tmp(tmp: Path) -> int:
    return sum(1 for p in tmp.glob("dq_*") if p.is_dir()) if tmp.exists() else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    deadline = time.monotonic() + RUN_TIMEOUT_S
    if not (ROOT / "dq_suite_amsterdam_spark" / "__init__.py").is_file():
        print(f"no dq_suite_amsterdam_spark package under {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    state = ROOT / ".perfbench"
    inputs, gen_s = ensure_inputs(state / "inputs", a.workload, a.seed, SIZES[a.workload])

    work = state / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, TMPDIR=str(tmp), PERFBENCH_WORK=str(work),
               PYSPARK_PYTHON=sys.executable, PYTHONDONTWRITEBYTECODE="1")
    log = work / "worker.log"
    common = ["--workload", a.workload, "--inputs", json.dumps(inputs), "--work", str(work),
              "--warm-calls", str(max(1, int(a.seconds // NOMINAL_CALL_S[a.workload]))),
              "--trace", str(a.trace)]
    # The set-ups run side by side: one after another they would cost more
    # than the calls. The main worker waits for "go" on stdin until the
    # set-up-only workers have exited, so no call overlaps a set-up.
    probe = subprocess.Popen([sys.executable, str(HERE / "probe.py")],
                             stdin=subprocess.PIPE, stdout=subprocess.PIPE)
    workers: list[Worker] = []
    try:
        workers = [Worker(common + ["--setup-only"], env, log) for _ in range(SETUPS - 1)]
        workers.append(Worker(common, env, log))
        ready = [w.result(deadline)["ready"] for w in workers[:-1]]
        res = workers[-1].result(deadline, b"go\n")
        ready.append(res["ready"])
        tmp_dirs = count_dq_tmp(tmp)
    except RuntimeError as exc:
        print(f"benchmark run failed: {exc}", file=sys.stderr)
        return 1
    finally:
        for w in workers:
            w.stop()
        samples = stop_probe(probe)
        shutil.rmtree(work, ignore_errors=True)
    leftovers = tmp_dirs + res["leaked_persists"]

    # every time is scaled to the reference host speed over its own window
    setup_windows = [(w.t_spawn, r) for w, r in zip(workers, ready)]
    setups = [(b - a) * host_scale(samples, a, b) for a, b in setup_windows]
    cold_win, *warm_wins = res["windows"]
    cold_s = res["cold_s"] * host_scale(samples, *cold_win)
    warm = [t * host_scale(samples, *w) for t, w in zip(res["warm_s"], warm_wins)]
    rows_per_s = res["rows"] / statistics.median(warm)
    setup_s = statistics.median(setups)
    attempted, failed = res["attempted"], res["failed"]
    host = res["host"]
    run_win = (setup_windows[0][0], res["windows"][-1][1])
    probe_ms = 1000 * probe_median(samples, *run_win)
    steal = steal_share(samples, *run_win)
    print(f"workload {a.workload}  seed {a.seed}  rows {res['rows']}  "
          f"cores {host['cores']}  ram {_ram_gb():.1f} GB  pyspark {host['pyspark']}  "
          f"java {host['java']}  trace {a.trace}")
    print(f"host speed: probe {probe_ms:.3f} ms (reference {1000 * REF_PROBE_S:.3f} ms), "
          f"{100 * steal:.1f}% of CPU time stolen")
    print(f"input generation {gen_s:.2f} s (0 when cached)")
    print(f"wall s: set-ups {[round(b - a, 3) for a, b in setup_windows]}  "
          f"cold {res['cold_s']:.3f}  warm {[round(x, 3) for x in res['warm_s']]}")
    print(f"at reference speed: set-ups {[round(x, 3) for x in setups]}  "
          f"cold {cold_s:.3f}  warm {[round(x, 3) for x in warm]}")
    for e in res["errors"]:
        print("ERROR", e)
    print(f"hygiene: {tmp_dirs} dq_* temp dirs left, {res['leaked_persists']} persisted RDDs leaked")
    # per-layer only: the driver JVM's VmHWM varied by a quarter between
    # runs of one seed, too much for an end-to-end bound
    print(f"driver JVM peak RSS {res['peak_rss_mb']:.0f} MB")
    e2e = {
        "setup_s": (setup_s, "s"),
        "cold_s": (cold_s, "s"),
        "rows_per_s": (rows_per_s, "1/s"),
        "fail_ratio": (failed / attempted, "ratio"),
    }
    for name, (value, unit) in e2e.items():
        print(f"  {name:<12} {value:>14.4f} {unit}")

    if a.trace:
        # the raw spans, for reading a run's timeline after the fact
        traces = state / "traces"
        traces.mkdir(exist_ok=True)
        (traces / f"{a.workload}-{a.seed}.json").write_text(json.dumps(res["spans"]))
        layers = dict(res["layers"], **{"hygiene.tmp_dirs": tmp_dirs,
                                        "hygiene.leaked_persists": res["leaked_persists"],
                                        "jvm.peak_rss_mb": res["peak_rss_mb"],
                                        "trace.cold_s": cold_s,
                                        "trace.rows_per_s": rows_per_s,
                                        "host.probe_ms": probe_ms,
                                        "host.steal_share": steal})
        declared = spec["per_layer"]
        for m in declared:
            print(f"  {m['name']:<40} {layers.get(m['name'], 0.0):>14.4f} {m['unit']}")
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in declared}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    correct = failed == 0 and leftovers == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def _ram_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024 / 1024
    return 0.0


if __name__ == "__main__":
    sys.exit(main())
