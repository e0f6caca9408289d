#!/usr/bin/env python3
"""subont benchmark: one workload, one fresh process, one local Spark session.

    python3 perfbench/run.py --workload kg --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  The run

1. removes every inherited ``SUBONT_*`` variable, so the defaults (and
   their size gates) are what is measured, and keeps its scratch files
   under ``.perfbench_work/`` in the checkout;
2. makes the workload's inputs from ``--seed`` (cached on disk, untimed);
3. sets up ``SETUPS`` times -- a fresh SparkSession plus the loaded
   input -- and reports the median as ``setup_s``;
4. runs passes in a closed loop, one client, until the passes have
   taken ``--seconds`` in all, and at least the workload's
   ``min_passes``.  ``first_pass_s`` is the first pass of the process;
   ``pass_s`` is the median of the later passes, or the first pass when
   it alone fills the window (``subont_extract``, whose pass is longer
   than the window);
5. checks every pass's output, untimed, against the digest recorded in
   ``expected.json`` for this workload's input, or, for an input with no
   record, against invariants (no duplicate triples, no IS-A self-loop,
   acyclic IS-A graph, rows > 0).  ``--record`` stores the digest of a
   seed whose first pass meets the invariants and, for
   ``subont_extract``, the paper's two verification criteria.

With ``--trace 1`` the run traces the kind of pass ``pass_s`` reports
(after ``min_passes - 1`` untraced warm-up passes) with every public
layer function wrapped (``spans.py``), and reports the per-layer
metrics instead of the end-to-end ones.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``.  The exit code is 1 when an
output check failed and 2 when the program under test is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

from workloads import WORKLOADS, load_expected

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
EXPECTED = os.path.join(HERE, "expected.json")
SETUPS = 5
MAX_CORES = 4

END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "triples_per_s": "1/s",
}


def _environment() -> None:
    """Gate hygiene and scratch locations; must run before pyspark starts."""
    for k in [k for k in os.environ if k.startswith("SUBONT_")]:
        del os.environ[k]
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the JVM keeps its temp files and no perf-data file outside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # executor python workers import subont from the checkout
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    sys.path.insert(0, ROOT)


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - T_START:7.1f}s] {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    return max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))


def start_session(wl):
    from subont.session import get_spark

    return get_spark("perfbench", cores=cores(), **wl.session_kwargs())


def job_counter(spark):
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    return lambda: int(sched.nextJobId())


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus the Spark JVM."""
    kb = _vm_hwm_kb(os.getpid())
    jvm = _jvm_pid()
    if jvm is not None:
        kb += _vm_hwm_kb(jvm)
    return kb / 1024.0


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def shutdown(spark) -> None:
    """Stop the session and the gateway JVM, and wait for every process
    this run started (the JVM and its python workers) to end."""
    from pyspark import SparkContext

    procs = _descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 60
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in procs):
        time.sleep(0.1)


class Checker:
    """Per-pass output check against recorded digests or invariants."""

    def __init__(self, wl, key: str, record: bool):
        self.wl, self.key, self.record = wl, key, record
        self.expected = load_expected(EXPECTED)
        self.recorded = False

    def __call__(self, spark, inp, out) -> list[str]:
        dig = self.wl.digest(out)
        exp = self.expected.get(self.key)
        if exp is not None:
            return [] if dig == exp else [f"digest {dig} != recorded {exp}"]
        probs = self.wl.problems(out)
        if self.record and not probs:
            probs = self.wl.record_problems(spark, inp, out)
            if not probs:
                self.expected[self.key] = dig
                self.recorded = True
        return probs

    def save(self) -> None:
        if self.recorded:
            with open(EXPECTED, "w") as f:
                json.dump(dict(sorted(self.expected.items())), f, indent=1)
                f.write("\n")


def timed_pass(wl, spark, inp, check, tracer=None):
    """One pass, timed, then its untimed output check.  Returns
    (wall seconds, output rows, problems); a pass that raises is a
    failed pass, not a failed run."""
    t0 = time.perf_counter()
    try:
        out = wl.run_pass(spark, inp, tracer)
    except Exception:
        traceback.print_exc()
        return time.perf_counter() - t0, 0, ["pass raised"]
    wall = time.perf_counter() - t0
    try:
        probs = check(spark, inp, out)
        rows = wl.output_rows(out)
    except Exception:
        traceback.print_exc()
        probs, rows = ["check raised"], 0
    return wall, rows, probs


def measure(wl, args, key):
    """Untraced run: the end-to-end metrics."""
    spark = start_session(wl)
    log("session up")
    wl.prepare(spark, args.seed, WORK)
    log("inputs ready")
    setups = []
    for _ in range(SETUPS):
        spark.stop()
        t0 = time.perf_counter()
        spark = start_session(wl)
        inp = wl.load(spark, args.seed, WORK)
        setups.append(time.perf_counter() - t0)
    log(f"setups {setups}")
    check = Checker(wl, key, args.record)
    walls, rows, failed = [], [], 0
    while len(walls) < wl.min_passes or sum(walls) < args.seconds:
        wall, n, probs = timed_pass(wl, spark, inp, check)
        walls.append(wall)
        log(f"pass {len(walls)}: {wall:.3f}s, {n} rows, problems {probs}")
        if probs:
            failed += 1
        else:
            rows.append(n)
    check.save()
    shutdown(spark)
    log("shut down")
    warm = walls[1:] or walls[:1]
    pass_s = statistics.median(warm)
    metrics = {
        "setup_s": statistics.median(setups),
        "first_pass_s": walls[0],
        "pass_s": pass_s,
        "triples_per_s": (statistics.median(rows) / pass_s) if rows else 0.0,
    }
    extra = {"failed_frac": (failed / len(walls), "1"), "passes": (len(walls), "count")}
    return metrics, END_TO_END, len(walls), failed, extra


def traced(wl, args, key):
    """Traced run: the per-layer metrics of one traced pass."""
    from spans import PER_LAYER, Tracer, per_layer

    spark = start_session(wl)
    wl.prepare(spark, args.seed, WORK)
    inp = wl.load(spark, args.seed, WORK)
    check = Checker(wl, key, False)
    failed = 0
    # trace the pass pass_s reports: a warm one where the untraced run
    # has warm passes, else the first
    for _ in range(wl.min_passes - 1):
        _, _, probs = timed_pass(wl, spark, inp, check)
        failed += bool(probs)
    tracer = Tracer(job_counter(spark))
    tracer.install()
    try:
        wall, _, probs = timed_pass(wl, spark, inp, check, tracer)
    finally:
        tracer.uninstall()
    failed += bool(probs)
    for line in tracer.tree_lines():
        print(f"span {line}")
    metrics = per_layer(tracer, wall)
    metrics["peak_rss_mb"] = peak_rss_mb()
    shutdown(spark)
    return metrics, PER_LAYER, wl.min_passes, failed, {}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true", help="store digests of unrecorded seeds")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "subont", "__init__.py")):
        print(f"subont package not found under {ROOT}", file=sys.stderr)
        return 2
    _environment()
    wl = WORKLOADS[args.workload]()
    key = wl.key(args.seed)
    run = traced if args.trace else measure
    try:
        metrics, units, attempted, failed, extra = run(wl, args, key)
    finally:
        shutil.rmtree(os.path.join(WORK, "out", str(os.getpid())), ignore_errors=True)
    for name, value in metrics.items():
        print(f"{args.workload} {name} = {value:.6g} {units[name]}")
    for name, (value, unit) in extra.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
            }
        )
    )
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
