"""Benchmark entry point: one workload, one seed, one fresh Spark session.

    python3 perfbench/run.py --workload hotspot --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The run

1. starts a ``local[n]`` session pinned here (n = min(3, nproc - 1) task
   threads, a 2 GB heap committed and touched at JVM start, local dirs and
   temp files under ``.perfbench_work/``), and times it;
2. builds the seeded inputs and their input checkpoint ``SETUPS`` times and
   keeps the median (``setup_s`` = session start + that median);
3. runs the first round in the fresh session (``first_round_s``), then
   whole rounds until ``--seconds`` have been timed, at least the
   workload's ``min_timed_rounds`` (``round_s`` is their median; README,
   "Warm-up", says why no further warm-up is run);
4. checks every operation of every round against answers computed apart
   from Spark (``checks.py``);
5. prints host context (load average, CPU steal) and, as its last line,
   ``{"correct", "attempted", "failed", "metrics"}``.

With ``--trace 1`` the timed phase alternates untraced and traced rounds;
traced rounds time each operation as a unit with its Spark counters
(``measure.py``) and the metrics printed are the per-layer ones.  Spans are
written to ``.perfbench_work/spans-<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUPS = 3
LOCAL_DIR = ".perfbench_work"
#: JVM heap, fixed (-Xms = -Xmx) and touched at start: a heap that grows on
#: demand puts GC timing into the process tree's RSS (hotspot runs of the
#: same code read 1.26-1.43 GB of JVM RSS), so peak_rss_mb would not repeat
HEAP = "2g"


def parse(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "smoke"), default="bench")
    ap.add_argument("--fresh-oracles", action="store_true",
                    help="recompute cached oracle answers")
    return ap.parse_args(argv)


def session(work: str):
    """A fresh local session with the benchmark's pinned resources."""
    from pyspark.sql import SparkSession

    from crankshaft_spark.session import session_conf

    n = max(1, min(3, (os.cpu_count() or 2) - 1))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark")
    os.makedirs(tmp)
    os.makedirs(local)
    # children (the JVM, the Python workers) inherit these
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    builder = session_conf(
        SparkSession.builder.master(f"local[{n}]").appName("perfbench"),
        shuffle_partitions=2 * n, driver_memory=HEAP)
    spark = (builder
             .config("spark.local.dir", local)
             .config("spark.driver.extraJavaOptions",
                     f"-Djava.io.tmpdir={tmp} -Xms{HEAP} "
                     "-XX:+AlwaysPreTouch")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.ui.retainedStages", "5000")
             .config("spark.ui.retainedJobs", "5000")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark, n


def stop(spark) -> None:
    """Stop the session and reap every process it started (JVM, Python
    daemon and workers), waiting until each has ended."""
    import measure

    pids = [p for p in measure.tree(os.getpid()) if p != os.getpid()]
    try:
        spark.stop()
        gw = spark.sparkContext._gateway
        if gw is not None:
            gw.shutdown()
    except Exception as exc:  # keep reaping even if shutdown failed
        print(f"perfbench: session stop: {exc!r}", file=sys.stderr)
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        proc.stdin.close()
    deadline = time.time() + 20
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        while time.time() < deadline and any(_alive(p) for p in pids):
            time.sleep(0.1)
        deadline = time.time() + 10
    if proc is not None:
        proc.wait(timeout=10)


def _alive(pid: int) -> bool:
    try:
        done, _ = os.waitpid(pid, os.WNOHANG)
        if done:
            return False
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().split(")")[-1].split()[0] != "Z"
    except OSError:
        return False


class Runner:
    """Runs rounds of one workload and keeps what the metrics need."""

    def __init__(self, wl, probe=None):
        self.wl = wl
        self.probe = probe
        self.outputs: list[dict] = []     # one {unit: output} per round
        self.walls: list[float] = []
        self.traced: list[bool] = []
        self.units: list[dict] = []       # traced rounds: {unit: counters}

    def round(self, traced: bool = False) -> float:
        outs, marks = {}, []
        t0 = time.perf_counter()
        for unit, fn in self.wl.ops():
            a = self.probe.mark() if traced else None
            try:
                outs[unit] = fn()
            except Exception as exc:  # counted as a failed operation
                outs[unit] = exc
            if traced:
                marks.append((unit, a, self.probe.mark()))
        wall = (sum(b["wall"] - a["wall"] for _, a, b in marks) if traced
                else time.perf_counter() - t0)
        if traced:
            import workloads

            units = self.harvest(marks)
            units.update(workloads.layer_extras(units))
            units.update(self.wl.trace_extras(self.probe))
            self.units.append(units)
        self.wl.end_round()
        self.outputs.append(outs)
        self.walls.append(wall)
        self.traced.append(traced)
        return wall

    def harvest(self, marks) -> dict:
        return {unit: {**self.probe.unit(a, b),
                       "python_mb": self.probe.python_bytes(a, b) / 2**20,
                       "start": a["wall"], "end": b["wall"]}
                for unit, a, b in marks}


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "crankshaft_spark")):
        print("perfbench: crankshaft_spark not found beside perfbench/; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import checks
    import inputs
    import measure
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, LOCAL_DIR)
    work = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ctx0 = measure.host_context()
    me = os.getpid()
    spark = None
    try:
        with measure.RssSampler(me) as rss:
            t0 = time.perf_counter()
            spark, n = session(work)
            session_s = time.perf_counter() - t0
            sf_dir = os.path.join(work, "inputs")
            builds, wl = [], None
            for _ in range(SETUPS):
                if wl is not None:
                    wl.release_inputs()
                t = time.perf_counter()
                aux = inputs.build(args.workload, args.scale, args.seed,
                                   sf_dir)
                wl = workloads.WORKLOADS[args.workload](spark, sf_dir, work,
                                                        aux)
                wl.prepare()
                builds.append(time.perf_counter() - t)
            probe = measure.SparkProbe(spark)
            run = Runner(wl, probe)
            first = run.round()
            cpu0 = measure.tree_cpu_s(me)
            ex0 = probe.executor_totals()
            probe.reset_old_gen_peak()
            timed_t0 = time.perf_counter()
            # whole rounds until --seconds are timed, at least the
            # workload's minimum; a traced run alternates untraced and
            # traced rounds and runs at least untraced, traced, untraced
            # (two untraced rounds for the drift ratio)
            k = 0
            least = max(wl.min_timed_rounds, 1 + 2 * args.trace)
            while (time.perf_counter() - timed_t0 < args.seconds
                   or k < least):
                run.round(traced=k % 2 == 1 and bool(args.trace))
                k += 1
            cpu_s = (measure.tree_cpu_s(me) - cpu0) / k
            shuffle_mb = (probe.executor_totals()["shuffle_w"]
                          - ex0["shuffle_w"]) / measure.MB / k
            old_gen_peak_mb = probe.old_gen_peak_mb()
        peak_rss_mb = rss.peak / measure.MB
    finally:
        if spark is not None:
            stop(spark)
    ctx1 = measure.host_context()

    check_t0 = time.perf_counter()
    oracle = checks.Oracle(args.workload, args.scale, args.seed, sf_dir, aux,
                           os.path.join(base, "oracle_cache"),
                           fresh=args.fresh_oracles)
    attempted = failed = 0
    try:
        for outs in run.outputs:
            for unit, out in outs.items():
                attempted += 1
                try:
                    if isinstance(out, Exception):
                        raise out
                    oracle.check(unit, out, outs)
                except Exception as exc:
                    failed += 1
                    print(f"perfbench: FAILED {unit}: {exc!r}",
                          file=sys.stderr)
    finally:
        oracle.close()

    check_s = time.perf_counter() - check_t0
    timed = run.walls[1:]
    plain = [w for w, t in zip(timed, run.traced[1:]) if not t]
    round_s = statistics.median(plain)
    if args.trace:
        metrics = layer_metrics(run, plain, builds)
        metrics["jvm.old_gen_peak_mb"] = (old_gen_peak_mb, "MB")
        measure.write_spans(run, os.path.join(
            base, f"spans-{args.workload}-{args.seed}.jsonl"))
    else:
        metrics = {
            "setup_s": (session_s + statistics.median(builds), "s"),
            "first_round_s": (first, "s"),
            "round_s": (round_s, "s"),
            "rows_per_s": (wl.input_rows / round_s, "1/s"),
            "cpu_s": (cpu_s, "s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
            "shuffle_mb": (shuffle_mb, "MB"),
        }
    print("perfbench context: " + json.dumps({
        "workload": args.workload, "seed": args.seed, "threads": n,
        "timed_rounds": len(timed),
        "round_walls_s": [round(w, 3) for w in run.walls],
        "session_s": round(session_s, 3),
        "setup_builds_s": [round(b, 3) for b in builds],
        "check_s": round(check_s, 3),
        "loadavg_start": ctx0["loadavg_1m"], "loadavg_end": ctx1["loadavg_1m"],
        "steal_pct": round(measure.steal_pct(ctx0, ctx1), 2)}))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


def layer_metrics(run, plain, builds) -> dict:
    """Per-layer metrics of a traced run: medians over its traced rounds."""
    import workloads

    traced = run.units
    walls_t = [w for w, t in zip(run.walls, run.traced) if t]
    out = {"sources.build_s": (statistics.median(builds), "s")}

    def med(unit, key):
        vals = [r[unit][key] for r in traced if unit in r]
        return statistics.median(vals) if vals else 0.0

    for unit in workloads.ALL_UNITS:
        out[f"{unit}_s"] = (med(unit, "s"), "s")
        out[f"{unit}.jobs"] = (med(unit, "jobs"), "count")
        out[f"{unit}.task_cpu_s"] = (med(unit, "task_cpu_s"), "s")
        out[f"{unit}.driver_gap_s"] = (med(unit, "driver_gap_s"), "s")
        out[f"{unit}.gc_s"] = (med(unit, "gc_s"), "s")
        out[f"{unit}.spill_mb"] = (med(unit, "spill_mb"), "MB")
    for name, unit in workloads.EXTRA_LAYER_METRICS.items():
        vals = [r[name] for r in traced if name in r]
        out[name] = (statistics.median(vals) if vals else 0.0, unit)
    late, early = plain[len(plain) // 2:], plain[:max(1, len(plain) // 2)]
    out["loops.drift"] = (statistics.median(late) / statistics.median(early),
                          "ratio")
    out["trace.overhead_pct"] = (
        100.0 * (statistics.median(walls_t) / statistics.median(plain) - 1),
        "%")
    return out


if __name__ == "__main__":
    sys.exit(main())
