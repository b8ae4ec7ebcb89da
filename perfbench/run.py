#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one closed loop.

    python3 perfbench/run.py --workload corpus_scan --seed 1 \\
        --seconds 1 --trace 0

Opens the engine's session (``session.get_spark(cpus=nproc)``) with
the registry loaded, generates the workload's inputs from the seed,
runs one untimed pass that collects every query and compares it with
its DuckDB twin and one untimed warm pass, then runs timed passes
(each query built with its registered function and executed with a
``noop`` write, one client, queries in sequence,
``checkpoints.release_all_pinned`` between queries) until
``--seconds`` have elapsed and at least two have run, and, after its
own session has stopped, takes a second ``setup_s`` sample in a fresh
process. ``--trace 1`` installs the layer tracer and alternates traced
and untraced passes.

Prints one ``metric <name> <value> <unit>`` line per metric, then, as
the last line, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. Exits 1 when any query raised or differed
from its twin; 2 when the engine is not in the checkout. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import bootstrap, inputs, oracle, procstat  # noqa: E402
from perfbench.workloads import WORKLOADS, Workload  # noqa: E402

#: set-ups measured per untraced run: the run's own and, after it,
#: SETUP_SAMPLES - 1 fresh processes that only set up. Each costs a
#: JVM start (7-13 s); a third did not fit the run-time budget.
SETUP_SAMPLES = 2
SETUP_SAMPLE_TIMEOUT_S = 90
#: passes timed per run whatever ``--seconds`` is: the JIT keeps making
#: passes faster for ten or more passes, so a count that depended on
#: the host's speed would bias pass_s
MIN_TIMED_PASSES = 2

END_TO_END = {"setup_s": "s", "pass_s": "s", "input_mb_per_s": "MB/s"}
PER_LAYER = {
    "session.get_spark_s": "s", "registry.load_s": "s",
    "operators.build_s": "s", "operators.py4j_calls": "count",
    "operators.build_jobs": "count", "operators.build_stages": "count",
    "operators.build_tasks": "count", "operators.build_task_run_s": "s",
    "operators.build_task_cpu_s": "s", "operators.build_task_wait_s": "s",
    "operators.build_input_mb": "MB", "operators.build_shuffle_write_mb": "MB",
    "operators.build_shuffle_read_mb": "MB", "operators.build_spill_mb": "MB",
    "operators.build_gc_s": "s", "operators.build_task_skew": "ratio",
    "checkpoints.local_calls": "count", "checkpoints.local_s": "s",
    "checkpoints.pinned_rdds": "count", "checkpoints.release_s": "s",
    "catalog.load_table_calls": "count", "catalog.load_table_s": "s",
    "plan.s": "s", "plan.exchanges": "count",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_run_s": "s", "exec.task_cpu_s": "s",
    "exec.task_wait_s": "s", "exec.input_mb": "MB",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB", "exec.gc_s": "s", "exec.task_skew": "ratio",
    "trace.pass_s": "s", "trace.overhead_s": "s",
}
#: per-pass layer values combined across queries by max, not sum
_MAX_KEYS = ("operators.build_task_skew", "exec.task_skew")
_SETUP_KEYS = ("session.get_spark_s", "registry.load_s")


# ------------------------------------------------------------ set-up
def process_start() -> float:
    """Wall-clock time this process started, from /proc (10 ms
    resolution), so ``setup_s`` includes interpreter start-up."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    started = int(raw[raw.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - started / os.sysconf("SC_CLK_TCK"))


def setup_sample(argv: list[str]) -> float:
    """``setup_s`` of a fresh process running this command with
    ``--setup-only``: it sets up, stops its session and exits."""
    proc = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), *argv, "--setup-only"],
        stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=SETUP_SAMPLE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)  # the child and its JVM
        proc.wait()
        raise
    if proc.returncode != 0:
        raise RuntimeError(f"set-up sample exited {proc.returncode}")
    return json.loads(out.splitlines()[-1])["setup_s"]


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until every descendant process
    (JVM, Python worker daemon and workers) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway exits on stdin EOF
            proc.wait(60)
    deadline = time.monotonic() + 30
    while len(procstat.tree(os.getpid())) > 1 and \
            time.monotonic() < deadline:
        time.sleep(0.1)


# ------------------------------------------------------------- inputs
def io_dirs(wl: Workload, seed: int) -> tuple[str, str]:
    """The generated-table directory and the engine's sink scratch
    directory for this workload and seed (one basename for both)."""
    base = f"{wl.name}-s{seed}"
    return (os.path.join(bootstrap.WORK, "data", base),
            os.path.join(bootstrap.ROOT, ".scratch", "io", base))


# ------------------------------------------------------------- oracle
def spark_canonical(df) -> dict:
    rows = [r.asDict(recursive=True) for r in df.collect()]
    return {"columns": sorted(df.columns),
            "rows": oracle.canonical_rows()(rows)}


def _mismatch(got: dict, want: dict) -> str | None:
    if "error" in want:
        return f"DuckDB twin raised {want['error']}"
    if got["columns"] != want["columns"]:
        return f"columns differ: spark={got['columns']} " \
               f"duckdb={want['columns']}"
    g, w = got["rows"], want["rows"]
    if len(g) != len(w):
        return f"row count differs: spark={len(g)} duckdb={len(w)}"
    if g != w:
        diffs = [(a, b) for a, b in zip(g, w) if a != b][:2]
        return f"values differ; first: {diffs}"
    return None


# ------------------------------------------------------------- passes
def _noop(df) -> None:
    """Execute ``df`` in full through the ``noop`` sink."""
    df.write.format("noop").mode("overwrite").save()


class Runner:
    """Runs passes of one workload's queries on one session and keeps
    the attempt and failure tally behind ``failed_frac``."""

    def __init__(self, spark, specs, wl: Workload, data_dir: str,
                 tracer=None):
        from mapreducewordcounting_spark import checkpoints

        self.spark, self.wl, self.dir, self.tracer = spark, wl, data_dir, tracer
        self.fns = {n: specs[n].fn for n in wl.queries}
        self.sqls = {n: specs[n].oracle for n in wl.queries}
        self._checkpoints = checkpoints
        self.attempted = 0
        self.failures: list[tuple[str, str]] = []
        self.per_query: list[dict] = []

    def _release(self) -> None:
        # module attribute lookup: a traced run's wrapper sees the call
        self._checkpoints.release_all_pinned(self.spark)

    def _attempt(self, name: str, run):
        """One query run: counted as attempted, recorded as failed if it
        raises, followed by the between-queries checkpoint sweep."""
        self.attempted += 1
        try:
            return run()
        except Exception as exc:
            self.failures.append((name, f"raised {exc!r:.300}"))
            return None
        finally:
            self._release()

    def check_pass(self, tables) -> None:
        """Untimed: collect each query and compare it with its DuckDB
        twin."""
        got = {}
        for name, fn in self.fns.items():
            rows = self._attempt(
                name, lambda: spark_canonical(fn(self.spark, self.dir)))
            if rows is not None:
                got[name] = rows
        want = oracle.twins(self.dir, tables, self.sqls)
        for name, rows in got.items():
            why = _mismatch(rows, want[name])
            if why:
                self.failures.append((name, why))

    def warm_pass(self) -> None:
        """Untimed ``noop`` pass after the check: the first noop pass of
        a process runs up to a third slower (JIT, codegen of the write
        path), so timing it would make the result hinge on how many
        passes fit in ``--seconds``."""
        for name, fn in self.fns.items():
            self._attempt(name, lambda: _noop(fn(self.spark, self.dir)))

    def timed_pass(self, idx: int) -> tuple[float, dict]:
        """One pass over the workload; returns its wall time and, when
        the tracer is enabled, its per-layer totals."""
        traced = self.tracer is not None and self.tracer.enabled
        if traced:
            self.tracer.counters.clear()
        layers: dict[str, float] = {}
        t0 = time.perf_counter()
        for name, fn in self.fns.items():
            if traced:
                stats = self._attempt(name, lambda: self._traced_query(
                    name, fn, f"pb{idx}:{name}"))
                if stats is None:
                    continue
                self.per_query.append({"pass": idx, "query": name, **stats})
                for k, v in stats.items():
                    layers[k] = (max(layers.get(k, v), v) if k in _MAX_KEYS
                                 else layers.get(k, 0) + v)
            else:
                self._attempt(name, lambda: _noop(fn(self.spark, self.dir)))
        seconds = time.perf_counter() - t0
        if traced:
            layers.update(self.tracer.counters)
        return seconds, layers

    def _traced_query(self, name: str, fn, group: str) -> dict:
        tr, sc = self.tracer, self.spark.sparkContext
        with tr.span("query", query=name):
            sc.setJobGroup(f"{group}:build", name)
            with tr.span("operators.build") as build, tr.counting_py4j():
                df = fn(self.spark, self.dir)
            sc.setJobGroup(f"{group}:exec", name)
            with tr.span("plan"):
                stats = tr.plan_stats(df)
            with tr.span("exec") as ex:
                _noop(df)
            sc.setJobGroup(f"{group}:release", name)
        stats["operators.build_s"] = build["end"] - build["start"]
        stats["exec.s"] = ex["end"] - ex["start"]
        stats.update(tr.group_stats(sc, f"{group}:build", "operators.build_"))
        stats.update(tr.group_stats(sc, f"{group}:exec", "exec."))
        return stats


def timed_loop(runner: Runner, seconds: float, root_pid: int) -> dict:
    """Untraced passes until ``seconds`` have elapsed and at least
    ``MIN_TIMED_PASSES`` have run; wall and process-tree CPU seconds of
    each pass."""
    # Start every timed region from a collected JVM heap: G1 returns
    # freed regions after a full collection, so the peak measures what
    # the timed passes need, not how the check pass left the heap.
    runner.spark.sparkContext._jvm.System.gc()
    times, cpus = [], []
    steal0 = procstat.steal_seconds()
    with procstat.PeakRss(root_pid) as rss:
        t0 = time.perf_counter()
        while len(times) < MIN_TIMED_PASSES or \
                time.perf_counter() - t0 < seconds:
            cpu0 = procstat.cpu_seconds(root_pid)
            times.append(runner.timed_pass(len(times))[0])
            cpus.append(procstat.cpu_seconds(root_pid) - cpu0)
    return {"pass_times": times, "pass_cpus": cpus,
            "peak_rss_mb": rss.peak_mb,
            "steal_s": procstat.steal_seconds() - steal0}


def traced_loop(runner: Runner, seconds: float) -> dict:
    """Alternate traced and untraced passes until ``seconds`` have
    elapsed and each kind has run at least once."""
    tr = runner.tracer
    traced, plain, layers = [], [], []
    t0 = time.perf_counter()
    while not (traced and plain) or time.perf_counter() - t0 < seconds:
        tr.enabled = len(traced) <= len(plain)
        with tr.maybe_span("pass", index=len(traced) + len(plain)):
            sec, lay = runner.timed_pass(len(traced) + len(plain))
        if tr.enabled:
            traced.append(sec)
            layers.append(lay)
        else:
            plain.append(sec)
    tr.enabled = True
    out = {k: statistics.median(p.get(k, 0) for p in layers)
           for k in PER_LAYER
           if k not in _SETUP_KEYS and not k.startswith("trace.")}
    out["trace.pass_s"] = statistics.median(traced)
    out["trace.overhead_s"] = (statistics.median(traced)
                               - statistics.median(plain))
    return out


# --------------------------------------------------------------- main
def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-only", action="store_true",
                    help="set up, print setup_s as JSON and exit")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    args = parse_args(argv)
    if importlib.util.find_spec("mapreducewordcounting_spark") is None \
            or not os.path.exists(oracle.ORACLE_UTIL):
        print("perfbench: mapreducewordcounting_spark/ and tests/ must be "
              "in the working tree", file=sys.stderr)
        return 2
    started = process_start()
    wl = WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))
    bootstrap.prepare_env()

    tracer = None
    if args.trace:
        from perfbench.tracer import Tracer

        tracer = Tracer()
        tracer.install()
    spark, specs = bootstrap.open_session(cpus)
    setup_s = time.time() - started
    if args.setup_only:
        stop_session(spark)
        print(json.dumps({"setup_s": setup_s}))
        return 0
    data_dir, io_dir = io_dirs(wl, args.seed)
    ungated: dict[str, tuple[float, str]] = {}
    try:
        shutil.rmtree(data_dir, ignore_errors=True)
        info = inputs.generate(data_dir, args.seed, wl.sizes, 4 * cpus)
        for t, i in info.items():
            print(f"input {t} rows={i.rows} bytes={i.bytes} files={i.files} "
                  f"fingerprint={i.fingerprint}")
        input_mb = sum(i.bytes for i in info.values()) / (1024.0 ** 2)

        runner = Runner(spark, specs, wl, data_dir, tracer)
        if tracer is not None:
            tracer.enabled = False
        runner.check_pass(list(info))
        runner.warm_pass()
        if tracer is None:
            res = timed_loop(runner, args.seconds, os.getpid())
            times = res["pass_times"]
            pass_s = statistics.median(times)
            metrics = {
                "pass_s": pass_s,
                "input_mb_per_s": input_mb / pass_s,
            }
            # printed, not in the result: about half of it is JIT
            # compilation, and over ten neardup_join runs of the same
            # code on a quiet host it spread 0.17-0.31 of the median,
            # more than the largest bound a metric may have (0.25)
            ungated["cpu_s"] = (statistics.median(res["pass_cpus"]), "s")
            units = END_TO_END
            # printed, not in the result: the JVM's adaptive heap sizing
            # spreads it 15-25% between runs, more than a bound can hold
            ungated["peak_rss_mb"] = (res["peak_rss_mb"], "MB")
            # CPU time the hypervisor gave other guests during the timed
            # passes: a high figure marks a run measured on a busy host
            print(f"host steal_s={res['steal_s']:.2f} during the timed passes")
            # the sample count supports no percentile below the maximum
            print(f"pass_s n={len(times)} median={pass_s:.4f} s "
                  f"max={max(times):.4f} s")
        else:
            metrics = {k: tracer.counters[k] for k in _SETUP_KEYS}
            metrics.update(traced_loop(runner, args.seconds))
            units = PER_LAYER
            trace_dir = os.path.join(bootstrap.WORK, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            path = os.path.join(trace_dir, f"{wl.name}-s{args.seed}.json")
            with open(path, "w") as f:
                json.dump({"workload": wl.name, "seed": args.seed,
                           "metrics": metrics, "per_query": runner.per_query,
                           "spans": tracer.spans}, f)
            print(f"trace written to {path}")
    finally:
        stop_session(spark)
        shutil.rmtree(data_dir, ignore_errors=True)
        shutil.rmtree(io_dir, ignore_errors=True)
    if tracer is None:
        # after the run's own session has stopped, so that the samples
        # do not compete with it for CPU and memory
        setups = [setup_s] + [setup_sample(argv)
                              for _ in range(SETUP_SAMPLES - 1)]
        print("setup_s samples " + " ".join(f"{v:.3f}" for v in setups))
        metrics["setup_s"] = statistics.median(setups)

    failed = len(runner.failures)
    for name, why in runner.failures:
        print(f"FAILED {name}: {why}")
    # failed_frac is carried by "failed" / "attempted" in the result: a
    # metric that is 0 on every healthy run cannot have a relative bound
    ungated["failed_frac"] = (failed / runner.attempted, "fraction")
    for k, (v, u) in ungated.items():
        print(f"metric {k} {v} {u}")
    for k, u in units.items():
        print(f"metric {k} {metrics[k]} {u}")
    print(json.dumps({
        "correct": failed == 0, "attempted": runner.attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
