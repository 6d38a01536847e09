"""Benchmark runner.

    python3 perfbench/run.py --workload stream_chain --seed 1 --seconds 20 --trace 0

Runs one closed-loop workload (see README.md) against the package in
the directory above this one, on ``local[min(slots, nproc)]`` with the
workload's own task slots, for ``--seconds`` of timed steps, then
checks the outputs against DuckDB.
The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the ``end_to_end`` metrics of
``BENCHMARK.json`` with ``--trace 0``, its ``per_layer`` metrics with
``--trace 1``. The line before it stamps the host.

Everything the run writes lives under ``.perfbench_tmp/`` next to this
directory and is removed at exit. Before it exits, the run stops the
Spark JVM and waits for it and for every process below it (the PySpark
daemon and workers), so no process outlives the run.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shlex
import signal
import shutil
import statistics
import subprocess
import sys
import tempfile
import traceback
from time import perf_counter, sleep

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [HERE, REPO]

import probes  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: Set-ups per run; ``setup_s`` is their median.
SETUPS = 3
#: Fewest timed steps per run (and per half of a traced run), so a
#: run never reports a single sample as its median.
MIN_STEPS = 2
_T0 = perf_counter()


def _log(msg: str) -> None:
    print(f"[perfbench {perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def tail(xs: list[float]) -> float:
    """The highest order statistic with ``min(10, len(xs) // 4)``
    samples above it: ten beyond it once a run has 44 samples, the
    upper quartile for short runs, the maximum below four samples."""
    s = sorted(xs)
    return s[len(s) - 1 - min(10, len(s) // 4)]


def _env(tmp: str, slots: int) -> None:
    """Isolate the run under ``tmp`` and make the package importable
    by the Python workers Spark starts."""
    for d in ("local", "tmp", "spark-warehouse"):
        os.makedirs(os.path.join(tmp, d))
    cpus = min(slots, len(os.sched_getaffinity(0)))
    os.environ.update(
        {
            "PYTHONPATH": os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
            "TMPDIR": os.path.join(tmp, "tmp"),
            "PYSPARK_SUBMIT_ARGS": " ".join(
                f"--conf {shlex.quote(f'{k}={v}')}"
                for k, v in {
                    "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
                    # -XX:-UsePerfData: no hsperfdata file under /tmp
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')} -XX:-UsePerfData",
                    "spark.ui.showConsoleProgress": "false",
                    "spark.ui.retainedJobs": "100000",
                    "spark.ui.retainedStages": "100000",
                    "spark.sql.ui.retainedExecutions": "100000",
                    "spark.sql.streaming.numRecentProgressUpdates": "10000",
                }.items()
            )
            + " pyspark-shell",
        }
    )
    tempfile.tempdir = None  # re-read TMPDIR


def _warm_session(spark) -> None:
    """JVM and Python-worker warm-up, the same for every workload."""

    def passthrough(batches):
        yield from batches

    spark.range(100_000).selectExpr("sum(id)").collect()
    spark.range(4_000).repartition(4).mapInPandas(passthrough, "id long").write.format("noop").mode(
        "overwrite"
    ).save()


def _become_subreaper() -> None:
    """Adopt orphaned descendants: once the JVM exits, the PySpark
    daemon and workers it started become children of this process, so
    :func:`_reap_children` can wait for them."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _stop_jvm(timeout_s: float = 60.0) -> None:
    """End the py4j gateway JVM and wait for it. It exits when its
    stdin closes; one that has not exited by ``timeout_s`` is killed."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    proc = gateway.proc
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _reap_children(timeout_s: float = 30.0) -> None:
    """Wait until this process has no children left; kill whatever is
    still below it after ``timeout_s``."""
    deadline = perf_counter() + timeout_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if perf_counter() > deadline:
            for pid in probes.descendants(os.getpid()):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        sleep(0.05)


def _load_spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(workload: str, seed: int, seconds: float, trace: bool, tiny: bool, tmp: str) -> dict:
    spec = _load_spec()
    _env(tmp, WORKLOADS[workload].slots)
    wl = WORKLOADS[workload](tmp, seed, tiny)
    wl.generate()
    _log("inputs generated")

    from gmall_realtime2021_spark.session import get_spark

    counter = probes.Py4jCounter() if trace else None
    spark = None
    setups: list[dict[str, float]] = []
    try:
        for i in range(SETUPS):
            if spark is not None:
                wl.stop()
                spark.stop()
            t0 = perf_counter()
            spark = get_spark(f"perfbench-{workload}")
            spark.sparkContext.setLogLevel("ERROR")
            t1 = perf_counter()
            _warm_session(spark)
            t2 = perf_counter()
            phases = wl.setup(spark, os.path.join(tmp, f"setup{i}"))
            setups.append({"start_s": t1 - t0, "warmup_s": t2 - t1, **phases, "total_s": perf_counter() - t0})
            _log(f"setup {i}: {setups[-1]}")
        wl.warm(spark)
        _log("warm")

        rest = probes.SparkRest(spark.sparkContext) if trace else None
        first_job = rest.max_job_id() if trace else -1
        wl.mark_window()
        steps: list[dict] = []
        traced: list[dict] = []
        failed = 0
        with probes.RssSampler(spark.sparkContext._gateway.proc.pid) as rss:
            t_start = perf_counter()
            deadline = t_start + seconds
            # a traced run alternates traced and untraced steps, so the
            # tracing overhead is measured on the same state
            min_steps = 2 * MIN_STEPS if trace else MIN_STEPS
            i = 0
            while perf_counter() < deadline or i < min_steps:
                is_traced = trace and i % 2 == 0
                try:
                    s = wl.step(spark, i, counter if is_traced else None)
                except Exception:  # a failed step is counted, not fatal
                    traceback.print_exc(file=sys.stderr)
                    failed += 1
                else:
                    (traced if is_traced else steps).append(s)
                    _log(f"step {i}: {s['step_s']:.3f} s, read {s['read_s']:.3f} s")
                finally:
                    if is_traced:
                        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                        spark.sparkContext.setLocalProperty("spark.job.description", None)
                i += 1
            wall = perf_counter() - t_start
        _log(f"{i} steps, {failed} failed, peak rss {rss.peak_mb:.0f} MB")
        all_steps = steps + traced
        layers: dict[str, float] = {}
        if trace:
            layers.update(wl.app_metrics())
            window = rest.window(first_job, rest.max_job_id())
        try:
            checked = wl.check(spark)
        except Exception:  # a check that cannot run counts as failed
            traceback.print_exc(file=sys.stderr)
            checked = [("check", False)]
        _log(f"checks {checked}")
        if trace:
            layers.update(wl.layer_metrics(all_steps, traced))
    finally:
        wl.stop()
        if spark is not None:
            spark.stop()
        if counter is not None:
            counter.close()

    bad_checks = sum(1 for _, ok in checked if not ok)
    for name, ok in checked:
        if not ok:
            print(f"check failed: {workload}/{name}", file=sys.stderr)
    attempted = i + len(checked)
    failed_total = failed + bad_checks
    if not all_steps:
        raise RuntimeError(f"{workload}: every timed step failed")

    step_s = [s["step_s"] for s in all_steps]
    read_s = [s["read_s"] for s in all_steps]
    med = statistics.median
    values = {
        "setup_s": med([s["total_s"] for s in setups]),
        "step_p50_s": med(step_s),
        "step_tail_s": tail(step_s),
        "rows_per_s": sum(s["rows"] for s in all_steps) / wall,
        "read_p50_s": med(read_s),
        "read_tail_s": tail(read_s),
        "rss_mb": rss.peak_mb,
    }
    if trace:
        n = len(all_steps)
        layers.update(
            {
                "session.start_s": med([s["start_s"] for s in setups]),
                "session.warmup_s": med([s["warmup_s"] for s in setups]),
                "sources.layout_build_s": med([s["layout_build_s"] for s in setups]),
                "failed_ratio": failed_total / attempted,
                "trace.overhead": med([s["step_s"] for s in traced]) / med([s["step_s"] for s in steps]),
                **{f"exec.{k}": window[k] / n for k in ("cpu_s", "gc_s", "shuffle_mb", "spill_mb", "tasks")},
                **{f"functions.{k}": window[k] / n for k in ("python_s", "python_boot_s", "python_sent_mb")},
            }
        )
        # metrics of layers this workload does not exercise read 0
        values = {m["name"]: layers.get(m["name"], 0.0) for m in spec["per_layer"]}
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    missing = set(units) - set(values)
    if missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    return {
        "correct": failed_total == 0,
        "attempted": attempted,
        "failed": failed_total,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
        "steps": len(all_steps),
        "checks": [name for name, _ in checked],
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smallest inputs (smoke test)")
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _become_subreaper()

    host_before = probes.host_stamp()
    parent = os.path.join(REPO, ".perfbench_tmp")
    os.makedirs(parent, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=parent)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.tiny, tmp)
    finally:
        # no process may outlive the run or write into ``tmp`` after it
        _stop_jvm()
        _reap_children()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(parent)
        except OSError:  # another run still uses it
            pass
    stamp = {
        "host": {"before": host_before, "after": probes.host_stamp()},
        "steps": result.pop("steps"),
        "checks": result.pop("checks"),
    }
    print(json.dumps(stamp))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    code = main()
    sys.stderr.flush()
    # The JVM, its children and the run's directory are gone by now, and
    # the result is flushed. Interpreter teardown has nothing left to do;
    # skipping it keeps a crash there (native libraries, py4j's daemon
    # threads) from turning a finished run into a failed one.
    os._exit(code)
