"""Measurement helpers that observe the program from outside.

Nothing here changes what the package does. The benchmark uses:

- :class:`Py4jCounter` — counts driver→JVM py4j commands sent from the
  benchmark's main thread while switched on (the plan-build cost that
  a cheaper build removes);
- :class:`SparkRest` — Spark's local status REST API (jobs, stages and
  SQL-node metrics) read after the timed window;
- :class:`RssSampler` — peak resident memory of the JVM and every
  process under it (the Python workers), sampled from ``/proc``;
- :func:`host_stamp` — CPU count, load and free memory of the host;
- :func:`descendants` — every process below a pid, so none outlives
  the run.
"""

from __future__ import annotations

import json
import os
import re
import threading
import urllib.request

import py4j.java_gateway


class Py4jCounter:
    """Wraps ``GatewayClient.send_command`` (the one path every py4j
    call takes) with a counter that only ticks while :attr:`on` is set
    and only for the thread that created the counter."""

    def __init__(self) -> None:
        self.on = False
        self.calls = 0
        self._thread = threading.get_ident()
        self._orig = py4j.java_gateway.GatewayClient.send_command
        counter = self
        orig = self._orig

        def send_command(client, *args, **kwargs):
            if counter.on and threading.get_ident() == counter._thread:
                counter.calls += 1
            return orig(client, *args, **kwargs)

        py4j.java_gateway.GatewayClient.send_command = send_command

    def close(self) -> None:
        py4j.java_gateway.GatewayClient.send_command = self._orig


_UNITS = {
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "min": 60.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def sql_metric_value(text: str) -> float:
    """Parse a SQL-UI metric string to base units (seconds or bytes).

    Accumulated metrics read ``"total (min, med, max ...)\\n14.1 s (...)"``;
    single ones read ``"0 ms"`` or ``"100,000"``."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


class SparkRest:
    """Reader for ``/api/v1/applications/<id>/...`` on the driver UI."""

    def __init__(self, sc) -> None:
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as resp:
            return json.load(resp)

    def max_job_id(self) -> int:
        jobs = self.get("/jobs")
        return max((j["jobId"] for j in jobs), default=-1)

    def window(self, first_job: int, last_job: int) -> dict[str, float]:
        """Executor totals and Python-node totals over the jobs with
        ids in ``(first_job, last_job]``."""
        jobs = [j for j in self.get("/jobs") if first_job < j["jobId"] <= last_job]
        job_ids = {j["jobId"] for j in jobs}
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        out = {
            "cpu_s": 0.0, "gc_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0, "tasks": 0.0,
            "python_s": 0.0, "python_boot_s": 0.0, "python_sent_mb": 0.0,
        }
        for s in self.get("/stages"):
            if s["stageId"] not in stage_ids or s["status"] != "COMPLETE":
                continue
            out["cpu_s"] += s["executorCpuTime"] / 1e9
            out["gc_s"] += s["jvmGcTime"] / 1e3
            out["shuffle_mb"] += (s["shuffleReadBytes"] + s["shuffleWriteBytes"]) / 2**20
            out["spill_mb"] += (s["memoryBytesSpilled"] + s["diskBytesSpilled"]) / 2**20
            out["tasks"] += s["numCompleteTasks"]
        for e in self.get("/sql?details=true&planDescription=false&length=100000"):
            if not job_ids.intersection(e.get("successJobIds", []) + e.get("failedJobIds", [])):
                continue
            for node in e.get("nodes", []):
                for m in node.get("metrics", []):
                    if m["name"] == "time to run Python workers":
                        out["python_s"] += sql_metric_value(m["value"])
                    elif m["name"] == "time to start Python workers":
                        out["python_boot_s"] += sql_metric_value(m["value"])
                    elif m["name"] == "data sent to Python workers":
                        out["python_sent_mb"] += sql_metric_value(m["value"]) / 2**20
        return out


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    """Pids of every process below ``root``."""
    kids = _children()
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` plus its Python descendants (the
    PySpark daemon and workers). Other children — helpers the JVM forks
    for a moment — are left out: a fork shares the parent's pages yet
    reports them all as its own resident set."""
    kids = _children()
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            if pid != root:
                with open(f"/proc/{pid}/comm") as fh:
                    if not fh.read().startswith("python"):
                        continue
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Background thread recording the peak of :func:`tree_rss_bytes`
    while running; ``with RssSampler(pid) as s: ...; s.peak_mb``."""

    def __init__(self, root_pid: int, interval_s: float = 0.1) -> None:
        self.root = root_pid
        self.interval = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(self.root))

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def host_stamp() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "mem_available_mb": round(mem_kb / 1024, 1),
    }
