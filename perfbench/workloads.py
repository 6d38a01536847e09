"""The closed-loop workloads.

Each workload owns its generated inputs, its set-up (layouts and
streaming apps, on a session the runner made), one timed *step*, an
optional *read* after it, its correctness checks and the per-layer
metrics only it can see. The runner (``run.py``) drives them all the
same way: generate → set up (several times) → warm → timed loop →
checks.
"""

from __future__ import annotations

import glob
import os
import random
import re
import statistics
from time import perf_counter

import pyarrow.parquet as pq

import checks
import gen

#: Plans of the query_serve dashboard, one of each layer the mix is
#: meant to stress (see README.md for why each is there).
DASHBOARD = (
    "visitor_stats",
    "order_wide",
    "dedup_minhash_lsh",
    "rrf_fusion",
    "ann_ivf_partitioned",
)
#: The reference warehouse's own serving queries (DWS and DWM) in the
#: dashboard; their summed latency, served again after each refresh, is
#: query_serve's read.
SERVING_READS = ("visitor_stats", "order_wide")
#: Streaming apps of the ODS→DWD→DWM/DWS chain, in layer order.
CHAIN_APPS = ("base_log", "unique_visitors", "user_jump", "visitor_stats")
#: The chain apps that keep state and write a stats-store sink.
STATS_APPS = CHAIN_APPS[1:]


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _progress_window(query, first_batch: int, last_batch: int) -> list:
    return [p for p in query.recentProgress if first_batch < p.batchId <= last_batch]


def _last_batch(query) -> int:
    p = query.lastProgress
    return -1 if p is None else int(p["batchId"])


def streaming_metrics(app: str, progress: list) -> dict[str, float]:
    """Per-app micro-batch phases (medians over batches that read
    input), state size at the end and rows dropped as late."""
    data = [p for p in progress if p.numInputRows > 0]

    def phase(*names: str) -> float:
        return _median([sum(p.durationMs.get(n, 0) for n in names) / 1e3 for p in data])

    out = {
        f"sources.latest_offset_s.{app}": phase("latestOffset", "getBatch"),
        f"streaming.add_batch_s.{app}": phase("addBatch"),
        f"streaming.planning_s.{app}": phase("queryPlanning"),
        f"streaming.commit_s.{app}": phase("walCommit", "commitOffsets"),
    }
    if app in STATS_APPS:
        last = progress[-1].stateOperators if progress else []
        out[f"streaming.state_rows.{app}"] = float(sum(s.numRowsTotal for s in last))
        out[f"streaming.state_mb.{app}"] = sum(s.memoryUsedBytes for s in last) / 2**20
        out[f"streaming.late_rows.{app}"] = float(
            sum(s.numRowsDroppedByWatermark for p in progress for s in p.stateOperators)
        )
    return out


class Workload:
    """Shared shape; subclasses fill in the hooks."""

    name = ""
    #: Spark task slots, ``local[min(slots, nproc)]``.
    slots = 4

    def __init__(self, root: str, seed: int, tiny: bool) -> None:
        self.root = root
        self.seed = seed
        self.tiny = tiny
        self.inputs = os.path.join(root, "inputs")
        self.queries: dict[str, object] = {}

    # -- hooks -------------------------------------------------------
    def generate(self) -> None:
        raise NotImplementedError

    def setup(self, spark, work: str) -> dict[str, float]:
        """Build layouts and start apps under ``work``; returns the
        seconds spent in ``layout_build_s``."""
        raise NotImplementedError

    def warm(self, spark) -> None:
        """Untimed steps that let JIT, caches and workers settle."""

    def step(self, spark, i: int, counter) -> dict:
        """One timed step; returns ``step_s``, ``read_s``, ``rows`` and
        any per-step detail the layer metrics need."""
        raise NotImplementedError

    def check(self, spark) -> list[tuple[str, bool]]:
        raise NotImplementedError

    def layer_metrics(self, steps: list[dict], traced: list[dict]) -> dict[str, float]:
        """Per-layer metrics this workload alone can see."""
        raise NotImplementedError

    # -- shared ------------------------------------------------------
    def stop(self) -> None:
        for q in self.queries.values():
            q.stop()
        self.queries = {}

    def mark_window(self) -> None:
        self._window = {n: _last_batch(q) for n, q in self.queries.items()}

    def app_metrics(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for name, q in self.queries.items():
            out.update(streaming_metrics(name, _progress_window(q, self._window[name], _last_batch(q))))
        return out


def _timed_plan(spark, plan, sf_dir: str, counter) -> dict[str, float]:
    """Build and execute one registry plan to the noop sink."""
    if counter is not None:
        spark.sparkContext.setJobGroup(f"plan:{plan.name}", plan.name)
        counter.calls, counter.on = 0, True
    t0 = perf_counter()
    df = plan.build(spark, sf_dir)
    t1 = perf_counter()
    if counter is not None:
        counter.on = False
    df.write.format("noop").mode("overwrite").save()
    t2 = perf_counter()
    out = {"build_s": t1 - t0, "exec_s": t2 - t1}
    if counter is not None:
        out["py4j_calls"] = counter.calls
    return out


def _plan_layer_metrics(names, steps: list[dict], traced: list[dict]) -> dict[str, float]:
    out: dict[str, float] = {}
    for n in names:
        out[f"plans.build_s.{n}"] = _median([s["plans"][n]["build_s"] for s in steps if n in s["plans"]])
        out[f"exec.wall_s.{n}"] = _median([s["plans"][n]["exec_s"] for s in steps if n in s["plans"]])
        out[f"plans.py4j_calls.{n}"] = _median(
            [s["plans"][n]["py4j_calls"] for s in traced if n in s["plans"]]
        )
    return out


class QueryServe(Workload):
    """One step = one dashboard refresh: every plan of
    :data:`DASHBOARD` built and executed once, in a seeded order. The
    read after it is the median of :attr:`reads_per_step` servings of
    :data:`SERVING_READS`."""

    name = "query_serve"
    # timed inside the refresh, the read was one sample per step, at a
    # seeded position in the cycle
    reads_per_step = 3

    def generate(self) -> None:
        self.sf_dir = os.path.join(self.inputs, "sf")
        self.rows = gen.write_tables(self.sf_dir, self.seed, 0.001 if self.tiny else 0.01)

    def setup(self, spark, work: str) -> dict[str, float]:
        from gmall_realtime2021_spark.plans import get_plans
        from gmall_realtime2021_spark.sources import warehouse as W

        os.environ["SPARK_GRAFT_WAREHOUSE_DIR"] = os.path.join(work, "wh")
        t0 = perf_counter()
        W.ensure_ivf_embeddings(spark, self.sf_dir)
        layout_s = perf_counter() - t0
        self.plans = get_plans()
        self.cycle_rows = sum(self._input_rows(n) for n in DASHBOARD)
        return {"layout_build_s": layout_s}

    def _order(self, i: int) -> list[str]:
        order = list(DASHBOARD)
        random.Random(self.seed * 1000 + i).shuffle(order)
        return order

    def _input_rows(self, name: str) -> int:
        """Rows of the tables a plan reads, named in its oracle SQL."""
        tables = set(re.findall(r"\b(" + "|".join(gen.TABLES) + r")\b", self.plans[name].oracle))
        return sum(self.rows[t] for t in tables)

    def warm(self, spark) -> None:
        # the correctness pass (see check) doubles as the warm-up cycle
        self._checked = self._check_plans(spark)

    def step(self, spark, i: int, counter) -> dict:
        from gmall_realtime2021_spark.operators.dedup import release_caches

        per_plan = {}
        t0 = perf_counter()
        for name in self._order(i):
            per_plan[name] = _timed_plan(spark, self.plans[name], self.sf_dir, counter)
            release_caches()
        step_s = perf_counter() - t0
        return {
            "step_s": step_s,
            "read_s": _median([self._read(spark) for _ in range(self.reads_per_step)]),
            "rows": self.cycle_rows,
            "plans": per_plan,
        }

    def _read(self, spark) -> float:
        t = 0.0
        for name in SERVING_READS:
            r = _timed_plan(spark, self.plans[name], self.sf_dir, None)
            t += r["build_s"] + r["exec_s"]
        return t

    def _check_plans(self, spark) -> list[tuple[str, bool]]:
        from gmall_realtime2021_spark.operators.dedup import release_caches

        con = checks.connect({t: os.path.join(self.sf_dir, f"{t}.parquet") for t in gen.TABLES})
        out = []
        for name in DASHBOARD:
            plan = self.plans[name]
            got = plan.build(spark, self.sf_dir).toPandas()
            release_caches()
            out.append((name, checks.same(got, con.execute(plan.oracle).df())))
        con.close()
        return out

    def check(self, spark) -> list[tuple[str, bool]]:
        return self._checked

    def layer_metrics(self, steps, traced):
        return _plan_layer_metrics(DASHBOARD, steps, traced)


class StreamChain(Workload):
    """One step = land one seeded hour of events in the ODS directory
    and wait, in layer order, until every app of :data:`CHAIN_APPS`
    has committed it; the read after it is the median of
    :attr:`reads_per_step` DWS dashboard queries over the
    ``visitor_stats`` stats store."""

    name = "stream_chain"
    # Two slots leave the other cores of a 4-core host to the JVM's GC
    # and streaming threads, the driver and the Python workers. At four,
    # step medians over four seeds ranged over 13% instead of 5%, and
    # steps were 6% slower; query_serve, in turn, was 8% faster at four.
    slots = 2
    events_per_step = 500
    step_us = 3_600_000_000
    n_users = 300
    n_batches = 200
    # one query of about 0.3 s varied by 20% within a run
    reads_per_step = 5

    def generate(self) -> None:
        self.staged = os.path.join(self.inputs, "events")
        os.makedirs(self.staged)
        n = 12 if self.tiny else self.n_batches
        for i, t in enumerate(gen.event_batches(self.seed, n, self.events_per_step, self.step_us, self.n_users)):
            pq.write_table(t, os.path.join(self.staged, f"{i:05d}.parquet"))
        self.n_staged = n

    def setup(self, spark, work: str) -> dict[str, float]:
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from gmall_realtime2021_spark.sources import file_stream
        from gmall_realtime2021_spark.streaming import apps

        self.ods = os.path.join(work, "ods")
        os.makedirs(self.ods)
        self.landed: list[str] = []
        self.next_batch = 0
        self.cfg = apps.AppConfig(out_dir=os.path.join(work, "out"), checkpoint_dir=os.path.join(work, "ckpt"))
        schema = spark.read.parquet(os.path.join(self.staged, "00000.parquet")).schema

        def ods_stream():
            return file_stream(spark, self.ods, schema).withColumn("ts", F.col("ts").cast("timestamp"))

        page_dir = self.cfg.sink_path("log/page")
        os.makedirs(page_dir)
        page_schema = T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("ts", T.TimestampType()),
            ]
        )
        page = file_stream(spark, page_dir, page_schema)
        self.queries = {
            "base_log": apps.base_log_app(ods_stream(), self.cfg),
            "unique_visitors": apps.unique_visitors_app(page, self.cfg),
            "user_jump": apps.user_jump_app(page, self.cfg),
            "visitor_stats": apps.visitor_stats_app(ods_stream(), self.cfg),
        }
        for q in self.queries.values():
            q.processAllAvailable()
        return {"layout_build_s": 0.0}

    def _land_file(self, table_path: str) -> None:
        dst = os.path.join(self.ods, os.path.basename(table_path))
        os.rename(table_path, dst)
        self.landed.append(dst)

    def _chain(self, hours: int = 1) -> tuple[float, float]:
        """Land ``hours`` staged files at once and wait for the chain;
        returns the DWD and the DWM/DWS spans."""
        t0 = perf_counter()
        for _ in range(hours):
            self._land_file(os.path.join(self.staged, f"{self.next_batch:05d}.parquet"))
            self.next_batch += 1
        self.queries["base_log"].processAllAvailable()
        t1 = perf_counter()
        for name in STATS_APPS:
            self.queries[name].processAllAvailable()
        return t1 - t0, perf_counter() - t1

    def _dws_read(self, spark) -> float:
        from pyspark.sql import functions as F

        t0 = perf_counter()
        (
            spark.read.parquet(self.cfg.sink_path("visitor_stats"))
            .groupBy("event_type")
            .agg(F.sum("pv_ct").alias("pv"), F.sum("dur_sum").alias("dur"))
            .collect()
        )
        return perf_counter() - t0

    def warm(self, spark) -> None:
        # the first step lands two hours, so the first hourly window
        # closes and the DWS store has rows to read
        self._chain(hours=2)
        self._chain()
        self._dws_read(spark)

    def step(self, spark, i: int, counter) -> dict:
        if self.next_batch >= self.n_staged:
            raise RuntimeError("stream_chain ran out of generated event batches")
        dwd_s, dws_s = self._chain()
        return {
            "step_s": dwd_s + dws_s,
            "read_s": _median([self._dws_read(spark) for _ in range(self.reads_per_step)]),
            "rows": self.events_per_step,
            "dwd_s": dwd_s,
            "dwm_dws_s": dws_s,
        }

    def check(self, spark) -> list[tuple[str, bool]]:
        # one page event two days after the last one passes every
        # watermark, so every window and bounce timeout is final
        import numpy as np
        import pyarrow as pa

        last = pq.read_table(self.landed[-1], columns=["ts", "event_id"])
        flush_ts = last.column("ts").to_numpy().max() + np.timedelta64(2, "D")
        flush = pa.table(
            {
                "event_id": pa.array([int(last.column("event_id").to_numpy().max()) + 1], pa.int64()),
                "ts": pa.array([flush_ts], pa.timestamp("us")),
                "user_id": pa.array([0], pa.int64()),
                "event_type": ["view"],
                "value": [0.0],
                "props": ['{"k": 0}'],
            }
        )
        real = list(self.landed)
        # the flush takes the next staged slot; the run is over
        pq.write_table(flush, os.path.join(self.staged, f"{self.next_batch:05d}.parquet"))
        self._chain()
        con = checks.connect({"ev": real})
        out = []
        for app, sql in (
            ("visitor_stats", checks.VISITOR_STATS_SQL),
            ("unique_visitors", checks.UNIQUE_VISITORS_SQL),
            ("user_jump", checks.USER_JUMP_SQL),
        ):
            got = checks.sink_frame(spark, self.cfg.sink_path(app))
            out.append((app, got is not None and checks.same(got, con.execute(sql).df())))
        con.close()
        return out

    def layer_metrics(self, steps, traced):
        out = {
            "streaming.layer_s.dwd": _median([s["dwd_s"] for s in steps]),
            "streaming.layer_s.dwm_dws": _median([s["dwm_dws_s"] for s in steps]),
        }
        for app in STATS_APPS:
            per_batch = [
                len(glob.glob(os.path.join(d, "*.parquet")))
                for d in glob.glob(os.path.join(self.cfg.sink_path(app), "__batch_id=*"))
            ]
            out[f"sinks.files.{app}"] = _median(per_batch)
        return out


WORKLOADS = {w.name: w for w in (StreamChain, QueryServe)}
