"""The workloads: ``backfill_trickle`` and ``operator_mix``.

Each workload is a single client in a closed loop: it issues the next
loader run or query only after the previous one returned.  ``run.py``
drives three phases:

- ``prepare``: write the seeded loader inputs (never timed);
- ``measure``: a cold phase (the first full pass over the input, as a
  fresh process pays it), then a window of repeated units of work, then
  untimed correctness checks;
- ``results`` / ``layer_metrics``: the samples and the traced breakdown.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import statistics
import sys
import time
import traceback

import numpy as np

import gen
from spans import PHASES, job_counts

HOURS = 168  # one week of hour partitions
# Per step of the trickle: one hourly file, most events in the newest
# hour, a share up to a day late.
STEP_EVENTS, STEP_LATE, STEP_LATE_HOURS = 500, 0.2, 24
# A timed read-back round follows every fourth timed step.
READ_EVERY = 4
# Untimed incremental runs (and one read-back round) between the cold
# backfill and the window: the first runs against the new checkpoint are
# up to twice as slow as later ones while the JVM warms up, and would
# otherwise set run_tail_s and pull run_p50_s with them.
WARM_STEPS = 4
# The file-sink and file-source logs compact every 10 batches; the cold
# load is batch 0 and the warm-up batches 1-4, so 12 timed runs always
# include the compaction at batch 9 whatever the machine's speed.
MIN_STEPS = 12

# ``operator_mix``: bench.py's headline query of each operator module, so
# every module of the analytics surface is timed once per pass.
MIX_QUERIES = (
    "agg_pricing_summary",      # aggregates
    "tpch_q3_shipping",         # tpch
    "tpch_q18_large_orders",    # tpch2
    "events_hourly",            # streaming.batch_windows
    "join_salted_skew",         # joins
    "dedup_exact",              # dedup
    "knn_cosine_bruteforce",    # similarity
    "bm25_rank",                # search
    "text_quality",             # textstats
    "pack_sequences",           # pipeline
    "graph_pagerank",           # graph
    "pca_power_component",      # ml
    "multimodal_audio_energy",  # multimodal (Arrow UDF tier)
)
# Each query's timed run follows its cold run by this many queries; the
# first cold queries pay the JVM's warm-up, so the timed runs start after
# them.
MIX_LAG = 4
# The repo's documented fixtures at sf0.01 (TESTDATA.md), copied into the
# benchmark so it reads nothing outside its checkout.  sf0.01 is the scale
# the DuckDB oracles finish at.
FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "sf0.01")


class Ledger:
    """Counts operations attempted and failed (errors or wrong output)."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)


class Window:
    """The timed window: another unit of work starts only while it can be
    expected to end inside the window (the previous unit's duration is the
    estimate), so the number of units per run does not flip between
    neighbouring counts from one run to the next."""

    def __init__(self, seconds: float) -> None:
        self.end = time.perf_counter() + seconds
        self.last = 0.0

    def more(self) -> bool:
        return time.perf_counter() + self.last < self.end

    def timed(self, start: float) -> None:
        self.last = time.perf_counter() - start


def _fs_stats(root: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


class BackfillTrickle:
    """``streaming.loader`` end to end.  Cold phase: one ``run_loader``
    backfills a week of events into an empty table and checkpoint (the
    first streaming query of the process, writing one file per task and
    hour partition).  Then ``WARM_STEPS`` untimed hourly incremental runs
    and one read-back round.  Window: more hourly incremental runs of ~500
    events each against the same table and checkpoint (per-run fixed
    cost: preflight, query start, listing, offset and commit logs, one
    file per touched partition), with a read-back round over
    ``read_loaded`` after every ``READ_EVERY`` of them."""

    BASE, FILES = 150_000, 40

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.in_dir = os.path.join(ctx.work, "in")
        self.target = os.path.join(ctx.work, "table")
        # Rows generated per hour since gen.EPOCH_US; each step adds an hour.
        self.hour_counts = np.zeros(HOURS + 4096, dtype=np.int64)
        self.total = 0
        self.cold = 0.0
        self.cold_batches: list[dict] = []
        self.loads: list[float] = []          # each incremental run_loader
        self.run_batches: list[list[dict]] = []
        self.reads: list[float] = []          # each read-back round
        self.scan_s: list[float] = []
        self.hour_s: list[float] = []
        self.mark = 0

    def _count(self, hours: np.ndarray) -> None:
        np.add.at(self.hour_counts, hours, 1)
        self.total += len(hours)

    def prepare(self) -> None:
        self._count(gen.write_backfill(self.in_dir, self.ctx.seed, self.BASE, self.FILES,
                                       HOURS))
        self.point_hour = int(np.random.default_rng(self.ctx.seed).integers(0, HOURS))

    def _load(self, expect: int) -> tuple[float, list[dict]]:
        from kafka_hadoop_loader_spark.streaming import loader
        from kafka_hadoop_loader_spark.streaming.loader import LoaderConfig

        ctx = self.ctx
        cfg = LoaderConfig(source="files", input_path=self.in_dir, target_path=self.target,
                           checkpoint_path=self.target + ".ckpt")
        t = time.perf_counter()
        res = loader.run_loader(ctx.spark, cfg)
        wall = time.perf_counter() - t
        ctx.ledger.check(res["rows_written"] == expect,
                         f"run wrote {res['rows_written']} rows, expected {expect}")
        return wall, ctx.progress.take() if ctx.progress else []

    def _step(self, step: int) -> tuple[float, list[dict]]:
        """Write the next hourly file and load it incrementally."""
        self._count(gen.write_events(
            os.path.join(self.in_dir, f"step-{step:05d}.json"), self.ctx.seed,
            self.total, STEP_EVENTS, HOURS + step, STEP_LATE_HOURS, STEP_LATE))
        return self._load(STEP_EVENTS)

    def _readback(self) -> tuple[float, float]:
        """One read-back round: a full ``d,h`` rollup, then a one-hour
        query that prunes to a single partition; returns their times."""
        from pyspark.sql import functions as F

        from kafka_hadoop_loader_spark.streaming import loader

        spark, hour = self.ctx.spark, self.point_hour
        stamp = gen.EPOCH_US // 1_000_000 + hour * 3600
        d, h = dt.datetime.fromtimestamp(stamp, dt.timezone.utc).strftime("%Y-%m-%d %H").split()
        t0 = time.perf_counter()
        rollup = loader.read_loaded(spark, self.target).groupBy("d", "h").count().collect()
        t1 = time.perf_counter()
        one = (loader.read_loaded(spark, self.target)
               .where((F.col("d") == d) & (F.col("h") == h))
               .agg(F.count("*").alias("n")).collect()[0]["n"])
        t2 = time.perf_counter()
        n = sum(r["count"] for r in rollup)
        self.ctx.ledger.check(n == self.total, f"rollup sums to {n}, expected {self.total}")
        self.ctx.ledger.check(one == self.hour_counts[hour],
                              f"hour {d} {h} has {one} rows, expected {self.hour_counts[hour]}")
        return t1 - t0, t2 - t1

    def measure(self) -> None:
        self.cold, self.cold_batches = self._load(self.BASE)
        for step in range(WARM_STEPS):
            self._step(step)
        self._readback()
        self.mark = len(self.ctx.tracer.spans)
        win = Window(self.ctx.seconds)
        step = WARM_STEPS
        # Read-backs are interleaved with the steps, not run after them, so
        # the samples of both spread over the whole window: the host's speed
        # drifts over tens of seconds, and a metric sampled in one short
        # stretch measures that drift.
        while win.more() or len(self.loads) < MIN_STEPS:
            t = time.perf_counter()
            wall, batches = self._step(step)
            self.loads.append(wall)
            self.run_batches.append(batches)
            step += 1
            if len(self.loads) % READ_EVERY == 0:
                scan, hour = self._readback()
                self.scan_s.append(scan)
                self.hour_s.append(hour)
                self.reads.append(scan + hour)
            win.timed(t)
        self.verify_table()

    def verify_table(self) -> None:
        """Untimed: row count, exactly-once (no duplicate event_id), and
        every row's d/h equal to the UTC hour of its ts.  A duplicated
        event lands in the same (d, h, ts hour) group as its original, so
        per-group distinct counts find every duplicate in one job."""
        from pyspark.sql import functions as F

        from kafka_hadoop_loader_spark.streaming.loader import read_loaded

        df = (read_loaded(self.ctx.spark, self.target)
              .select("d", "h", F.json_tuple("payload", "event_id", "ts").alias("eid", "ts")))
        hour = F.expr(f"cast(ts as long) div {gen.HOUR_US}")
        groups = (df.groupBy("d", "h", hour.alias("hr"))
                  .agg(F.count("*").alias("n"), F.countDistinct(F.col("eid").cast("long"))
                       .alias("ids")).collect())
        led = self.ctx.ledger
        n = sum(g["n"] for g in groups)
        led.check(n == self.total, f"{n} rows loaded, {self.total} generated")
        led.check(all(g["n"] == g["ids"] for g in groups), "duplicate event_id")
        # Partition discovery types d as a date and h as an integer.
        bad = [g for g in groups
               if dt.datetime.fromtimestamp(g["hr"] * 3600, dt.timezone.utc)
               .strftime("%Y-%m-%d %H") != f"{g['d']} {int(g['h']):02d}"]
        led.check(not bad, f"d/h differ from the ts hour in {bad[:3]}")
        got: dict[int, int] = {}
        for g in groups:
            got[g["hr"]] = got.get(g["hr"], 0) + g["n"]
        first = gen.EPOCH_US // gen.HOUR_US
        want = {first + h: int(c) for h, c in enumerate(self.hour_counts) if c}
        led.check(got == want, "per-hour counts differ from the generator's")

    def results(self) -> tuple[float, list[float], list[float], list[float]]:
        """(cold, units, tail samples, reads): see ``OperatorMix.results``."""
        return self.cold, self.loads, self.loads, self.reads

    def layer_metrics(self) -> dict[str, float]:
        """Per-layer numbers from the spans, the progress listener and the
        written files.  Times are medians per incremental run; shares are
        of the summed wall time of the incremental runs."""
        spans = self.ctx.tracer.spans[self.mark:]
        runs = [s for s in spans if s.name == "loader.run"]
        kids: dict[int, dict[str, float]] = {s.id: {} for s in runs}
        for s in spans:
            if s.parent in kids:
                kids[s.parent][s.name] = kids[s.parent].get(s.name, 0.0) + s.end - s.start
        walls = [s.end - s.start for s in runs]
        trig = [sum(b.get("triggerExecution", 0) for b in bs) / 1e3 for bs in self.run_batches]
        pre = [kids[s.id].get("loader.preflight", 0.0) for s in runs]
        starts = [w - t for w, t in zip(walls, trig)]
        m: dict[str, float] = {
            "loader.backfill.rows_per_s": self.BASE / self.cold,
            "loader.backfill.addBatch_ms": sum(b.get("addBatch", 0) for b in self.cold_batches),
            "loader.preflight_s": statistics.median(pre),
            "loader.transform_s": statistics.median(
                kids[s.id].get("loader.transform", 0.0) for s in runs),
            "loader.start_s": statistics.median(starts),
            "loader.batches": sum(len(bs) for bs in self.run_batches),
            "loader.rows_in": sum(b["rows"] for bs in self.run_batches for b in bs),
            "loader.share.preflight": sum(pre) / sum(walls),
            "loader.share.start": sum(starts) / sum(walls),
        }
        for p in PHASES:
            per_run = [sum(b.get(p, 0) for b in bs) for bs in self.run_batches]
            m[f"loader.batch.{p}_ms"] = statistics.median(per_run)
            m[f"loader.share.{p}"] = sum(per_run) / 1e3 / sum(walls)
        files = [os.path.join(d, n) for d, _, ns in os.walk(self.target) for n in ns
                 if n.endswith(".parquet")]
        data_bytes = sum(os.path.getsize(f) for f in files)
        m["sink.files"] = len(files)
        m["sink.bytes"] = data_bytes
        m["sink.partitions"] = len({os.path.dirname(f) for f in files})
        m["sink.rows_per_file"] = self.total / len(files)
        m["sink.bytes_per_row"] = data_bytes / self.total
        m["checkpoint.files"], m["checkpoint.bytes"] = _fs_stats(self.target + ".ckpt")
        m["sink_log.bytes"] = _fs_stats(os.path.join(self.target, "_spark_metadata"))[1]
        m["loader.read_loaded_s"] = statistics.median(
            s.end - s.start for s in spans if s.name == "loader.read_loaded")
        m["readback.scan_s"] = statistics.median(self.scan_s)
        m["readback.hour_s"] = statistics.median(self.hour_s)
        return m


def value_hash(rows, cols) -> str:
    """Order-insensitive value hash, the same one the test suite uses."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(repr(tuple(r[i] for i in order)) for r in rows)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()


class OperatorMix:
    """The registry's analytics surface; the loader is never called.
    Cold phase: one pass that collects every output (checked against the
    DuckDB oracle afterwards) and builds the memoised indexes.  Timed:
    passes through the ``noop`` sink.  The first timed pass is interleaved
    with the cold one, each query's timed run ``MIX_LAG`` queries after
    its cold run, so that its samples spread over the whole cold phase:
    the host's speed drifts over tens of seconds, and a pass timed in one
    ~16 s stretch measured that drift (IQR/median 0.28 over ten seeds on
    a 4-core VM, against 0.11 for the ~35 s cold pass).  Further passes,
    while the window lasts, run back to back."""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.fx = FIXTURES
        self.cold = 0.0
        self.passes: list[float] = []
        self.queries: list[float] = []
        self.per_module: list[dict[str, dict[str, float]]] = []
        self.outputs: dict[str, tuple[list, list]] = {}
        self.mark = 0

    def prepare(self) -> None:
        """The inputs are the fixed fixture files; the seed does not change them."""

    def _cold(self, name: str) -> None:
        """Collect one query's output, untraced; adds its time to ``cold``."""
        t = time.perf_counter()
        try:
            with self.ctx.tracer.paused():
                df = self.ctx.registry[name].fn(self.ctx.spark, self.fx)
                self.outputs[name] = (df.columns, [tuple(r) for r in df.collect()])
        except Exception:  # counted by verify(), not fatal
            traceback.print_exc()
        self.cold += time.perf_counter() - t

    def _timed(self, name: str, mods: dict[str, dict[str, float]]) -> float:
        """One query through the ``noop`` sink; returns its wall time."""
        ctx = self.ctx
        sc = ctx.spark.sparkContext
        q = ctx.registry[name]
        mod = q.fn.__module__.rsplit(".", 1)[-1]
        group = f"perfbench-{name}-{len(self.passes)}"
        if ctx.tracer.enabled:
            sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        ok = True
        try:
            with ctx.tracer.span(f"operators.{mod}.build"):
                df = q.fn(ctx.spark, self.fx)
            t1 = time.perf_counter()
            with ctx.tracer.span(f"operators.{mod}.exec"):
                df.write.format("noop").mode("overwrite").save()
        except Exception:  # counted as a failed operation
            traceback.print_exc()
            t1, ok = time.perf_counter(), False
        t2 = time.perf_counter()
        ctx.ledger.check(ok, f"{name} raised")
        self.queries.append(t2 - t0)
        if ctx.tracer.enabled:
            jobs, tasks, failed = job_counts(sc, group)
            mods[mod] = {"build_s": t1 - t0, "exec_s": t2 - t1, "jobs": jobs,
                         "tasks": tasks, "failed_tasks": failed}
        return t2 - t0

    def measure(self) -> None:
        self.mark = len(self.ctx.tracer.spans)
        win = Window(self.ctx.seconds)
        n, mods, t_pass = len(MIX_QUERIES), {}, 0.0
        for i in range(n + MIX_LAG):
            if i < n:
                self._cold(MIX_QUERIES[i])
            if i >= MIX_LAG:
                t_pass += self._timed(MIX_QUERIES[i - MIX_LAG], mods)
        self.passes.append(t_pass)
        self.per_module.append(mods)
        win.last = t_pass
        while win.more():
            mods, t = {}, time.perf_counter()
            for name in MIX_QUERIES:
                self._timed(name, mods)
            self.passes.append(time.perf_counter() - t)
            win.timed(t)
            self.per_module.append(mods)
        self.verify()

    def verify(self) -> None:
        """Untimed: every cold-pass output against the registry's DuckDB
        oracle over the same fixtures (rows > 0 where a query
        has no oracle)."""
        import duckdb

        from kafka_hadoop_loader_spark.catalog import TABLES

        con = duckdb.connect()
        con.execute("SET threads TO 1")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(self.fx, t)}.parquet')")
        for name in MIX_QUERIES:
            oracle = self.ctx.registry[name].oracle
            if name not in self.outputs:
                self.ctx.ledger.check(False, f"{name}: no output")
                continue
            cols, rows = self.outputs[name]
            if oracle is None:
                self.ctx.ledger.check(len(rows) > 0, f"{name}: no rows")
                continue
            res = con.execute(oracle)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
            self.ctx.ledger.check(
                len(rows) == len(orows) and value_hash(rows, cols) == value_hash(orows, ocols),
                f"{name}: output differs from the oracle ({len(rows)} vs {len(orows)} rows)")
        con.close()

    def results(self) -> tuple[float, list[float], list[float], list[float]]:
        """(cold, units, tail samples, reads).  One pass takes longer than
        the window, so the tail is taken over single-query latencies, not
        over passes: a regression of one query shows there even when the
        pass total hides it."""
        return self.cold, self.passes, self.queries, self.queries

    def layer_metrics(self) -> dict[str, float]:
        """Per module: medians over the timed passes."""
        m: dict[str, float] = {}
        for mod in sorted({k for p in self.per_module for k in p}):
            for key in ("build_s", "exec_s", "jobs", "tasks", "failed_tasks"):
                m[f"operators.{mod}.{key}"] = statistics.median(
                    p[mod][key] for p in self.per_module if mod in p)
        calls = [s for s in self.ctx.tracer.spans[self.mark:] if s.name == "catalog.table"]
        m["catalog.table_calls"] = len(calls) / len(self.passes)
        m["catalog.table_s"] = sum(s.end - s.start for s in calls) / len(self.passes)
        return m


WORKLOADS = {"backfill_trickle": BackfillTrickle, "operator_mix": OperatorMix}
