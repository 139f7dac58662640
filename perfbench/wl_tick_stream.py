"""``tick_stream``: the paper's stream leg, driven from outside.

Three phases, all through ``streaming.pipeline``'s public functions.
After an untimed warm-up of both stream kinds, each of ``ROUNDS``
rounds runs every phase once, as a fresh query:

- stateful drain: ``run_continuous_prediction_stream`` drains a
  pre-written backlog, ``STATEFUL_FILES_PER_TRIGGER`` files per
  micro-batch;
- drain: ``run_tick_stream`` with ``availableNow`` drains a backlog of
  the same shape, ``DRAIN_FILES_PER_TRIGGER`` files per micro-batch;
- live: an open-loop generator process publishes 1 000 ticks/s (one
  file of 100 symbols every 100 ms) for ``LIVE_RAMP_S`` plus
  ``seconds / ROUNDS`` while ``run_tick_stream`` consumes them with the
  library defaults. Each tick's latency is measured from its due time
  to the commit of the micro-batch that holds it, for the ticks due
  after the ramp.

Drain rates are the median over the rounds; tick latency is taken over
the timed ticks of all rounds together.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys
import time

import numpy as np

import gen
import harness as H
import reference as R

SEQ_LEN = 5
WARM_FILES = 5
DRAIN_FILES = 40
DRAIN_FILES_PER_TRIGGER = 10
STATEFUL_FILES = 10
STATEFUL_FILES_PER_TRIGGER = 10
# every phase runs once per round, and the rounds interleave, so a
# slow spell of the host weighs on all three phases alike
ROUNDS = 2
LIVE_LEAD_S = 0.5  # the first live file is due this long after the query starts
LIVE_RAMP_S = 1.5  # live ticks due in a query's first seconds are checked, not timed
COMMIT_TIMEOUT_S = 60.0

PHASES = ("trigger", "add_batch", "latest_offset", "get_batch", "query_planning", "wal_commit", "commit_offsets")
_DURATION_KEYS = {
    "trigger": "triggerExecution",
    "add_batch": "addBatch",
    "latest_offset": "latestOffset",
    "get_batch": "getBatch",
    "query_planning": "queryPlanning",
    "wal_commit": "walCommit",
    "commit_offsets": "commitOffsets",
}


def make_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        """Every micro-batch's progress report, keyed by query id."""

        def __init__(self) -> None:
            self.by_query: dict[str, list[dict]] = {}

        def onQueryStarted(self, event) -> None:  # noqa: N802
            pass

        def onQueryProgress(self, event) -> None:  # noqa: N802
            p = json.loads(event.progress.json)
            self.by_query.setdefault(p["id"], []).append(p)

        def onQueryIdle(self, event) -> None:  # noqa: N802
            pass

        def onQueryTerminated(self, event) -> None:  # noqa: N802
            pass

        def batches(self, query_id: str) -> list[dict]:
            """Progress of the batches that read data, in batch order."""
            recs = {p["batchId"]: p for p in self.by_query.get(query_id, []) if p["numInputRows"] > 0}
            return [recs[b] for b in sorted(recs)]

        def rows(self, query_id: str) -> int:
            return sum(p["numInputRows"] for p in self.batches(query_id))

    return ProgressLog()


def commit_time_s(progress: dict) -> float:
    """A micro-batch commits at its trigger start plus its trigger time."""
    start = dt.datetime.strptime(progress["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=dt.timezone.utc)
    return start.timestamp() + progress["durationMs"]["triggerExecution"] / 1e3


def tick_latencies_ms(epochs: np.ndarray, ts_us: np.ndarray, batches: list[dict]) -> np.ndarray:
    """Due time -> commit of the micro-batch (``_epoch`` = batch id) that
    holds each tick."""
    commit = {p["batchId"]: commit_time_s(p) for p in batches}
    c = np.array([commit[int(e)] for e in epochs])
    return (c - ts_us / 1e6) * 1e3


def read_epoch_sink(path: str):
    """The combined sink as pandas, one ``_epoch=N`` directory at a time."""
    import pandas as pd
    import pyarrow.parquet as pq

    parts = []
    for d in sorted(os.listdir(path)):
        if d.startswith("_epoch="):
            t = pq.read_table(os.path.join(path, d)).to_pandas()
            t["_epoch"] = int(d.split("=", 1)[1])
            parts.append(t)
    df = pd.concat(parts, ignore_index=True)
    df["ts_us"] = R.to_us(df["timestamp"])
    return df


def same_ticks(df, symbols, ts_us, prices) -> bool:
    """Every expected tick present exactly once, with its price."""
    if len(df) != len(symbols):
        return False
    got = sorted(zip(df["symbol"], df["ts_us"].astype(np.int64), df["price"]))
    want = sorted(zip(symbols, ts_us.astype(np.int64), prices))
    return got == want


class TickStream:
    def __init__(self, ctx: H.Ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        pkg = H.PKG
        import importlib

        self.pipe = importlib.import_module(f"{pkg}.streaming.pipeline")
        scaling = importlib.import_module(f"{pkg}.functions.scaling")
        self.mn, self.mx = scaling.REFERENCE_SCALER_MIN, scaling.REFERENCE_SCALER_MAX
        self.listener = make_listener()
        self.spark.streams.addListener(self.listener)
        self.live_files = int(round((LIVE_RAMP_S + ctx.seconds / ROUNDS) / gen.FILE_INTERVAL_S))
        self.e2e: dict = {}
        self.named: dict = {}
        self.layers: dict = {}
        self.phase_batches: dict[str, list[dict]] = {}
        self._groups: dict[str, list[dict]] = {}
        # per-round figures, summarized after the last round
        self.latencies: list[float] = []
        self.live_triggers: list[float] = []
        self.live_rows: list[int] = []
        self.late_s: list[float] = []
        self.lag_s: list[float] = []
        self.drain_rates: list[float] = []
        self.stateful_rates: list[float] = []

    # ---------------------------------------------------------------- phases

    def _backlog(self, name: str, seed: int, n_files: int) -> tuple[str, int]:
        d = self.ctx.path(name)
        start_us = int((time.time() - 3600.0) * 1e6)
        with self.ctx.generating():
            gen.write_tick_files(d, seed, start_us, n_files)
        return d, start_us

    def _stateless_drain(self, name: str, src: str, files_per_trigger: int):
        q = self.pipe.run_tick_stream(
            self.spark,
            self.pipe.file_tick_source(self.spark, src, max_files_per_trigger=files_per_trigger),
            self.ctx.path(name + "_out"),
            self.ctx.path(name + "_ckpt"),
            seq_len=SEQ_LEN,
            available_now=True,
        )
        q.awaitTermination()
        return q

    def _stateful_drain(self, name: str, src: str):
        q = self.pipe.run_continuous_prediction_stream(
            self.spark,
            self.pipe.file_tick_source(self.spark, src, max_files_per_trigger=STATEFUL_FILES_PER_TRIGGER),
            self.ctx.path(name + "_out"), self.ctx.path(name + "_ckpt"), seq_len=SEQ_LEN, available_now=True,
        )
        q.awaitTermination()
        return q

    def warm_up(self) -> None:
        """Both stream kinds before timing. The first stateful query of a
        process starts the Python workers and costs about half as much
        again as the next; it runs first, so the stateless warm-up after
        it is already past the process's first streaming query."""
        src, _ = self._backlog("warm_in", self.ctx.seed + 99, WARM_FILES)
        self.ctx.prepare(lambda: self._stateful_drain("warm_stateful", src), reps=1)
        n = iter(range(100))
        self.ctx.prepare(lambda: self._stateless_drain(f"warm{next(n)}", src, WARM_FILES), reps=2)
        self.drain_src, self.drain_start_us = self._backlog("drain_in", self.ctx.seed + 1, DRAIN_FILES)
        self.stateful_src, self.stateful_start_us = self._backlog("stateful_in", self.ctx.seed + 2, STATEFUL_FILES)

    def live(self, r: int) -> None:
        ctx = self.ctx
        src = ctx.path(f"live{r}_in")
        os.makedirs(src)
        sink = ctx.path(f"live{r}_out")
        seed = ctx.seed + 100 + r
        with ctx.op("live") as grp:
            q = self.pipe.run_tick_stream(
                self.spark, self.pipe.file_tick_source(self.spark, src), sink, ctx.path(f"live{r}_ckpt"),
                seq_len=SEQ_LEN, available_now=False,
            )
            start_us = int((time.time() + LIVE_LEAD_S) * 1e6)
            log = ctx.path(f"generator{r}.json")
            proc = subprocess.Popen(
                [sys.executable, os.path.join(H.BENCH_DIR, "gen.py"), "ticks", "--out", src, "--log", log,
                 "--seed", str(seed), "--start-us", str(start_us), "--files", str(self.live_files)]
            )
            try:
                proc.wait(timeout=self.live_files * gen.FILE_INTERVAL_S + LIVE_LEAD_S + 60)
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
            gen_end_s = time.time()
            expected_rows = self.live_files * gen.N_SYMBOLS
            deadline = time.time() + COMMIT_TIMEOUT_S
            while self.listener.rows(q.id) < expected_rows and time.time() < deadline:
                time.sleep(0.05)
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30000)
            q.stop()
        self._record("live", q, grp)
        with open(log) as f:
            self.late_s.extend(json.load(f)["late_s"])

        batches = self.listener.batches(q.id)
        syms, ts_us, prices = gen.expected_ticks(seed, start_us, self.live_files)
        df = read_epoch_sink(sink)
        ok = same_ticks(df, syms, ts_us, prices) and self._epoch_predictions_ok(df)
        ctx.check(ok, "live: ticks committed exactly once with per-epoch predictions", n=len(syms))
        timed_from_us = start_us + int(LIVE_RAMP_S * 1e6)
        timed = df[df["ts_us"] >= timed_from_us]
        self.latencies.extend(tick_latencies_ms(timed["_epoch"].to_numpy(), timed["ts_us"].to_numpy(), batches))
        steady = [p for p in batches if commit_time_s(p) * 1e6 >= timed_from_us]
        self.live_triggers.extend(p["durationMs"]["triggerExecution"] for p in steady)
        self.live_rows.extend(p["numInputRows"] for p in steady)
        # newest generated tick minus newest tick committed by the time
        # the generator finished
        newest = max(ts_us) / 1e6
        by_epoch = df.groupby("_epoch")["ts_us"].max().to_dict()
        done = [by_epoch[p["batchId"]] / 1e6 for p in batches if commit_time_s(p) <= gen_end_s]
        self.lag_s.append(newest - (max(done) if done else min(ts_us) / 1e6))

    def _epoch_predictions_ok(self, df) -> bool:
        ref = R.grouped_trailing_predictions(df, ["_epoch", "symbol"], "ts_us", SEQ_LEN, self.mn, self.mx)
        return R.predictions_match(ref["predicted_price"].to_numpy(), ref["expected"].to_numpy())

    def drain(self, r: int) -> None:
        syms, ts_us, prices = gen.expected_ticks(self.ctx.seed + 1, self.drain_start_us, DRAIN_FILES)
        with self.ctx.op("drain") as grp:
            t0 = time.time()
            q = self._stateless_drain(f"drain{r}", self.drain_src, DRAIN_FILES_PER_TRIGGER)
            wall = time.time() - t0
        self._record("drain", q, grp)
        df = read_epoch_sink(self.ctx.path(f"drain{r}_out"))
        ok = same_ticks(df, syms, ts_us, prices) and self._epoch_predictions_ok(df)
        self.ctx.check(ok, "drain: ticks committed exactly once with per-epoch predictions", n=len(syms))
        self.drain_rates.append(len(syms) / wall)

    def stateful_drain(self, r: int) -> None:
        import pandas as pd

        syms, ts_us, prices = gen.expected_ticks(self.ctx.seed + 2, self.stateful_start_us, STATEFUL_FILES)
        with self.ctx.op("stateful") as grp:
            t0 = time.time()
            q = self._stateful_drain(f"stateful{r}", self.stateful_src)
            wall = time.time() - t0
        self._record("stateful", q, grp)
        ref = R.grouped_trailing_predictions(
            pd.DataFrame({"symbol": syms, "ts_us": ts_us, "price": prices}), ["symbol"], "ts_us",
            SEQ_LEN, self.mn, self.mx,
        ).dropna(subset=["expected"])
        got = read_epoch_sink(self.ctx.path(f"stateful{r}_out")).sort_values(["symbol", "ts_us"])
        got = got.reset_index(drop=True)
        ok = (
            len(got) == len(ref)
            and list(got["symbol"]) == list(ref["symbol"])
            and np.array_equal(got["ts_us"].to_numpy(), ref["ts_us"].to_numpy())
            and R.predictions_match(got["predicted_price"].to_numpy(), ref["expected"].to_numpy())
        )
        self.ctx.check(ok, "stateful: every tick from the 5th per symbol predicted once, gapless", n=len(syms))
        self.stateful_rates.append(len(syms) / wall)

    def _record(self, phase: str, q, grp) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30000)
        self.phase_batches.setdefault(phase, []).extend(self.listener.batches(q.id))
        if grp is not None:
            grp["streams"] = [q.runId]
            self._groups.setdefault(phase, []).append(grp)

    # ----------------------------------------------------------------- run

    def run(self) -> None:
        self.warm_up()
        self.ctx.timed_region_starts()
        for r in range(ROUNDS):
            for phase in (self.stateful_drain, self.drain, self.live):
                try:
                    phase(r)
                except Exception as e:  # an op that raised counts as failed; keep measuring
                    self.ctx.op_failed(f"{phase.__name__} round {r}", e)
        self._summarize()

    def _summarize(self) -> None:
        lat = self.latencies
        if lat:
            self.e2e["latency_p50_ms"] = H.median(lat)
            self.named["tick_latency_p50_ms"] = (H.median(lat), "ms")
            p99 = H.tail(lat, 99.0)
            if p99 is not None:
                self.named["tick_latency_p99_ms"] = (p99, "ms")
            self.named["tick_latency_samples"] = (len(lat), "count")
            self.named["live_trigger_ms_p50"] = (H.median(self.live_triggers), "ms")
            self.named["live_rows_per_batch_p50"] = (H.median(self.live_rows), "count")
            self.layers["sources.lag_s"] = max(self.lag_s)
        if self.late_s:
            self.named["generator_max_late_ms"] = (max(self.late_s) * 1e3, "ms")
            self.layers["sources.generator_max_late_ms"] = max(self.late_s) * 1e3
        rates = []
        for name, xs in (("drain_ticks_per_s", self.drain_rates), ("stateful_drain_ticks_per_s", self.stateful_rates)):
            if xs:
                self.named[name] = (H.median(xs), "ticks/s")
                rates.append(H.median(xs))
        if len(rates) == 2:
            self.e2e["throughput_per_s"] = H.geomean(rates)

    # -------------------------------------------------------------- tracing

    def install_spans(self, tr: H.Tracer) -> None:
        import importlib

        pipe = self.pipe
        windows = importlib.import_module(f"{H.PKG}.operators.windows")
        tr.wrap(pipe, "idempotent_epoch_write", "streaming.pipeline.sink")
        tr.wrap(pipe, "parse_ticks", "sources.parse_ticks")
        tr.wrap(pipe, "predict_over_windows", "ml.predict_over_windows")
        tr.wrap(windows, "trailing_collect", "operators.windows.trailing_collect")
        tr.wrap(pipe, "continuous_trailing_windows", "streaming.stateful.continuous_trailing_windows")

    def layer_metrics(self, tr: H.Tracer) -> dict:
        out = dict(self.layers)
        jc = self.ctx.jobs
        for prefix, phase in (("streaming.pipeline", "live"), ("streaming.stateful", "stateful")):
            batches = self.phase_batches.get(phase, [])
            if not batches:
                continue
            for name in PHASES:
                vals = [p["durationMs"].get(_DURATION_KEYS[name], 0) for p in batches]
                out[f"{prefix}.{name}_ms_p50"] = H.median(vals)
            out[f"{prefix}.rows_per_batch_p50"] = H.median([p["numInputRows"] for p in batches])
            groups = self._groups.get(phase, [])
            if groups:
                cs = [jc.read(g, extra_groups=g.get("streams", [])) for g in groups]
                out[f"{prefix}.jobs_per_batch"] = sum(c["jobs"] for c in cs) / len(batches)
                out[f"{prefix}.executor_run_ms_per_batch"] = sum(c["executor_run_ms"] for c in cs) / len(batches)
                out[f"{prefix}.tasks_per_batch"] = sum(c["tasks"] for c in cs) / len(batches)
        stateful = self.phase_batches.get("stateful", [])
        ops = [p["stateOperators"][0] for p in stateful if p.get("stateOperators")]
        if ops:
            out["streaming.stateful.state_commit_ms_p50"] = H.median([o.get("commitTimeMs", 0) for o in ops])
            out["streaming.stateful.state_rows"] = ops[-1].get("numRowsTotal", 0)
            out["streaming.stateful.state_memory_bytes"] = ops[-1].get("memoryUsedBytes", 0)
        sink = tr.durations_ms("streaming.pipeline.sink", op="live")
        out["streaming.pipeline.sink_ms_p50"] = H.median(sink) if sink else 0.0
        plan = tr.durations_ms("operators.windows.trailing_collect", op="live")
        out["operators.windows.plan_ms_p50"] = H.median(plan) if plan else 0.0
        out["sources.parse_ms_per_1k_ticks"] = self._static_parse_ms_per_1k()
        return out

    def _static_parse_ms_per_1k(self) -> float:
        """``parse_ticks`` over the live phase's wire files, read as a
        static text table and materialized with the noop sink."""
        src = self.ctx.path("live0_in")
        raw = self.spark.read.text(src)
        n = raw.count()
        times = []
        for _ in range(3):
            t = time.time()
            self.pipe.parse_ticks(raw).write.format("noop").mode("overwrite").save()
            times.append(time.time() - t)
        return H.median(times) * 1e3 / (n / 1000.0)
