"""``lakehouse_upsert``: the paper's durable raw-tick table and batch leg
on the snapshot store, one closed-loop client.

A table seeded with ``SEED_ROWS`` ticks (100 symbols, unique
``tick_id``) takes, per cycle: a ``snapshot_append`` of
``APPEND_ROWS`` new ticks; a ``snapshot_merge`` on ``tick_id`` of
corrections to the previous append plus a few inserts; the reference
batch job over the store (latest 10 000 ticks, length-60 sliding-window
predictions, collected); and an as-of read ``ASOF_BACK`` versions back,
aggregated per symbol. ``snapshot_compact`` runs every
``COMPACT_EVERY`` cycles. A pandas model replays the same appends and
merges so every result can be checked.
"""

from __future__ import annotations

import importlib
import os
import time

import numpy as np
import pandas as pd

import gen
import harness as H
import reference as R

SEED_ROWS = 200_000
APPEND_ROWS = 10_000
N_UPDATES = 480
N_INSERTS = 20
COMPACT_EVERY = 2
ASOF_BACK = 3
K_LATEST = 10_000
SEQ_LEN = 60
MIN_ROWS = 100
STATS_COLS = ["tick_id", "timestamp"]
OP_KINDS = ("append", "merge", "predict", "asof", "compact")
PREFIX_REPS = 5


def model_agg(model: pd.DataFrame) -> pd.DataFrame:
    return model.groupby("symbol").agg(
        n=("tick_id", "size"), min_id=("tick_id", "min"), max_id=("tick_id", "max"), sum_price=("price", "sum")
    ).sort_index()


def agg_matches(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    got = got.set_index("symbol").sort_index()
    if list(got.index) != list(want.index):
        return False
    for c in ("n", "min_id", "max_id"):
        if not np.array_equal(got[c].to_numpy(np.int64), want[c].to_numpy(np.int64)):
            return False
    return bool(np.allclose(got["sum_price"].to_numpy(), want["sum_price"].to_numpy(), rtol=1e-12, atol=1e-6))


def _keyed(pdf: pd.DataFrame) -> pd.DataFrame:
    """Model rows indexed by ``tick_id`` (the merge key)."""
    return pdf.set_index(pdf["tick_id"].to_numpy())


def dir_bytes_files(path: str) -> tuple[int, int]:
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            files += 1
    return total, files


class LakehouseUpsert:
    def __init__(self, ctx: H.Ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.snap = importlib.import_module(f"{H.PKG}.operators.snapshots")
        self.batch = importlib.import_module(f"{H.PKG}.batch")
        scaling = importlib.import_module(f"{H.PKG}.functions.scaling")
        self.mn, self.mx = scaling.REFERENCE_SCALER_MIN, scaling.REFERENCE_SCALER_MAX
        self.start_us = int(time.time() * 1e6) - 10 * 86400 * 1_000_000
        self.times: dict[str, list[float]] = {k: [] for k in OP_KINDS}
        self.groups: dict[str, list[dict]] = {k: [] for k in OP_KINDS}
        self.merge_stats: list[dict] = []
        self.files_listed: list[int] = []
        self.cycle_s: list[float] = []
        self.named: dict = {}
        self.layers: dict = {}

    # ------------------------------------------------------------- set-up

    def _spark_df(self, pdf: pd.DataFrame):
        return self.spark.createDataFrame(pdf)

    def seed_store(self) -> None:
        with self.ctx.generating():
            seed = gen.lakehouse_ticks(self.ctx.seed, 0, SEED_ROWS, self.start_us)
        n = iter(range(100))

        def one():
            table = self.ctx.path(f"table{next(n)}")
            self.snap.snapshot_append(self.spark, table, self._spark_df(seed), stats_cols=STATS_COLS)
            return table

        self.table = self.ctx.prepare(one, reps=2)
        self.model = _keyed(seed)
        self.version_aggs = {self.snap.current_version(self.table): model_agg(self.model)}
        self.next_id = SEED_ROWS

    # ---------------------------------------------------------------- ops

    def _timed(self, kind: str, fn):
        t = time.time()
        with self.ctx.op(kind) as grp:
            out = fn()
        self.times[kind].append(time.time() - t)
        if grp is not None:
            self.groups[kind].append(grp)
        return out

    def append(self) -> None:
        with self.ctx.generating():
            pdf = gen.lakehouse_ticks(self.ctx.seed, self.next_id, APPEND_ROWS, self.start_us)
        df = self._spark_df(pdf)
        v = self._timed("append", lambda: self.snap.snapshot_append(self.spark, self.table, df, stats_cols=STATS_COLS))
        self.prev_ids = pdf["tick_id"].to_numpy()
        self.next_id += APPEND_ROWS
        self.model = pd.concat([self.model, _keyed(pdf)])
        self.version_aggs[v] = model_agg(self.model)
        self.ctx.check(v == max(self.version_aggs), "append: published the next version")

    def merge(self) -> None:
        with self.ctx.generating():
            pdf = gen.lakehouse_corrections(
                self.ctx.seed, self.next_id, self.prev_ids, N_UPDATES, self.next_id, N_INSERTS, self.start_us
            )
        df = self._spark_df(pdf)
        res = self._timed("merge", lambda: self.snap.snapshot_merge(self.spark, self.table, df, key="tick_id"))
        self.next_id += N_INSERTS
        upd = _keyed(pdf)
        self.model = pd.concat([self.model.drop(index=upd.index, errors="ignore"), upd])
        self.version_aggs[res["version"]] = model_agg(self.model)
        v = res["version"]
        parent = {e["path"] for e in self.snap.snapshot_files(self.table, v - 1)}
        rewritten = sum(e["n_rows"] for e in self.snap.snapshot_files(self.table, v) if e["path"] not in parent)
        self.merge_stats.append(dict(res, rewrite_amplification=rewritten / len(pdf)))
        self.ctx.check(res["version"] == max(self.version_aggs), "merge: published the next version")

    def predict(self) -> None:
        b, snap = self.batch, self.snap

        def job():
            recent = b.latest_ticks(snap.read_snapshot(self.spark, self.table), "timestamp", k=K_LATEST)
            preds = b.sliding_window_predictions(
                recent, "symbol", "timestamp", "price", seq_len=SEQ_LEN, min_rows=MIN_ROWS
            )
            return preds.toPandas()

        got = self._timed("predict", job)
        self.files_listed.append(len(snap.snapshot_files(self.table)))
        latest = self.model.sort_values("timestamp").tail(K_LATEST)
        ref = R.grouped_trailing_predictions(
            latest.reset_index(drop=True), ["symbol"], "timestamp", SEQ_LEN, self.mn, self.mx
        ).dropna(subset=["expected"])
        got = got.sort_values(["symbol", "timestamp"]).reset_index(drop=True)
        ok = (
            len(got) == len(ref)
            and np.array_equal(got["tick_id"].to_numpy(), ref["tick_id"].to_numpy())
            and R.predictions_match(got["predicted_price"].to_numpy(), ref["expected"].to_numpy())
        )
        self.ctx.check(ok, "predict: equals sliding-60 recomputation over the model's latest 10k ticks")

    def asof(self) -> None:
        from pyspark.sql import functions as F

        v = max(self.snap.current_version(self.table) - ASOF_BACK, 1)

        def job():
            return (
                self.snap.read_snapshot(self.spark, self.table, version=v)
                .groupBy("symbol")
                .agg(
                    F.count("tick_id").alias("n"), F.min("tick_id").alias("min_id"),
                    F.max("tick_id").alias("max_id"), F.sum("price").alias("sum_price"),
                )
                .toPandas()
            )

        got = self._timed("asof", job)
        self.ctx.check(agg_matches(got, self.version_aggs[v]), f"asof: version {v} equals the model")

    def compact(self) -> None:
        v = self._timed("compact", lambda: self.snap.snapshot_compact(self.spark, self.table, stats_cols=STATS_COLS))
        self.version_aggs[v] = model_agg(self.model)
        self.ctx.check(v == max(self.version_aggs), "compact: published the next version")

    def _attempt(self, fn) -> None:
        try:
            fn()
        except Exception as e:  # an op that raised counts as failed; keep measuring
            self.ctx.op_failed(fn.__name__, e)

    # ----------------------------------------------------------------- run

    def prepare(self) -> None:
        self.seed_store()

    def measure(self) -> None:
        """The upsert loop: whole cycles until ``seconds`` have passed and
        at least ``COMPACT_EVERY`` cycles (so compaction runs) are done."""
        t_start = time.time()
        cycles = 0
        while True:
            t = time.time()
            for fn in (self.append, self.merge, self.predict, self.asof):
                self._attempt(fn)
            self.cycle_s.append(time.time() - t)
            cycles += 1
            if cycles % COMPACT_EVERY == 0:
                self._attempt(self.compact)
            if time.time() - t_start >= self.ctx.seconds and cycles >= COMPACT_EVERY:
                break
        wall = time.time() - t_start
        self.final_check()
        rows = cycles * (APPEND_ROWS + N_UPDATES + N_INSERTS)
        self.latency_p50_ms = H.median(self.cycle_s) * 1e3
        self.rows_per_s = rows / wall
        for kind, name in (("append", "append_p50_ms"), ("merge", "merge_p50_ms"),
                           ("predict", "predict_p50_ms"), ("asof", "asof_read_p50_ms")):
            self.named[name] = (H.median(self.times[kind]) * 1e3, "ms")
        self.named["upsert_cycles_per_min"] = (cycles / wall * 60.0, "1/min")
        self.named["compactions"] = (len(self.times["compact"]), "count")
        nbytes, nfiles = dir_bytes_files(self.table)
        self.named["store_bytes_per_row"] = (nbytes / len(self.model), "B")
        self.layers["store.bytes"] = nbytes
        self.layers["store.files"] = nfiles

    def final_check(self) -> None:
        got = self.snap.read_snapshot(self.spark, self.table).toPandas().sort_values("tick_id").reset_index(drop=True)
        want = self.model.sort_values("tick_id").reset_index(drop=True)
        ok = (
            len(got) == len(want)
            and np.array_equal(got["tick_id"].to_numpy(), want["tick_id"].to_numpy())
            and list(got["symbol"]) == list(want["symbol"])
            and np.array_equal(got["price"].to_numpy(), want["price"].to_numpy())
            and np.array_equal(got["volume"].to_numpy(), want["volume"].to_numpy())
            and np.array_equal(R.to_us(got["timestamp"]), R.to_us(want["timestamp"]))
        )
        self.ctx.check(ok, "final snapshot equals the model")

    # -------------------------------------------------------------- tracing

    def install_spans(self, tr: H.Tracer) -> None:
        windows = importlib.import_module(f"{H.PKG}.operators.windows")
        snap = self.snap
        tr.wrap(snap, "publish_with_rebase", "operators.snapshots.publish")
        tr.wrap(snap, "_publish", "operators.snapshots.publish")
        tr.wrap(snap, "read_snapshot", "operators.snapshots.read_snapshot")
        tr.wrap(windows, "trailing_collect", "operators.windows.trailing_collect")
        tr.wrap(self.batch, "predict_over_windows", "ml.predict_over_windows")
        tr.wrap(self.batch, "latest_ticks", "operators.topk.latest_ticks")

    def layer_metrics(self, tr: H.Tracer) -> dict:
        out = dict(self.layers)
        jc = self.ctx.jobs
        publish = _outer_spans(tr.spans, "operators.snapshots.publish")
        for kind in ("append", "merge", "compact"):
            counters = [jc.read(g) for g in self.groups[kind]]
            pre = f"operators.snapshots.{kind}"
            for k in ("jobs", "driver_gap_ms", "executor_run_ms"):
                out[f"{pre}.{k}"] = H.median([c[k] for c in counters]) if counters else 0.0
            out[f"{pre}.publish_ms"] = H.median(_publish_per_op(publish, self.groups[kind])) if self.groups[kind] else 0.0
            if kind == "merge":
                out[f"{pre}.shuffle_write_bytes"] = H.median([c["shuffle_write_bytes"] for c in counters]) if counters else 0.0
        ms = self.merge_stats
        if ms:
            out["operators.snapshots.merge.files_rewritten"] = H.median([m["files_rewritten"] for m in ms])
            out["operators.snapshots.merge.files_carried"] = H.median([m["files_carried"] for m in ms])
            out["operators.snapshots.merge.rewrite_amplification"] = H.median([m["rewrite_amplification"] for m in ms])
        pred = [jc.read(g) for g in self.groups["predict"]]
        out["batch.jobs"] = H.median([c["jobs"] for c in pred]) if pred else 0.0
        reads = [d for op in ("predict", "asof") for d in tr.durations_ms("operators.snapshots.read_snapshot", op=op)]
        out["operators.snapshots.read.plan_ms_p50"] = H.median(reads) if reads else 0.0
        out["operators.snapshots.read.files_listed"] = H.median(self.files_listed) if self.files_listed else 0.0
        plan = tr.durations_ms("operators.windows.trailing_collect", op="predict")
        out["operators.windows.plan_ms_p50"] = H.median(plan) if plan else 0.0
        out.update(self._prefix_marginals())
        return out

    def _prefix_marginals(self) -> dict:
        """Scan -> +top-k -> +windows -> +predict, each materialized with
        the noop sink; these stages fuse in execution, so each layer's
        time is the marginal cost of adding it (a median difference, so
        a layer cheaper than the noise can read slightly negative)."""
        b, snap = self.batch, self.snap
        windows = importlib.import_module(f"{H.PKG}.operators.windows")
        scan = snap.read_snapshot(self.spark, self.table)
        top = b.latest_ticks(scan, "timestamp", k=K_LATEST)
        win = windows.trailing_collect(top, "symbol", "timestamp", "price", SEQ_LEN, full_only=True)
        pred = b.predict_over_windows(win, "window_values", seq_len=SEQ_LEN)
        stages = (scan, top, win, pred)
        times: list[list[float]] = [[] for _ in stages]
        for _ in range(PREFIX_REPS):  # round-robin, so drift hits every prefix alike
            for df, ts in zip(stages, times):
                t = time.time()
                df.write.format("noop").mode("overwrite").save()
                ts.append(time.time() - t)
        med = [H.median(ts) * 1e3 for ts in times]
        return {
            "operators.topk.ms": med[1] - med[0],
            "operators.windows.ms": med[2] - med[1],
            "ml.ms": med[3] - med[2],
        }


def _outer_spans(spans, name: str) -> list[tuple[float, float]]:
    """(start, duration ms) of ``name`` spans not nested in another."""
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        if s["name"] == name and s["end"] is not None:
            p = by_id.get(s["parent"])
            if p is None or p["name"] != name:
                out.append((s["start"], (s["end"] - s["start"]) * 1e3))
    return out


def _publish_per_op(publish, groups) -> list[float]:
    """Publish time inside each op's job-group window."""
    return [sum(d for t, d in publish if g["t0"] <= t <= g["t1"]) for g in groups]
