"""Curation phase of the ``lakehouse_batch`` workload: the LLM-data
semantic-dedup face, called as ``plans.get(name).fn(spark, dir)``.

``dir`` holds a seeded ``embeddings`` table (dimension 64, sf-layout
schema) with a controlled share of near duplicates. A pass runs the face
once and collects its result, as a nightly job would in a fresh session.
Every cluster and keep bit is checked against an exact recomputation.
"""

from __future__ import annotations

import importlib
import os
import time

import numpy as np

import gen
import harness as H
import reference as R

N_EMBEDDINGS = 500
DUP_SHARE = 0.2
FACE = "semantic_dedup_embeddings"
FACE_ROWS = N_EMBEDDINGS // 2  # the face samples the even ids
OP_SPANS = {
    "operators.similarity.threshold_pairs_matrix": ("similarity", "threshold_pairs_matrix"),
    "operators.similarity.semantic_dedup": ("similarity", "semantic_dedup"),
    "operators.dedup.dedup_clusters": ("dedup", "dedup_clusters"),
    "operators.dedup.resolve_components": ("dedup", "resolve_components"),
}


class CurationBatch:
    def __init__(self, ctx: H.Ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.plans = importlib.import_module(f"{H.PKG}.plans")
        self.face_s: list[float] = []
        self.groups: list[dict] = []
        self.named: dict = {}
        self.layers: dict = {}

    def prepare(self) -> None:
        self.sf_dir = self.ctx.path("sf")
        os.makedirs(self.sf_dir)
        with self.ctx.generating():
            self.emb = gen.embeddings(self.ctx.seed, N_EMBEDDINGS, DUP_SHARE)
            self.emb.to_parquet(os.path.join(self.sf_dir, "embeddings.parquet"))
        tables = importlib.import_module(f"{H.PKG}.sources.tables")
        # the session's first scan of the table (and the package's
        # one-off fixture preflight on it) is set-up, not face time
        self.ctx.prepare(lambda: tables.load_table(self.spark, self.sf_dir, "embeddings").count(), reps=1)
        even = self.emb[self.emb["vec_id"] % 2 == 0]
        self.ids = even["vec_id"].to_numpy()
        pairs = R.cosine_pairs(self.ids, np.stack(even["embedding"].to_numpy()), gen.COS_THRESHOLD)
        self.cluster = R.components(N_EMBEDDINGS, pairs)[self.ids]

    def check(self, out) -> bool:
        """Exact clusters and keep bits, and the face's own invariants."""
        out = out.sort_values("vec_id")
        return (
            np.array_equal(out["vec_id"].to_numpy(), self.ids)
            and np.array_equal(out["cluster_id"].to_numpy(), self.cluster)
            and np.array_equal(out["keep"].to_numpy(bool), self.ids == self.cluster)
            and bool(out["sem_keep_superset"].all())
            and bool(out["recall_ok"].all())
        )

    def measure(self) -> None:
        t = time.time()
        try:
            with self.ctx.op(FACE) as grp:
                out = self.plans.get(FACE).fn(self.spark, self.sf_dir).toPandas()
        except Exception as e:  # an op that raised counts as failed; keep measuring
            self.ctx.op_failed(FACE, e)
            return
        self.face_s.append(time.time() - t)
        if grp is not None:
            self.groups.append(grp)
        self.ctx.check(self.check(out), f"{FACE}: clusters equal the exact recomputation")
        self.rows_per_s = FACE_ROWS / self.face_s[-1]
        self.named["semdedup_p50_s"] = (H.median(self.face_s), "s")

    # -------------------------------------------------------------- tracing

    def install_spans(self, tr: H.Tracer) -> None:
        for name, (mod, attr) in OP_SPANS.items():
            tr.wrap(importlib.import_module(f"{H.PKG}.operators.{mod}"), attr, name)

    def layer_metrics(self, tr: H.Tracer) -> dict:
        out = dict(self.layers)
        jc = self.ctx.jobs
        cs = [jc.read(g) for g in self.groups]
        for k in ("jobs", "driver_gap_ms", "executor_run_ms", "shuffle_write_bytes", "spill_bytes", "gc_ms"):
            out[f"plans.{FACE}.{k}"] = H.median([c[k] for c in cs]) if cs else 0.0
        jobs_at = [iv for g in self.groups for iv in jc.job_intervals(g)]
        runs = max(len(self.face_s), 1)
        for name in OP_SPANS:
            spans = [s for s in tr.spans if s["name"] == name and s["end"] is not None]
            out[f"{name}.ms"] = sum((s["end"] - s["start"]) * 1e3 for s in spans) / runs
            out[f"{name}.jobs"] = sum(1 for s in spans for sub, _ in jobs_at if s["start"] <= sub <= s["end"]) / runs
        return out
