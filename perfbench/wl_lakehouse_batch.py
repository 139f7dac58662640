"""``lakehouse_batch``: the paper's batch leg, one closed-loop client.

Timed region, in order: the snapshot-store upsert loop
(:mod:`wl_lakehouse_upsert`), then one pass of the semantic-dedup
curation face (:mod:`wl_curation_batch`). Both phases are prepared
(store seeded, tables written) before the timed region starts.

End-to-end metrics: ``latency_p50_ms`` is the median upsert cycle
(append + merge + batch predict + as-of read); ``throughput_per_s`` is
the geometric mean of the two phases' rates, ticks upserted per second
over the whole loop (compaction included) and embeddings curated per
second.
"""

from __future__ import annotations

import harness as H
from wl_curation_batch import CurationBatch
from wl_lakehouse_upsert import LakehouseUpsert


class LakehouseBatch:
    def __init__(self, ctx: H.Ctx) -> None:
        self.ctx = ctx
        self.upsert = LakehouseUpsert(ctx)
        self.curation = CurationBatch(ctx)
        self.parts = (self.upsert, self.curation)
        self.e2e: dict = {}
        self.named: dict = {}

    def run(self) -> None:
        for p in self.parts:
            p.prepare()
        self.ctx.timed_region_starts()
        for p in self.parts:
            p.measure()
        self.e2e["latency_p50_ms"] = self.upsert.latency_p50_ms
        if self.curation.face_s:
            self.e2e["throughput_per_s"] = H.geomean([self.upsert.rows_per_s, self.curation.rows_per_s])
        for p in self.parts:
            self.named.update(p.named)

    def install_spans(self, tr: H.Tracer) -> None:
        for p in self.parts:
            p.install_spans(tr)

    def layer_metrics(self, tr: H.Tracer) -> dict:
        out = {}
        for p in self.parts:
            out.update(p.layer_metrics(tr))
        return out
