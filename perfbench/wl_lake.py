"""lake_cdc: a keyed transactional table under seeded change batches.

A round commits one change batch, cycling a keyed bloom append, a
MERGE with updates/tombstones/inserts and a merge-on-read delete, then
makes five reads: four bloom-pruned point lookups and one zone-map
``count_where`` call. Every third round ends with ``maintain_table``.
``batch_s`` is the mean over the three commit kinds of each kind's
median commit time, so the mix of kinds is fixed however many rounds
the run does; ``read_s`` is the median point-lookup time. REST, the
sink and the Catalyst-heavy plans are bypassed.
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench import gen
from perfbench.common import Context, dir_bytes, percentile, rounds

LOOKUPS_PER_WRITE = 4
COUNTS_PER_WRITE = 1
ROUND_S = 3.0  # one commit and its reads, warm
TRACED_MIN_LOOKUPS = 100  # at least ten samples beyond p90


class Lake:
    def __init__(self, ctx: Context):
        from qb_data_pipeline_backfill_spark.operators import txn

        self.ctx = ctx
        self.txn = txn
        self.model = gen.LakeModel(ctx.seed)
        self.path = ctx.path("lake")
        self.layer: dict[str, list[float]] = {}
        self.commit_s: dict[str, list[float]] = {}
        self.lookup_s: list[float] = []
        self.space_amp: list[float] = []

    def _note(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(value)

    def _df(self, rows):
        return self.ctx.spark.createDataFrame(rows, gen.LAKE_SCHEMA)

    def create(self) -> None:
        """Version 0 fixes the bloom index spec on ``id``; version 1 loads
        the initial rows with zone-map stats on ``id``. Later commits
        inherit both indexes."""
        txn, spark = self.txn, self.ctx.spark
        txn.commit_append_with_bloom(spark, self._df([]), self.path, key="id", bloom_col="id")
        txn.commit_append_with_stats(spark, self._df(self.model.initial), self.path, key="id")

    # --- writes -----------------------------------------------------------
    def write(self) -> None:
        txn, spark, path = self.txn, self.ctx.spark, self.path
        kind, batch = self.model.next_write()
        if kind == "delete_mor":
            df = spark.createDataFrame([(k,) for k in batch], "id string")
            user_bytes = sum(len(k) for k in batch)
        else:
            df = self._df(batch)
            user_bytes = sum(len(r[0]) + len(r[3]) + 16 for r in batch)
        before = dir_bytes(path)
        try:
            with self.ctx.tracer.span(f"txn.{kind}"):
                t0 = time.perf_counter()
                if kind == "append":
                    txn.commit_append_with_bloom(spark, df, path, key="id", bloom_col="id")
                elif kind == "merge":
                    txn.commit_merge(spark, df, path, key="id", matched_delete="op = 'D'")
                else:
                    txn.commit_delete_mor(spark, df, path, key="id")
                took = time.perf_counter() - t0
        except Exception:  # noqa: BLE001 - a failed commit is counted, not fatal
            self.ctx.ops.error(f"commit {kind}")
            return
        self.ctx.ops.check(f"commit {kind}", True)
        self.commit_s.setdefault(kind, []).append(took)
        self._note("txn.bytes_written_per_user_byte", (dir_bytes(path) - before) / user_bytes)

    def maintain(self) -> None:
        try:
            with self.ctx.tracer.span("txn.maintain"):
                t0 = time.perf_counter()
                report = self.txn.maintain_table(self.ctx.spark, self.path, retention_seconds=0)
                took = time.perf_counter() - t0
        except Exception:  # noqa: BLE001
            self.ctx.ops.error("maintain_table")
            return
        self.ctx.ops.check("maintain_table", True)
        self._note("txn.maintain_s", took)
        self._note("txn.files_rewritten", report.get("files_rewritten", 0))
        self.space_amp.append(dir_bytes(self.path) / self.model.live_bytes())

    # --- reads ------------------------------------------------------------
    def lookups(self, n: int) -> None:
        txn, spark, ops = self.txn, self.ctx.spark, self.ctx.ops
        for key, want in self.model.lookup_keys(n):
            if self.ctx.traced:
                scanned, _total = txn.bloom_pruned_file_count(self.path, key)
                self._note("txn.files_scanned_per_lookup", scanned)
            try:
                with self.ctx.tracer.span("txn.point"):
                    t0 = time.perf_counter()
                    rows = txn.read_table_point(spark, self.path, key).collect()
                    took = time.perf_counter() - t0
            except Exception:  # noqa: BLE001
                ops.error(f"lookup {key}")
                continue
            got = [(r["id"], r["v"], r["amount"], r["op"]) for r in rows]
            ops.check(f"lookup {key}", got == ([want] if want else []), f"got {got}, want {want}")
            self.lookup_s.append(took)

    def counts(self, n: int) -> None:
        txn, spark, ops = self.txn, self.ctx.spark, self.ctx.ops
        for _ in range(n):
            lo, hi, want = self.model.count_range()
            try:
                with self.ctx.tracer.span("txn.count_where"):
                    got, detail = txn.count_where(spark, self.path, lo, hi, detail=True)
            except Exception:  # noqa: BLE001
                ops.error(f"count_where {lo}..{hi}")
                continue
            ops.check(f"count_where {lo}..{hi}", got == want, f"got {got}, want {want}")
            self._note("txn.count_where_files_scanned", detail["files_scanned"])

    def round(self, lookups: int = LOOKUPS_PER_WRITE, counts: int = COUNTS_PER_WRITE) -> None:
        self.write()
        self.lookups(lookups)
        self.counts(counts)
        if self.model.n_writes % len(gen.LakeModel.WRITE_CYCLE) == 0:
            self.maintain()

    def batch_s(self) -> float:
        """Mean over commit kinds of each kind's median commit time."""
        per_kind = [statistics.median(v) for v in self.commit_s.values()]
        return statistics.mean(per_kind) if per_kind else 0.0

    def check_final_state(self) -> None:
        """The whole snapshot equals the model's key -> row state."""
        rows = self.txn.read_table(self.ctx.spark, self.path).collect()
        got = {r["id"]: (r["id"], r["v"], r["amount"], r["op"]) for r in rows}
        self.ctx.ops.check(
            "final state",
            len(rows) == len(got) and got == self.model.rows,
            f"{len(rows)} rows, {len(got)} keys, want {len(self.model.rows)}",
        )


def run(ctx: Context) -> tuple[dict, dict]:
    lake = Lake(ctx)
    lake.create()
    # untimed warm-up: one commit of each kind, light reads, a maintenance
    for _ in gen.LakeModel.WRITE_CYCLE:
        lake.round(lookups=1, counts=1)
    lake.commit_s.clear()
    lake.lookup_s.clear()
    lake.layer.clear()
    lake.space_amp.clear()

    traced = ctx.tracer.enabled
    ctx.tracer.enabled = False
    kinds = len(gen.LakeModel.WRITE_CYCLE)
    for _ in range(rounds(ctx.seconds / 2 if traced else ctx.seconds, ROUND_S, kinds)):
        lake.round()
    e2e = {
        "batch_s": lake.batch_s(),
        "read_s": statistics.median(lake.lookup_s) if lake.lookup_s else 0.0,
    }
    layer: dict[str, float] = {}
    if traced:
        ctx.tracer.enabled = True
        lake.commit_s.clear()
        for _ in range(rounds(ctx.seconds / 2, ROUND_S, kinds)):
            lake.round()
        traced_batch = lake.batch_s()
        # top up so the p90 has at least ten samples beyond it
        lake.lookups(max(0, TRACED_MIN_LOOKUPS - len(lake.lookup_s)))
        layer = _layer_metrics(ctx, lake)
        layer["trace.overhead_frac"] = traced_batch / e2e["batch_s"] - 1 if e2e["batch_s"] else 0.0
    lake.check_final_state()
    return e2e, layer


def _layer_metrics(ctx: Context, lake: Lake) -> dict[str, float]:
    txn, spark, tr = lake.txn, ctx.spark, ctx.tracer
    layer = {k: statistics.median(v) for k, v in lake.layer.items()}
    for kind in ("append", "merge", "delete_mor"):
        layer[f"txn.{kind}_s"] = tr.median(f"txn.{kind}")
    # all lookups of the run, untraced ones included: the span adds nothing
    # to a lookup, and the p90 needs at least 100 samples
    layer["txn.point_s"] = statistics.median(lake.lookup_s)
    layer["txn.point_p90_s"] = percentile(lake.lookup_s, 90)
    layer["txn.count_where_s"] = tr.median("txn.count_where")
    layer["txn.maintain_s"] = tr.median("txn.maintain")
    layer["txn.live_files"] = float(txn.table_files(spark, lake.path).count())
    layer["txn.dvs_live"] = float(txn.dv_file_count(lake.path))
    layer["txn.manifests"] = float(
        sum(1 for n in os.listdir(os.path.join(lake.path, "_txn")) if n.endswith(".json"))
    )
    layer["txn.space_amp"] = statistics.median(lake.space_amp) if lake.space_amp else 0.0
    return layer
