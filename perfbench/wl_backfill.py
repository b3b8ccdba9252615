"""backfill_rest: paginated OAuth2 REST extract -> validate/dedup -> idempotent
load, one monthly window at a time, each window then replayed.

A round lands one first-time window (``batch_s``) and replays it
(``read_s``: the replay re-extracts and probes, and must insert 0).
The traced run also replays each layer alone on the same window
inputs, because the REST scan, ingest transforms and sink are lazy
inside ``run_backfill`` and cannot be timed there.
"""

from __future__ import annotations

import shutil
import statistics
import time

from perfbench import gen
from perfbench.common import Context, dir_bytes, rounds

PAGE_SIZE = 100
ROUND_S = 9.0  # one window landed and replayed, warm
# Ten pages per input partition: 20 scan tasks per window instead of 200,
# so per-task Python worker overhead does not swamp the page fetches.
PAGES_PER_PARTITION = 10
AS_OF = "2025-01-01 00:00:00"


class Backfill:
    def __init__(self, ctx: Context):
        from pyspark.sql import functions as F

        from qb_data_pipeline_backfill_spark.sources import stub_qbo

        self.ctx = ctx
        self.F = F
        self.inputs = gen.BackfillInputs(ctx.seed)
        parquet = ctx.path("customer.parquet")
        self.inputs.write_parquet(parquet)
        self.stub = stub_qbo.StubQboServer(parquet)
        self.opts = dict(
            base_url=self.stub.base_url,
            client_id=stub_qbo.STUB_CLIENT_ID,
            client_secret=stub_qbo.STUB_CLIENT_SECRET,
            refresh_token=stub_qbo.STUB_REFRESH_TOKEN,
            page_size=str(PAGE_SIZE),
            pages_per_partition=str(PAGES_PER_PARTITION),
            page_pause_s="0",
        )
        self.needed_pages = -(-len(self.inputs.records) // PAGE_SIZE)
        self.target = ctx.path("raw_customers")
        self.layer: dict[str, list[float]] = {}

    def close(self) -> None:
        self.stub.close()

    # --- stub counters (public attributes of the stub) --------------------
    def _counters(self) -> tuple[int, int, int]:
        s = self.stub
        return s.n_page_requests, s.n_token_requests, s.n_429_sent

    def _throttle_next_page(self) -> None:
        """Answer the next page request with one 429 (Retry-After: 0), so
        every window exercises the source's retry path."""
        self.stub.fail_first_n = self.stub.n_429_sent + 1

    def _note(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(value)

    # --- program calls ----------------------------------------------------
    def _source(self):
        from qb_data_pipeline_backfill_spark.sources.rest import read_qbo

        return read_qbo(self.ctx.spark, **self.opts)

    def _date_col(self):
        return self.F.get_json_object("payload", "$.Segment")

    def run_window(self, window: tuple[str, str], target: str) -> dict[str, int]:
        from qb_data_pipeline_backfill_spark.pipeline import run_backfill

        F = self.F
        return run_backfill(
            self.ctx.spark,
            self._source(),
            target,
            id_col="id",
            date_col=self._date_col(),
            window_start=window[0],
            window_end=window[1],
            entity_type="customers",
            payload_cols=["payload"],
            order_cols=["payload"],
            ingested_at=F.to_timestamp(F.lit(AS_OF)),
            page_number_col=F.col("page_number"),
        )

    def window_op(self, window, replay: bool) -> float | None:
        """One timed ``run_backfill`` call, checked against the model;
        returns its wall time, or None when it raised."""
        ops = self.ctx.ops
        kind = "replay" if replay else "land"
        self._throttle_next_page()
        c0 = self._counters()
        try:
            with self.ctx.tracer.span("pipeline.window"):
                t0 = time.perf_counter()
                got = self.run_window(window, self.target)
                took = time.perf_counter() - t0
        except Exception:  # noqa: BLE001 - a failed window is counted, not fatal
            ops.error(f"{kind} {window}")
            return None
        c1 = self._counters()
        want = dict(self.inputs.expected(window))
        if replay:
            want["inserted"] = 0
        ops.check(f"{kind} {window}", got == want, f"got {got}, want {want}")
        pages, tokens, throttled = (b - a for a, b in zip(c0, c1))
        suffix = "_replay" if replay else ""
        self._note("rest.page_requests" + suffix, pages - throttled)
        self._note("rest.token_requests" + suffix, tokens)
        self._note("rest.retries_429" + suffix, throttled)
        self._note(
            "rest.pages_per_needed_page" + suffix,
            (pages - throttled) / self.needed_pages,
        )
        return took

    # --- isolated layer replays (traced run only) -------------------------
    def snapshot(self, name: str) -> str:
        """Copy of the target as it stands now, for an isolated sink write
        that must see the same existing keys as the pipeline call."""
        copy = self.ctx.path(name)
        shutil.rmtree(copy, ignore_errors=True)
        shutil.copytree(self.target, copy)
        return copy

    def layers_alone(self, window, replay: bool, copy: str) -> None:
        """Time the REST scan, ingest transforms and sink write one at a
        time on this window's inputs. The sink writes into ``copy``, a
        snapshot of the target taken just before the pipeline call, so it
        does the same probe and inserts the same rows."""
        from qb_data_pipeline_backfill_spark.operators.ingest import (
            to_envelope,
            validate_batch,
            window_filter,
        )
        from qb_data_pipeline_backfill_spark.operators.sink import (
            existing_keys_probe,
            write_idempotent,
        )

        F, tr, spark = self.F, self.ctx.tracer, self.ctx.spark
        suffix = "_replay" if replay else ""
        with tr.span("rest.scan"):
            self._source().write.format("noop").mode("overwrite").save()
        extract = self._source().cache()
        extract.count()
        windowed = window_filter(extract, self._date_col(), *window)
        env = to_envelope(
            validate_batch(windowed, key="id", order_cols=["payload"]),
            id_col="id",
            payload_cols=["payload"],
            entity_type="customers",
            window_start=window[0],
            window_end=window[1],
            ingested_at=F.to_timestamp(F.lit(AS_OF)),
            page_number_col=F.col("page_number"),
        )
        with tr.span("ingest.transform"):
            env.write.format("noop").mode("overwrite").save()
        rows_in = windowed.count()
        batch = env.withColumn(
            "window_date", F.to_date("extract_window_start_utc")
        ).cache()
        rows_out = batch.count()
        self._note("ingest.rows_in", rows_in)
        self._note("ingest.rows_out", rows_out)
        self._note("ingest.dup_drop_frac", 1 - rows_out / rows_in if rows_in else 0.0)

        values = [r[0] for r in batch.select("window_date").distinct().collect()]
        probe = existing_keys_probe(spark, copy, "id", "window_date", values)
        probe_files = probe.select(F.input_file_name()).distinct().count()
        before = dir_bytes(copy)
        with tr.span("sink.write"):
            written = write_idempotent(
                spark, batch, copy, key="id", partition_col="window_date"
            )
        self._note("sink.probe_files" + suffix, probe_files)
        self._note("sink.rows_written" + suffix, written)
        self._note("sink.insert_frac" + suffix, written / rows_out if rows_out else 0.0)
        self._note("sink.bytes_written" + suffix, dir_bytes(copy) - before)
        batch.unpersist()
        extract.unpersist()
        shutil.rmtree(copy, ignore_errors=True)


def run(ctx: Context) -> tuple[dict, dict]:
    bf = Backfill(ctx)
    try:
        return _run(ctx, bf)
    finally:
        bf.close()


def _run(ctx: Context, bf: Backfill) -> tuple[dict, dict]:
    windows = bf.inputs.windows
    # Untimed warm-up: the first-ever window (no target yet, so no probe).
    bf.window_op(windows[0], replay=False)
    bf.layer.clear()

    todo = iter(windows[1:])
    land: list[float | None] = []
    replay: list[float | None] = []
    # A traced run spends the first half of its budget untraced, so the
    # tracing overhead is measured within the run.
    traced = ctx.tracer.enabled
    ctx.tracer.enabled = False
    n = rounds(ctx.seconds / 2 if traced else ctx.seconds, ROUND_S)
    for _, w in zip(range(n), todo):
        land.append(bf.window_op(w, replay=False))
        replay.append(bf.window_op(w, replay=True))
    e2e = {"batch_s": _median(land), "read_s": _median(replay)}
    if not traced:
        return e2e, {}

    ctx.tracer.enabled = True
    for _, w in zip(range(rounds(ctx.seconds / 2, ROUND_S)), todo):
        before_land = bf.snapshot("before_land")
        bf.window_op(w, replay=False)
        before_replay = bf.snapshot("before_replay")
        bf.window_op(w, replay=True)
        # layers alone after the pipeline calls, so their caches and
        # writes cannot slow the traced calls
        bf.layers_alone(w, replay=False, copy=before_land)
        bf.layers_alone(w, replay=True, copy=before_replay)
    tr = ctx.tracer
    layer = {k: _median(v) for k, v in bf.layer.items()}
    windows_s = tr.durations("pipeline.window")
    layer["pipeline.window_s"] = _median(windows_s[0::2])
    layer["pipeline.replay_s"] = _median(windows_s[1::2])
    layer["rest.scan_s"] = tr.median("rest.scan")
    layer["ingest.transform_s"] = tr.median("ingest.transform")
    sink = tr.durations("sink.write")
    layer["sink.write_s"] = _median(sink[0::2])
    layer["sink.write_replay_s"] = _median(sink[1::2])
    layer["pipeline.self_s"] = layer["pipeline.window_s"] - (
        layer["rest.scan_s"] + layer["ingest.transform_s"] + layer["sink.write_s"]
    )
    layer["trace.overhead_frac"] = (
        layer["pipeline.window_s"] / e2e["batch_s"] - 1 if e2e["batch_s"] else 0.0
    )
    return e2e, layer


def _median(v: list) -> float:
    v = [x for x in v if x is not None]
    return statistics.median(v) if v else 0.0
