"""verify_queries: the reference's verification-query surface.

The 23 plans of the repository's round-1 query subset (counts, distinct
counts, group-by-having, union-all, filtered aggregates, windows,
semi/anti joins), each with a registered DuckDB oracle, over seeded
tables with the schema of the repository's synthetic test tables. A round is one
pass over the queries in a fixed order; ``batch_s`` is the pass time
and ``read_s`` the geometric mean of the single-query times (a median
would jump between two queries whose times sit either side of it). The run times one pass,
the first of its session: a verification job runs each query once in
a fresh session, so it pays plan compilation and code generation
every time. Every result is hash-matched against its oracle, whose
digests are computed before the timed region. REST and the txn layer
are bypassed.
"""

from __future__ import annotations

import statistics
import time

from perfbench import gen
from perfbench.common import Context

# Frozen copy of the repository's round-1 query subset, so the
# benchmark's query set does not drift as the registry grows.
QUERIES = (
    "pricing_summary", "top_revenue_orders", "region_nation_rollup",
    "pivot_status_by_priority", "topk_orders_per_customer",
    "running_total_per_customer", "tumbling_window_events",
    "session_windows_events", "envelope_projection",
    "ingest_validate_dedup", "upper_median_by_segment",
    "volumetry_unionall", "integrity_report", "dup_detection_having",
    "filtered_aggregates", "minmax_dates", "date_window_filter",
    "coalesce_filter_key", "json_extract_props", "isin_predicate",
    "semi_join_probe", "anti_join_idempotence", "validate_dedup_first_wins",
)
SCALE = 0.005


def run(ctx: Context) -> tuple[dict, dict]:
    from qb_data_pipeline_backfill_spark import plans
    from qb_data_pipeline_backfill_spark.oracle import duckdb_connection, table_digest

    data = ctx.path("tables")
    gen.write_verify_tables(ctx.seed, data, sf=SCALE)
    # The seed varies the tables, not the query order: in a fresh
    # session the first queries pay most of the JIT warm-up, so a
    # shuffled order would move that cost between queries from run to run.
    order = list(QUERIES)
    con = duckdb_connection(data)
    want = {}
    for name in order:
        res = con.execute(plans.REGISTRY[name].oracle)
        want[name] = table_digest([d[0] for d in res.description], res.fetchall())
    con.close()

    per_query: dict[str, list[float]] = {q: [] for q in order}
    passes: list[float] = []

    def one_pass() -> None:
        total = 0.0
        for name in order:
            try:
                with ctx.tracer.span(f"verify.{name}"):
                    t0 = time.perf_counter()
                    df = plans.REGISTRY[name].spark(ctx.spark, data)
                    rows = [tuple(r) for r in df.collect()]
                    took = time.perf_counter() - t0
            except Exception:  # noqa: BLE001 - a failed query is counted, not fatal
                ctx.ops.error(f"query {name}")
                continue
            got = table_digest(list(df.columns), rows)
            ctx.ops.check(f"query {name}", got == want[name], f"got {got}, want {want[name]}")
            total += took
            per_query[name].append(took)
        passes.append(total)

    # One timed pass: later passes in the same session would be warm, which
    # a verification job never is. A traced run traces this pass.
    one_pass()
    e2e = {
        "batch_s": passes[0],
        "read_s": statistics.geometric_mean(v[0] for v in per_query.values() if v),
    }
    tr = ctx.tracer
    if not tr.enabled:
        return e2e, {}
    layer = {f"verify.{q}_s": tr.durations(f"verify.{q}")[0] for q in order}
    # tracing overhead: one warm pass untraced, then the same pass traced
    tr.enabled = False
    one_pass()
    tr.enabled = True
    one_pass()
    layer["trace.overhead_frac"] = passes[2] / passes[1] - 1
    return e2e, layer
