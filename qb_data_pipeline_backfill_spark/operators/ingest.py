"""Raw-envelope ingestion core — the reference pipeline's heart.

The reference lands every extracted entity in a uniform *raw envelope*
row: ``(id, payload JSON, ingested_at_utc, extract_window_start_utc,
extract_window_end_utc, page_number, page_size, request_payload)``
(reference: init_qb_schema.sql:3-34, envelope construction at
data_loaders/extract_qb_customers_py.py:69-90, validation at
data_exporters/save_to_raw_customers_py.py:19-44).

Re-expressed here as pure DataFrame transforms so Catalyst fuses the
projection/filter/dedup into the scan stage: at 100 TB the whole
extract→validate path is one narrow pass with no driver involvement;
the only shuffle is the (optional) deterministic dedup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Fixed envelope schema (FIXTURES.md §1) — the DDL the reference keeps
# per entity table (init_qb_schema.sql:4-11).
ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("payload", T.StringType(), False),
        T.StructField("ingested_at_utc", T.TimestampType(), False),
        T.StructField("extract_window_start_utc", T.TimestampType(), True),
        T.StructField("extract_window_end_utc", T.TimestampType(), True),
        T.StructField("page_number", T.IntegerType(), True),
        T.StructField("page_size", T.IntegerType(), True),
        T.StructField("request_payload", T.StringType(), True),
    ]
)


def window_filter(df: DataFrame, date_col: Column, start: str, end: str) -> DataFrame:
    """Inclusive [start, end] backfill-window predicate (op #11).

    Reference filters ISO date strings lexicographically
    (extract_qb_customers_py.py:61-67); `between` on an ISO `yyyy-MM-dd`
    string column has identical semantics and still pushes down.
    """
    return df.filter(date_col.between(F.lit(start), F.lit(end)))


def to_envelope(
    df: DataFrame,
    id_col: str,
    payload_cols: list[str] | None = None,
    *,
    entity_type: str,
    window_start: str,
    window_end: str,
    environment: str = "production",
    page_number_col: Column | None = None,
    ingested_at: Column | None = None,
) -> DataFrame:
    """Project any entity DataFrame into the raw-envelope shape.

    Implements ops #12-#14 and #18-#19 (envelope row construction,
    to_json serialization, timestamp stamping, int/string casts;
    reference: extract_qb_customers_py.py:69-90 and
    save_to_raw_customers_py.py:25-44) as one narrow projection —
    Catalyst keeps it inside the scan stage's WholeStageCodegen span.

    A source that already carries the envelope's ``payload``,
    ``page_number`` or ``page_size`` column (the REST source does) lands
    it as it is. Otherwise the payload is ``to_json`` of
    ``payload_cols`` (default: every column but ``id_col``), the page
    number 1 and the page size 100; ``page_number_col`` overrides the
    page number either way. Both payload producers on the core path
    emit JSON through an encoder (``json.dumps`` in the REST reader,
    ``to_json`` here), so the payload is not re-checked downstream.

    ``ingested_at`` defaults to ``current_timestamp()``; tests pass a
    literal so output is deterministic.
    """

    def own(name: str, default: Column) -> Column:
        return F.col(name) if name in df.columns else default

    cols = payload_cols or [c for c in df.columns if c != id_col]
    request_payload = F.to_json(
        F.struct(
            F.lit(entity_type).alias("entity_type"),
            F.lit(window_start).alias("fecha_inicio"),
            F.lit(window_end).alias("fecha_fin"),
            F.lit(environment).alias("environment"),
        )
    )
    return df.select(
        F.col(id_col).cast("string").alias("id"),
        own("payload", F.to_json(F.struct(*[F.col(c) for c in cols]))).alias(
            "payload"
        ),
        (ingested_at if ingested_at is not None else F.current_timestamp())
        .cast("timestamp")
        .alias("ingested_at_utc"),
        F.to_timestamp(F.lit(window_start)).alias("extract_window_start_utc"),
        F.to_timestamp(F.lit(window_end)).alias("extract_window_end_utc"),
        (
            page_number_col
            if page_number_col is not None
            else own("page_number", F.lit(1))
        )
        .cast("int")
        .alias("page_number"),
        own("page_size", F.lit(100)).cast("int").alias("page_size"),
        request_payload.alias("request_payload"),
    )


def validate_batch(
    df: DataFrame,
    key: str = "id",
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Pre-load validation: drop null keys, dedup to one row per key.

    Reference: ``df[df['id'].notnull()].drop_duplicates(subset=['id'])``
    (save_to_raw_customers_py.py:19-20; ops #15-#17). pandas keeps the
    first row in batch order; a distributed engine has no "batch
    order", so determinism requires an explicit ordering — pass
    ``order_cols`` to pick the winner (min over those columns), else
    an arbitrary-but-single row per key via dropDuplicates.

    The winner is selected with ``min_by(struct(all), struct(order))``
    rather than a ROW_NUMBER window: the aggregate gets a map-side
    partial combine, so the shuffle carries at most one full row
    (payload included) per key per map partition — a window would
    shuffle EVERY duplicate's payload and only then rank. Struct
    ordering is lexicographic over ``order_cols``, identical to
    ``ORDER BY`` for the non-null keys this runs on.
    """
    out = df.filter(F.col(key).isNotNull())
    if not order_cols:
        return out.dropDuplicates([key])
    winner = out.groupBy(key).agg(
        F.min_by(
            F.struct(*[F.col(c) for c in out.columns]),
            F.struct(*[F.col(c) for c in order_cols]),
        ).alias("__w")
    )
    return winner.select("__w.*")
