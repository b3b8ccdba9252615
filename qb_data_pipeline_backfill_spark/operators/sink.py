"""Idempotent sinks — anti-join-then-append into the txn table, and JDBC.

The reference's exporter does check-then-insert: query the target for
already-present ids (an IN-list probe,
save_to_raw_customers_py.py:49-53), drop those rows client-side
(``df[~df['id'].isin(existing_ids)]``, :55), append the rest (:58),
and — a bug we deliberately do NOT replicate — blind-appends the whole
batch on any error (:63-65), risking duplicates. Its probe and insert
also race: two writers can both find an id missing and both insert it.

``write_idempotent`` makes rows visible only through the
manifest-committed table of ``operators/txn.py``:

- Probe: the head snapshot's files are chosen by the manifest's zone
  map on ``partition_col`` (per-file [min, max] recorded at commit —
  the analog of the reference's B-tree index on ``ingested_at_utc``,
  init_qb_schema.sql:36-38), so choosing costs no Spark job and only
  the batch's window is read, however long the table lives. This is
  Delta's dedup recipe: scope the key probe with a date predicate.
- Commit: the rows the probe does not hold (a LEFT ANTI join) are
  staged and published by a compare-and-swap on the probed version. A
  writer that loses the swap re-probes the winner's snapshot, so two
  writers on one window land each key once; a crash before the
  publish leaves nothing visible.

The scope is the window on purpose: a key that arrives again in a
later window lands again there, as the reference's per-window load
does.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from qb_data_pipeline_backfill_spark.operators import txn


def new_rows_only(batch: DataFrame, existing_keys: DataFrame, key: str = "id") -> DataFrame:
    """Rows of ``batch`` whose key is not in ``existing_keys`` (op #21).
    A left-anti join ignores duplicates on its right side, so the keys
    are not deduplicated first (that would only add a shuffle)."""
    return batch.join(existing_keys.select(F.col(key)), key, "left_anti")


def write_idempotent(
    spark: SparkSession,
    batch: DataFrame,
    target_path: str,
    key: str = "id",
    *,
    partition_col: str,
    values: list | None = None,
) -> int:
    """Append the rows of ``batch`` whose ``key`` is not yet landed in
    their ``partition_col`` value(s) to the txn table at
    ``target_path``; returns the number of rows written.

    Implements the reference's idempotent-load contract (ops #20-#23):
    re-running the same batch inserts 0 rows. The first commit creates
    the table with zone maps on ``key`` and ``partition_col``; every
    later commit anti-joins the batch against ``existing_keys_probe``
    and publishes on the version it probed, re-probing through
    ``txn.commit_with_retry`` when another writer published first.
    Two cases skip the anti-join, because no committed key can collide:
    a new table, and a base whose zone map on ``partition_col`` puts no
    file inside the batch's values (a window landing for the first
    time). The manifest answers that on the driver, so such a landing
    plans no probe scan and no join. Its publish is still the
    compare-and-swap on that base, so a writer that lands the window
    first makes the swap fail, and the retry probes the winner's
    files. A replay that inserts nothing publishes no version (see
    ``txn.commit_append``). The target is a POSIX path (the publish is
    an ``os.link``); a directory holding parquet data but no txn log
    is refused.

    ``values`` are the batch's ``partition_col`` values when the caller
    knows them; they must cover every row, or a row outside them lands
    beside its key. ``pipeline._land`` passes its window's date, so a
    window is one Spark action: the probe, the anti-join and the
    staging write, which reads the source once. A writer that loses
    the compare-and-swap then re-runs that action and extracts the
    source again; correctness rests on ``(partition value, key)``, not
    on reading the same rows twice. Without ``values`` the batch is
    persisted and its distinct values collected first (a second
    action), and the anti-join and the staging write run from that
    cache; batches spanning several values (the tests' multi-date
    batches, callers that land an arbitrary frame) need this path. A
    batch the caller already cached is used as is and stays cached.
    """
    if txn.current_version(target_path) < 0:
        _refuse_untracked_parquet(target_path)
        # A new table: nothing to anti-join, and the staging write is
        # the only pass over the source. A writer that loses the
        # creation race lands as on an existing table, below.
        try:
            return _append_new(
                batch,
                lambda df: txn.commit_append_with_stats(
                    spark,
                    df,
                    target_path,
                    key,
                    expected_base=-1,
                    extra_cols=[partition_col],
                ),
            )
        except txn.ConcurrentCommitError:
            pass
    owned = values is None and not batch.is_cached
    if owned:
        batch = batch.persist()
    try:
        if values is None:
            # Bounded collect: a backfill batch spans few partition
            # values (window dates).
            values = [r[0] for r in batch.select(partition_col).distinct().collect()]
            if not values:
                return 0

        bounds = {partition_col: (min(values), max(values))}

        def attempt() -> int:
            base = txn.current_version(target_path)
            rows = batch
            # a window no committed file can hold has no keys to probe
            if txn.pruned_file_count_within(target_path, bounds, base)[0]:
                existing = existing_keys_probe(
                    spark, target_path, key, partition_col, values
                )
                rows = new_rows_only(batch, existing, key)
            return _append_new(
                rows,
                lambda df: txn.commit_append(spark, df, target_path, expected_base=base),
            )

        return txn.commit_with_retry(target_path, attempt)
    finally:
        if owned:
            batch.unpersist()


def existing_keys_probe(
    spark: SparkSession,
    target_path: str,
    key: str,
    partition_col: str,
    values: list,
) -> DataFrame:
    """Key projection of the txn table's head snapshot, restricted to
    ``values`` of ``partition_col``. The files come from the manifest's
    zone map on ``partition_col``, so only the files committed for
    those values are read (verify with ``input_file_name()``)."""
    bounds = {partition_col: (min(values), max(values))}
    existing = txn.read_table_within(spark, target_path, bounds)
    return existing.filter(F.col(partition_col).isin(values)).select(key)


def _refuse_untracked_parquet(path: str) -> None:
    """Raise if ``path``, which has no txn log, holds parquet data — e.g.
    a hive-partitioned target landed by an older version of this sink.
    The probe cannot see those rows, so landing beside them would
    duplicate every key. A txn table's own ``data/`` and ``_staging/``
    (a crash before the first publish) do not count."""
    for root, dirs, files in os.walk(path):
        if root == path:
            dirs[:] = [d for d in dirs if d not in ("data", "_staging", "_txn")]
        if any(f.endswith(".parquet") for f in files):
            raise ValueError(
                f"{path} holds parquet data but no txn log; land into a "
                "new path or convert it to a txn table first"
            )


def _append_new(rows: DataFrame, append: Callable[[DataFrame], None]) -> int:
    """Run ``append`` on ``rows`` and return how many rows it wrote.

    The count rides the append's own action as an observed metric, so
    no separate count job re-reads the input. An empty ``rows`` still
    runs the append; neither sink adds a data file for it.
    """
    obs = Observation()
    append(rows.observe(obs, F.count(F.lit(1)).alias("n")))
    return obs.get["n"]


_IDENTIFIER_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)?$")


def _check_identifier(name: str, what: str) -> str:
    """SQL-identifier allowlist for values interpolated into the JDBC
    probe query (``schema.table`` / column). Raises on anything else —
    these come from pipeline config, but defense-in-depth is free."""
    if not _IDENTIFIER_RE.match(name):
        raise ValueError(f"invalid SQL identifier for {what}: {name!r}")
    return name


def write_jdbc_idempotent(
    spark: SparkSession,
    batch: DataFrame,
    url: str,
    table: str,
    key: str = "id",
    properties: dict[str, str] | None = None,
    _read_existing=None,
    _append=None,
) -> int:
    """JDBC variant of the idempotent append (reference's actual sink:
    Postgres ``raw.*`` via io_config.yaml:84-91); returns rows written.

    The existing-key probe pushes a key-only projection down to the
    database.

    ``_read_existing``/``_append`` are injection seams so the logic is
    unit-testable without a database; by default they run real JDBC.
    ``_append`` must consume its rows in a Spark action: the returned
    count is observed on that action.

    Postgres dialect notes (untestable in this sandbox — no pg JDBC
    jar ships here; semantics are proven against embedded Derby): the
    reference DDL's JSONB columns need ``stringtype=unspecified`` in
    the JDBC url so string-typed JSON binds to jsonb, and Spark maps
    TimestampType to ``timestamp`` (naive); with the session pinned to
    UTC that round-trips correctly against both ``timestamp`` and
    ``timestamptz`` columns.
    """
    _check_identifier(table, "table")
    _check_identifier(key, "key column")
    props = {"driver": "org.postgresql.Driver", **(properties or {})}

    def default_read_existing() -> DataFrame:
        return (
            spark.read.format("jdbc")
            .option("url", url)
            .option("dbtable", f"(SELECT {key} FROM {table}) AS existing_keys")
            .options(**props)
            .load()
        )

    def default_append(df: DataFrame) -> None:
        (
            df.write.format("jdbc")
            .option("url", url)
            .option("dbtable", table)
            .options(**props)
            .mode("append")
            .save()
        )

    existing = (_read_existing or default_read_existing)()
    return _append_new(
        new_rows_only(batch, existing, key), _append or default_append
    )
