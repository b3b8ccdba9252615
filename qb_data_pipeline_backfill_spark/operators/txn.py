"""Minimal transactional table on plain parquet: manifest-committed
snapshots with atomic append, optimistic concurrency, and time travel.

The reference's sink is check-then-insert against Postgres
(reference `data_exporters/save_to_raw_customers_py.py:49-65`), whose
crash window can double-insert and whose probe races a second writer.
The engine's backfill sink (operators/sink.py) lands every window
through this module, which closes both gaps with the core of what
Delta/Iceberg provide — a MANIFEST as the single source of truth:

- A snapshot is a JSON manifest ``_txn/v{N}.json`` listing exactly the
  data files of version N. Readers list NOTHING: they read the latest
  manifest and scan precisely those files — a half-written file that
  no manifest references does not exist.
- Writers stage new files under ``data/`` via a unique staging write,
  then publish by creating the next manifest with ``os.link`` (fails
  if the version already exists → optimistic-concurrency conflict,
  the loser retries on the new base). The publish is one atomic
  filesystem operation; a crash before it leaves only invisible
  orphans (``vacuum`` reclaims them).
- ``read_version`` pins any historical snapshot (time travel), since
  manifests are immutable and data files are never rewritten.
- One scan: ``_scan_files`` is the only Spark reader over data files
  (snapshot, pruned, point, copy-on-write, touch, delete-probe and
  diff reads), and ``_to_logical`` the only physical-to-logical
  projection. Every Spark read here names its schema — the manifest's,
  the DV key's, or the staged frame's — so none pays an inference job.

Commit kinds: ``commit_append`` (optionally keyed-idempotent),
``commit_append_with_stats`` (records per-file key zone maps from the
parquet footers), ``commit_merge`` (three-clause MERGE INTO:
matched-update / matched-delete / not-matched-insert, the CDC-apply
primitive), ``commit_upsert`` (the default-clause MERGE) and
``commit_delete`` (right-to-be-forgotten) — all three one
copy-on-write core that picks its touched files from the manifest:
on a table zone-mapped on the key only files whose key interval
holds a source key are rewritten and the rest move forward by
reference, otherwise every file is rewritten —
``commit_replace_where`` (INSERT OVERWRITE ... WHERE, the
idempotent-backfill slice swap), ``commit_compact_files``
(replace-files rewrite of the named files, default every file),
plus ``stream_to_txn`` (exactly-once foreachBatch sink),
``read_table_where`` / ``read_table_within`` (manifest-driven file
skipping on one or several zone-mapped columns),
``clone_table`` (zero-copy shallow clone via hard links), and
table-level CHECK ``expectations`` stored in the manifest and
enforced on every incoming batch before staging. Log hygiene:
``checkpoint``/``expire_manifests`` cap the manifest population of a
long-lived table (the Delta checkpoint / Iceberg snapshot-expiry
analog), and ``vacuum`` takes a retention window so it can never
delete a concurrent in-flight writer's staged-but-unpublished files. On a real
deployment the manifest store is the object store itself (S3
conditional PUT) or a log service — the protocol is unchanged. This
is deliberately the minimal core, not a table format: additive schema
evolution works (the latest manifest's schema governs; older files
surface NULL for added columns — pytest-proven), and renames/drops are
metadata-only commits through column mapping
(``alter_rename_column`` / ``alter_drop_column``: the manifest maps
logical to stable physical names, so no data file is ever rewritten
and time travel shows each version's own schema). Deletes come in both industry shapes: copy-on-write
(``commit_delete``) and merge-on-read (``commit_delete_mor``,
file-scoped deletion vectors applied as a broadcast anti-join at read
and materialized away by compaction). Point lookups on unclustered
columns prune through a per-file Bloom index
(``commit_append_with_bloom`` / ``read_table_point``).
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import hashlib
import json
import os
import re
import shutil
import time
import uuid
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession


class ConcurrentCommitError(RuntimeError):
    """Another writer published this version first; re-read and retry."""


class ExpectationViolation(ValueError):
    """An incoming batch broke the table's CHECK-constraint contract;
    nothing was committed. ``counts`` maps expectation name to the
    number of violating rows."""

    def __init__(self, counts: dict[str, int]):
        self.counts = counts
        super().__init__(
            "expectation(s) violated: "
            + ", ".join(f"{k} ({v} rows)" for k, v in sorted(counts.items()))
        )


def enforce_expectations(df: DataFrame, exprs: dict[str, str]) -> None:
    """Validate ``df`` against named SQL CHECK predicates (the Delta
    table-constraint / dbt-test analog) in ONE aggregate pass — a
    null predicate result counts as a violation, matching SQL CHECK's
    'not known true' rejection. Raises ExpectationViolation listing
    per-expectation violating-row counts; commits call this BEFORE
    staging so a bad batch leaves no trace."""
    if not exprs:
        return
    from pyspark.sql import functions as FF

    row = df.agg(
        *[
            FF.sum(
                FF.when(
                    FF.coalesce(FF.expr(sql).cast("boolean"), FF.lit(False)),
                    0,
                ).otherwise(1)
            ).alias(name)
            for name, sql in exprs.items()
        ]
    ).collect()[0]
    bad = {name: row[name] for name in exprs if (row[name] or 0) > 0}
    if bad:
        raise ExpectationViolation(bad)


# Expectation name reserved for commit_replace_where's slice-containment
# check; declaring a table expectation under it is rejected so it can
# never shadow (or be shadowed by) the containment predicate.
_RESERVED_EXPECTATION = "replace_where_predicate"


def _carry_meta(prev: dict) -> dict:
    """Table-level contract keys every rewrite commit must propagate
    (the zone-map analog of ADVICE r4: rewrites silently dropping
    manifest metadata downgrade the table)."""
    return {
        k: prev[k]
        for k in (
            "expectations",
            "column_map",
            "dropped_physical",
            # the CDC-apply watermark must survive maintenance commits
            # (a compaction dropping it would reopen the replay window)
            "cdc_applied_version",
            # the change-feed opt-in is a table property, not a
            # per-commit choice — rewrites must not silently drop it
            "change_feed",
            # per-application transaction watermarks (idempotent
            # writes): a rewrite dropping them would let a replayed
            # producer batch double-apply
            "app_versions",
            # the SCD2 apply watermark (apply_changes_scd2 batch_id):
            # a maintenance commit dropping it would make the next
            # foreachBatch retry of the SAME batch trip the
            # out-of-order guard and crash-loop the stream
            "scd2_last_batch",
        )
        if k in prev
    }


# --- column mapping (rename / drop without rewriting data) ----------------
# The manifest stores the LOGICAL schema in ``schema_ddl`` plus a
# ``column_map`` {logical: physical} for renamed columns (identity
# entries are omitted). Data, DV, and CDC parquet files always carry
# PHYSICAL names — the name a column had when first written — which
# never change, so a rename or drop is a metadata-only commit and every
# historical file stays readable. All manifest-internal column
# references (stats_col, stats_cols, bloom_spec.col, dv_key) are
# physical; public APIs take logical names and translate at the edge.
# ``dropped_physical`` tombstones removed columns: their bytes remain
# in old files (and in time travel), but the logical schema hides them,
# and re-introducing a column under a dropped or mapped physical name
# is rejected (without field-ID indirection, reusing the name would
# resurrect the old bytes).


def _col_map(man: dict) -> dict:
    return man.get("column_map") or {}


def _phys(man: dict, logical: str) -> str:
    return _col_map(man).get(logical, logical)


def _logical_of(man: dict, physical: str | None) -> str | None:
    """Inverse of ``_phys`` (physical names are unique by construction)."""
    if physical is None:
        return None
    for lg, ph in _col_map(man).items():
        if ph == physical:
            return lg
    return physical


def _logical_fields(man: dict) -> list[tuple[str, str]]:
    return [
        (f.split(" ")[0], f.split(" ", 1)[1])
        for f in man["schema_ddl"].split(", ")
    ]


def _physical_ddl(man: dict) -> str:
    cmap = _col_map(man)
    return ", ".join(
        f"{cmap.get(n, n)} {t}" for n, t in _logical_fields(man)
    )


def _to_logical(df: DataFrame, man: dict, keep=()) -> DataFrame:
    """Physical-named scan → ``man``'s logical columns, then the
    ``keep`` columns as they are — the one physical-to-logical
    projection. A logical column whose physical name ``df`` lacks (the
    scanned files predate it) surfaces as a typed NULL."""
    from pyspark.sql import functions as FF

    have = set(df.columns)
    return df.select(
        *[
            FF.col(p).alias(n) if (p := _phys(man, n)) in have
            else FF.lit(None).cast(t).alias(n)
            for n, t in _logical_fields(man)
        ],
        *keep,
    )


def _to_physical_df(df: DataFrame, cmap: dict) -> DataFrame:
    """Logical-named batch → physical names for staging."""
    if not cmap:
        return df
    from pyspark.sql import functions as FF

    return df.select(
        *[FF.col(f.name).alias(cmap.get(f.name, f.name)) for f in df.schema]
    )


def _guard_new_columns(schema_names, prev: dict) -> None:
    """Reject batches whose NEW columns collide with a dropped or
    renamed column's physical name — without Delta/Iceberg field-ID
    indirection, writing under such a name would resurrect (or alias
    into) the old column's bytes in historical files."""
    if not prev:
        return
    logical = (
        {n for n, _ in _logical_fields(prev)} if "schema_ddl" in prev else set()
    )
    dropped = set(prev.get("dropped_physical", []))
    mapped_phys = set(_col_map(prev).values())
    for n in schema_names:
        if n in logical or n in _col_map(prev):
            continue
        if n in dropped:
            raise ValueError(
                f"column {n!r} was dropped from this table; re-introducing "
                "it under the same name would resurrect the old bytes in "
                "historical files — use a new column name"
            )
        if n in mapped_phys:
            raise ValueError(
                f"column {n!r} is the physical name of a renamed column; "
                "writing a new column under it would collide in the data "
                "files — use a different name"
            )


def _parquet_num_rows(file_path: str) -> int:
    """Row count from the parquet footer (metadata-only read)."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(file_path).metadata.num_rows


def _txn_dir(path: str) -> str:
    return os.path.join(path, "_txn")


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(_txn_dir(path), f"v{version:06d}.json")


def _manifest_versions(path: str) -> list[int]:
    """Sorted versions whose manifest file still exists (early versions
    may have been retired by ``expire_manifests``)."""
    d = _txn_dir(path)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(name[1:-5])
        for name in os.listdir(d)
        if name.startswith("v") and name.endswith(".json")
    )


def current_version(path: str) -> int:
    """Latest committed version, or -1 for an empty/uninitialized table."""
    return max(_manifest_versions(path), default=-1)


def _read_manifest(path: str, version: int) -> dict:
    try:
        with open(_manifest_path(path, version)) as f:
            man = json.load(f)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"no manifest for version {version} under {path}: either it was "
            "never committed or it was retired by expire_manifests() — time "
            "travel only reaches versions at or after the last checkpoint"
        ) from None
    col_stats = {
        name: {
            col: [_stat_from_json(v) for v in pair]
            for col, pair in per_file.items()
        }
        for name, per_file in man.get("col_stats", {}).items()
    }
    # legacy manifests kept the key's zone map apart, in "stats"; fold
    # it in under the key's column, so any later publish of this
    # manifest writes the one-store shape
    for name, pair in man.pop("stats", {}).items():
        col_stats.setdefault(name, {})[man["stats_col"]] = [
            _stat_from_json(v) for v in pair
        ]
    if col_stats:
        man["col_stats"] = col_stats
    return man


# --- zone-map stat (de)serialization ------------------------------------
# Parquet footer min/max come back as Python date/datetime/Decimal for
# DATE/TIMESTAMP/DECIMAL keys; json.dump can't take those. Stats round-
# trip through a small type tag so read_table_where/commit_merge
# compare the SAME Python types the caller's bounds have.


def _stat_to_json(v):
    if isinstance(v, _dt.datetime):  # must precede date (subclass)
        return {"t": "ts", "v": v.isoformat()}
    if isinstance(v, _dt.date):
        return {"t": "date", "v": v.isoformat()}
    if isinstance(v, Decimal):
        return {"t": "dec", "v": str(v)}
    if isinstance(v, bytes):
        import base64

        return {"t": "b64", "v": base64.b64encode(v).decode("ascii")}
    return v


def _stat_from_json(v):
    if isinstance(v, dict):
        kind, raw = v["t"], v["v"]
        if kind == "ts":
            return _dt.datetime.fromisoformat(raw)
        if kind == "date":
            return _dt.date.fromisoformat(raw)
        if kind == "dec":
            return Decimal(raw)
        if kind == "b64":
            import base64

            return base64.b64decode(raw)
    return v


def _write_manifest_json(manifest: dict, tmp: str) -> None:
    enc = dict(manifest)
    if "col_stats" in enc:
        enc["col_stats"] = {
            name: {
                col: [_stat_to_json(v) for v in pair]
                for col, pair in per_file.items()
            }
            for name, per_file in enc["col_stats"].items()
        }
    with open(tmp, "w") as f:
        json.dump(enc, f)


def _publish(path: str, manifest: dict, base: int, op: str | None) -> int:
    """Publish ``manifest`` as version base+1 — the one compare-and-swap
    every commit kind goes through. The manifest is written to a temp
    file and hard-linked into place: ``os.link`` fails if the version
    already exists, so exactly one writer wins and a loser gets
    ``ConcurrentCommitError`` (it re-reads and retries on the new
    base). Stamps ``version``, ``parent`` and ``committed_at``, and the
    commit's ``operation`` label (see ``table_history``); a label a
    caller's whole-manifest spread dragged in is dropped first —
    provenance is per-commit, never inherited. A new table publishes
    with ``base`` -1."""
    manifest.pop("operation", None)
    manifest.update(version=base + 1, parent=base, committed_at=time.time())
    if op is not None:
        manifest["operation"] = op
    os.makedirs(_txn_dir(path), exist_ok=True)
    tmp = os.path.join(_txn_dir(path), f".tmp-{uuid.uuid4().hex}.json")
    _write_manifest_json(manifest, tmp)
    try:
        os.link(tmp, _manifest_path(path, base + 1))
    except FileExistsError as e:
        raise ConcurrentCommitError(
            f"version {base + 1} already committed under {path}"
        ) from e
    finally:
        os.unlink(tmp)
    return base + 1


@contextlib.contextmanager
def _staging(path: str, name: str):
    """A commit's private staging directory ``_staging/<name>``, removed
    when its publish attempt ends, published or not. Staged files reach
    ``data/`` as hard links, so the removal frees nothing a manifest
    references; only a crashed writer's directory is left to
    ``vacuum``."""
    stage_dir = os.path.join(path, "_staging", name)
    try:
        yield stage_dir
    finally:
        shutil.rmtree(stage_dir, ignore_errors=True)


def _input_file_name():
    """The data file a scanned row came from, as the manifest names it
    — the one definition of "file" that deletion-vector rows, the
    Bloom index and replace-where's touch scan share. Valid only on a
    direct parquet scan."""
    from pyspark.sql import functions as FF

    return FF.element_at(FF.split(FF.input_file_name(), "/"), -1)


def _apply_dvs(
    spark: SparkSession,
    path: str,
    man: dict,
    df: DataFrame,
    keep_file: bool = False,
) -> DataFrame:
    """Filter out rows covered by the manifest's deletion vectors — the
    only reader of DV files.

    A DV row is (file_name, key): it suppresses that key ONLY inside
    that named data file, so a later re-append or upsert of the same
    key (which lands in a NEW file) is never shadowed. ``df`` must be
    a direct parquet scan of the manifest's files under physical names
    — the file identity comes from ``_input_file_name``. With
    ``keep_file`` the visible rows keep that identity in a
    ``__dv_file`` column (DVs or not). DV files read under a fixed
    schema, ``file_name`` plus the key's physical column, so no read
    infers one. DV sets are delete batches, so
    the anti-join broadcasts them and the table side never shuffles; a
    table whose DVs have grown large should compact (which
    materializes the deletes and clears the vectors)."""
    dvs = man.get("dvs")
    if not dvs and not keep_file:
        return df
    from pyspark.sql import functions as FF

    tagged = df.withColumn("__dv_file", _input_file_name())
    if dvs:
        key = man["dv_key"]
        # the key's type is the snapshot's, as for the data files — DV
        # files written before a widening still read under it
        ktype = next(t for n, t in _logical_fields(man) if _phys(man, n) == key)
        dv = spark.read.schema(f"file_name string, {key} {ktype}").parquet(
            *[os.path.join(path, "data", n) for n in dvs]
        )
        dvr = dv.select(FF.col("file_name").alias("__dv_file"), FF.col(key))
        # a left-anti join ignores duplicate DV rows: no dedup needed
        tagged = tagged.join(FF.broadcast(dvr), ["__dv_file", key], "left_anti")
    return tagged if keep_file else tagged.drop("__dv_file")


def read_version(spark: SparkSession, path: str, version: int) -> DataFrame:
    """Snapshot read of one committed version (time travel), with any
    deletion vectors of that version applied. Files are scanned under
    their physical column names and surfaced under the version's
    LOGICAL schema — so time travel across a rename shows each
    version's own names (Delta column-mapping semantics)."""
    man = _read_manifest(path, version)
    return _scan_files(spark, path, man, man["files"])


def _scan_files(
    spark: SparkSession,
    path: str,
    man: dict,
    names: list[str],
    under: dict | None = None,
    keep_file: bool = False,
) -> DataFrame:
    """The named data files of ``man`` — the only Spark reader over a
    table's data files. Every snapshot, pruned, point, copy-on-write,
    touch and delete-probe scan, and every metadata reader's
    DV-referenced files, go through it: the files scan under ``man``'s
    physical schema, ``man``'s deletion vectors apply, and the rows
    surface under ``under``'s logical schema (default ``man``; another
    version's manifest is how a diff reads one snapshot under the
    other's names). ``keep_file`` keeps each row's file name in a
    ``__dv_file`` column. No files is a relation Spark can see is empty
    (``limit(0)``), so a join against it is planned away instead of
    run."""
    under = under or man
    extra = ["__dv_file"] if keep_file else []
    if not names:
        ddl = under["schema_ddl"] + "".join(f", {c} string" for c in extra)
        return spark.createDataFrame([], ddl).limit(0)
    df = spark.read.schema(_physical_ddl(man)).parquet(
        *[os.path.join(path, "data", n) for n in names]
    )
    return _to_logical(_apply_dvs(spark, path, man, df, keep_file), under, extra)


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Snapshot read of the latest committed version. Concurrent
    writers never affect this scan: the file list is pinned by the
    manifest at call time."""
    v = current_version(path)
    if v < 0:
        raise FileNotFoundError(f"no committed version under {path}")
    return read_version(spark, path, v)


def _union_schema_ddl(prev: dict, schema) -> str:
    """The table's logical schema after an append: the existing
    columns in their recorded order and types — a batch may omit any
    of them; its files surface NULL there — followed by the batch's
    genuinely-new columns (additive evolution). A batch that RETYPES
    an existing column is rejected: old files would scan under a
    conflicting reader schema."""
    have = {f.name: f.dataType.simpleString() for f in schema}
    if not prev or "schema_ddl" not in prev:
        return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema)
    fields: list[tuple[str, str]] = []
    seen: set[str] = set()
    for n, t in _logical_fields(prev):
        # a batch NARROWER than the table is fine: its files stay
        # narrow on disk and the scan upcasts them (type widening) —
        # only a batch the logical schema cannot hold losslessly is a
        # retype and rejected
        if n in have and have[n] != t and not _is_safe_widening(have[n], t):
            raise ValueError(
                f"append batch retypes column {n!r} to {have[n]} but the "
                f"table records {t}; column types cannot change at "
                "append time (additive evolution only) — to widen the "
                "table's type, call widen_column_type first"
            )
        fields.append((n, t))
        seen.add(n)
    for f in schema:
        if f.name not in seen:
            fields.append((f.name, f.dataType.simpleString()))
    return ", ".join(f"{n} {t}" for n, t in fields)


def commit_append(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    key: str | None = None,
    expected_base: int | None = None,
    checkpoint_every: int | None = None,
    expectations: dict[str, str] | None = None,
    change_feed: bool | None = None,
    txn_app: str | None = None,
    txn_version: int | None = None,
) -> int:
    """Atomically append ``df`` as the next version; returns it.

    ``txn_app``/``txn_version`` make BLIND appends idempotent (Delta's
    ``txn.appId``/``txn.version`` write options): the manifest records
    each application's high-water transaction version, and a commit
    whose (app, version) is already at-or-below the recorded watermark
    returns the current head WITHOUT writing — the exactly-once
    contract for a keyless producer (e.g. a foreachBatch streaming
    sink passing its batchId) replaying after a crash. Watermarks are
    per-app, so independent producers never fence each other, and
    every rewrite/maintenance commit carries them forward
    (``_carry_meta``). Keyed appends (``key=``) get idempotence from
    the anti-join instead; the two compose.

    ``change_feed=True`` sets the table's change-feed property (the
    Delta ``delta.enableChangeDataFeed`` analog) from this version on:
    rewrite commits (upsert/merge/delete/replaceWhere) record their
    net change rows at commit time only when the property is set —
    tables nobody tails must not pay the pre-image join on every
    rewrite. Any other value inherits the current setting (the
    off-switch is ``disable_change_feed`` — a metadata-only commit,
    matching Delta's ALTER-only property semantics). Appends
    themselves are always feed-readable
    (the new files ARE the inserted rows — zero extra bytes), so
    enabling the feed late loses no append history.

    With ``key``, rows whose key already exists in the current
    snapshot are dropped first (the idempotence contract of
    operators/sink.py, now with snapshot isolation: the anti-join
    probe and the publish see the same version, and a replayed batch
    that lost the publish race retries against the winner's rows).

    ``expected_base`` pins the snapshot this commit was validated
    against (compare-and-swap semantics): if any other version has
    been committed since, the publish fails instead of silently
    basing on state the caller never saw.

    With ``checkpoint_every=K``, every K-th published version also
    advances the checkpoint floor (see ``checkpoint``) so long-lived
    append streams can cap their manifest population with periodic
    ``expire_manifests`` + ``vacuum``.

    Raises ConcurrentCommitError if another writer publishes the same
    version first; staged files stay invisible either way.
    """
    if (txn_app is None) != (txn_version is None):
        raise ValueError("txn_app and txn_version must be passed together")
    base = current_version(path) if expected_base is None else expected_base
    v = _append(
        spark,
        df,
        path,
        base,
        key,
        expectations=expectations,
        change_feed=change_feed,
        txn_app=txn_app,
        txn_version=txn_version,
    )
    if checkpoint_every is not None and v % checkpoint_every == 0:
        checkpoint(path)
    return v


def _append(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    base: int,
    key: str | None,
    *,
    expectations: dict[str, str] | None = None,
    change_feed: bool | None = None,
    txn_app: str | None = None,
    txn_version: int | None = None,
    key_zone_map: bool = False,
    stats_cols: list[str] | None = None,
    bloom_spec: dict | None = None,
) -> int:
    """The one keyed-append body behind ``commit_append``,
    ``commit_append_with_stats`` and ``commit_append_with_bloom``: the
    ``txn_app`` replay guard, the key anti-join against ``base``, the
    expectations contract, the column guard, the schema union and the
    carried table metadata, published as an append-shaped commit.
    ``key_zone_map`` records the key's zone map on the new files;
    ``stats_cols`` / ``bloom_spec`` set the secondary zone maps and the
    Bloom index a table is created with (``None`` inherits the base's;
    a base's ``stats_cols`` always wins — the set is fixed at
    creation)."""
    prev0 = _read_manifest(path, base) if base >= 0 else {}
    if (
        txn_app is not None
        and prev0.get("app_versions", {}).get(txn_app, -1) >= txn_version
    ):
        # this application's transaction already applied: idempotent
        # replay returns the head untouched (no staged bytes, no commit)
        return base
    out = df
    if key is not None and base >= 0:
        existing = read_version(spark, path, base).select(key)
        out = df.join(existing, key, "left_anti")
    if expectations and _RESERVED_EXPECTATION in expectations:
        raise ValueError(
            f"expectation name {_RESERVED_EXPECTATION!r} is reserved for "
            "commit_replace_where's slice-containment check"
        )
    contract = {**prev0.get("expectations", {}), **(expectations or {})}
    enforce_expectations(out, contract)
    # Declaring a NEW expectation on an existing table must also hold
    # for the rows already committed (Delta's ADD CONSTRAINT validates
    # existing data first — ADVICE r5: validating only the incoming
    # batch lets the manifest assert a contract history violates).
    new_keys = {
        k: v
        for k, v in (expectations or {}).items()
        if prev0.get("expectations", {}).get(k) != v
    }
    if new_keys and base >= 0:
        enforce_expectations(read_version(spark, path, base), new_keys)

    # resurrection/collision guard runs against the TRUE previous
    # manifest before the union below adds the batch's new names to
    # the published schema (the union would otherwise mask it)
    _guard_new_columns([f.name for f in out.schema], prev0)
    extra = dict(_carry_meta(prev0))
    # the published schema is the UNION of the table's columns and the
    # batch's (type changes rejected): a narrower batch must not shrink
    # the live schema — its files surface NULL for omitted columns,
    # symmetric with additive widening (r7 review: adopting the batch
    # schema verbatim let a buggy producer silently drop a column)
    extra["schema_ddl"] = _union_schema_ddl(prev0, out.schema)
    if contract:
        extra["expectations"] = contract
    # change_feed=True sets the property; anything else inherits (the
    # explicit off-switch is disable_change_feed — a metadata commit,
    # matching Delta's ALTER-only property semantics)
    if change_feed or prev0.get("change_feed"):
        extra["change_feed"] = True
    if txn_app is not None:
        extra["app_versions"] = {
            **prev0.get("app_versions", {}),
            txn_app: int(txn_version),
        }
    return _commit_replace(
        spark,
        out,
        path,
        base,
        carried=prev0.get("files", []),
        stats_col=_phys(prev0, key) if key_zone_map else None,
        stats_cols=prev0.get("stats_cols") or stats_cols,
        bloom_spec=bloom_spec,
        extra_meta=extra,
        cdc="append",
        op="append",
    )


def step_is_append_shaped(path: str, version: int) -> bool:
    """True iff ``version``'s commit only ADDED files (no rewrite, no
    new deletion vectors) — the conflict-compatibility predicate for
    ``commit_with_retry``: a pure append by another writer can never
    invalidate what this writer read."""
    man = _read_manifest(path, version)
    if man.get("parent", version - 1) < 0:
        return True
    parent = _read_manifest(path, man.get("parent", version - 1))
    return set(parent.get("files", [])) <= set(man.get("files", [])) and (
        parent.get("dvs", []) == man.get("dvs", [])
    )


def commit_with_retry(
    path: str,
    attempt,
    *,
    max_attempts: int = 5,
    compatible=None,
    read_version: int | None = None,
):
    """Delta-style optimistic commit loop: run ``attempt()`` (a
    zero-arg closure that performs ONE commit_* call and returns its
    version); on ``ConcurrentCommitError``, decide whether the
    interleaved winner is compatible and retry against the new head,
    up to ``max_attempts``.

    Correctness contract: the closure must derive everything it
    commits from state read INSIDE the closure (our commit functions
    do — they re-read the head snapshot each call), so a retry is
    simply the same transaction executing later: serializable by
    construction, and expectations re-validate on every attempt. When
    the closure instead bakes in data derived from a snapshot read
    OUTSIDE it (read-modify-write), pass ``compatible`` AND
    ``read_version`` — the version that snapshot was read at.
    ``compatible(path, version) -> bool`` is consulted for EVERY
    version published after ``read_version``, not merely after this
    call started: a writer that landed between the caller's snapshot
    read and the call is exactly the hazard being vetted (without
    ``read_version`` that window is silently skipped). Returning
    False re-raises instead of retrying (the caller must re-derive).
    ``step_is_append_shaped`` is the standard predicate: concurrent
    appends are harmless to a read-modify-write, rewrites are not.

    Returns the committed version. Re-raises ``ConcurrentCommitError``
    after ``max_attempts`` losses (pathological contention — the
    caller should back off) or on an incompatible interleaved commit.
    """
    if max_attempts < 1:
        raise ValueError(f"max_attempts must be >= 1, got {max_attempts}")
    last_seen = (
        read_version if read_version is not None else current_version(path)
    )
    for attempt_no in range(max_attempts):
        try:
            return attempt()
        except ConcurrentCommitError:
            if attempt_no == max_attempts - 1:
                raise
            head = current_version(path)
            if compatible is not None:
                for v in range(last_seen + 1, head + 1):
                    if not compatible(path, v):
                        raise
            last_seen = head
    raise AssertionError("unreachable")


def vacuum(path: str, retention_seconds: float = 24 * 3600.0) -> list[str]:
    """Delete staged/orphaned data files no LIVE manifest references
    (crash debris, plus files stranded when their only referencing
    manifests were retired by ``expire_manifests``). Never touches
    referenced files, so snapshot reads of any live version stay valid.

    ``retention_seconds`` is the concurrent-writer guard (Delta's
    VACUUM retention): anything whose mtime is inside the window is
    kept, because an in-flight writer stages files and hard-links them
    into ``data/`` BEFORE its manifest publishes — deleting those
    young unreferenced files would corrupt the winner's snapshot the
    instant it commits. Pass ``0.0`` only when all writers are known
    quiesced (tests, single-writer maintenance windows).
    """
    cutoff = time.time() - retention_seconds
    referenced: set[str] = set()
    for version in _manifest_versions(path):
        man = _read_manifest(path, version)
        referenced.update(man["files"])
        referenced.update(man.get("dvs", []))
        referenced.update(man.get("cdc", {}).get("files") or [])
    removed = []
    data_dir = os.path.join(path, "data")
    if os.path.isdir(data_dir):
        for name in os.listdir(data_dir):
            full = os.path.join(data_dir, name)
            if name not in referenced and os.path.getmtime(full) <= cutoff:
                os.unlink(full)
                removed.append(name)
    stage_root = os.path.join(path, "_staging")
    if os.path.isdir(stage_root):
        for d in os.listdir(stage_root):
            full = os.path.join(stage_root, d)
            if os.path.getmtime(full) <= cutoff:
                shutil.rmtree(full, ignore_errors=True)
                removed.append(f"_staging/{d}")
    return removed


def maintain_table(
    spark: SparkSession,
    path: str,
    *,
    small_file_bytes: int = 32 << 20,
    max_small_files: int = 8,
    max_dvs: int = 4,
    target_file_bytes: int = 128 << 20,
    retention_seconds: float = 24 * 3600.0,
    zorder_by: list[str] | None = None,
) -> dict:
    """One-call table housekeeping — the OPTIMIZE + log-cleanup +
    VACUUM loop a deployment schedules nightly, as a single idempotent
    verb. ``zorder_by`` additionally lays each compaction pass's
    rewritten rows along the Morton curve of the named columns
    (OPTIMIZE ZORDER parity — incremental clustering, see
    ``commit_compact_files``). Policy:

    - PARTIAL COMPACT (``commit_compact_files``) when live deletion
      vectors exceed ``max_dvs`` (every read pays their broadcast
      anti-join until they materialize away) or more than
      ``max_small_files`` data files are under ``small_file_bytes``
      (small-file creep from streaming/CDC-apply commits degrades
      scan parallelism into task overhead). Only the stragglers
      rewrite — the small files plus every DV-referenced file — and
      the healthy majority carries by reference; the rewrite targets
      ``target_file_bytes`` per output file.
    - CHECKPOINT + EXPIRE bounded by the retention window: the floor
      advances only to the newest version ALREADY OLDER than
      ``retention_seconds``, so time travel and lagging CDF consumers
      keep the window's history (a consumer slower than the window
      must re-seed — size the window to the slowest consumer).
    - VACUUM unreferenced files older than the same window (never an
      in-flight writer's staged files).

    A table needing nothing publishes nothing (no empty compaction
    commit). Returns a report of what ran. Raises
    ConcurrentCommitError if a writer races the compaction — safe to
    just re-run (``commit_with_retry`` composes if desired)."""
    v = current_version(path)
    if v < 0:
        raise FileNotFoundError(f"no committed version under {path}")
    man = _read_manifest(path, v)
    data_dir = os.path.join(path, "data")
    sizes = {
        n: os.path.getsize(os.path.join(data_dir, n)) for n in man["files"]
    }
    small = [n for n, b in sizes.items() if b < small_file_bytes]
    n_dvs = len(man.get("dvs", []))
    report = {
        "files_before": len(man["files"]),
        "small_files": len(small),
        "dvs_before": n_dvs,
        "compacted": False,
    }
    if n_dvs > max_dvs or len(small) > max_small_files:
        # This branch always has something to publish: a tripped
        # small-file threshold means rewrite ⊇ small is non-empty; a
        # tripped DV threshold means the DV list is non-empty, and the
        # compaction either materializes it away (referenced files
        # rewrite) or clears an inert list (every row referencing
        # files already out of the manifest) so reads stop loading it.
        # The "needing nothing publishes nothing" rule is the OUTER
        # threshold gate.
        rewrite = set(small) | _dv_live_refs(path, man)
        total = sum(sizes[n] for n in rewrite)
        parts = max(1, -(-total // target_file_bytes))  # ceil
        commit_compact_files(
            spark,
            path,
            sorted(rewrite),
            target_partitions=int(parts),
            expected_base=v,
            zorder_by=zorder_by,
        )
        head = _read_manifest(path, current_version(path))
        report["compacted"] = True
        report["files_rewritten"] = len(rewrite)
        report["files_after"] = len(head["files"])
        report["dvs_after"] = len(head.get("dvs", []))
    # retention-bounded log hygiene: floor = newest version whose
    # commit already aged out of the window (nothing if all younger)
    cutoff = time.time() - retention_seconds
    floor = -1
    for mv in _manifest_versions(path):
        if _read_manifest(path, mv).get("committed_at", 0.0) <= cutoff:
            floor = mv
    if floor >= 0:
        checkpoint(path, version=floor)
        report["manifests_retired"] = len(expire_manifests(path))
    else:
        report["manifests_retired"] = 0
    removed = vacuum(path, retention_seconds)
    # data-file removals and staging-directory sweeps are different
    # facts (a "_staging/x" entry is a whole crash-debris directory,
    # not a data file) — report them separately (r7 advice)
    report["files_vacuumed"] = sum(
        1 for n in removed if not n.startswith("_staging/")
    )
    report["staging_dirs_vacuumed"] = sum(
        1 for n in removed if n.startswith("_staging/")
    )
    return report


def _checkpoint_path(path: str) -> str:
    return os.path.join(_txn_dir(path), "_last_checkpoint.json")


def checkpoint_version(path: str) -> int:
    """Version of the last checkpoint, or -1 if never checkpointed."""
    try:
        with open(_checkpoint_path(path)) as f:
            return json.load(f)["version"]
    except FileNotFoundError:
        return -1


def checkpoint(path: str, version: int | None = None) -> int:
    """Record ``version`` (default: head) as the table's checkpoint
    floor.

    Manifests here are self-contained (each lists its full file set),
    so a checkpoint doesn't need to consolidate a delta log — it only
    declares "history before this version may be retired". Readers of
    the latest snapshot always touch exactly ONE manifest regardless
    of commit count; what grows unbounded on a long-lived table is the
    ``_txn/v*.json`` population itself, and ``expire_manifests`` uses
    this floor to cap it. Passing an explicit ``version`` bounds the
    floor below head — how ``maintain_table`` keeps a retention window
    of history alive for lagging CDF consumers and time travel. The
    floor never moves backwards. Write is atomic (tmp + os.replace);
    call it every K commits (see
    ``commit_append(checkpoint_every=...)``).
    """
    head = current_version(path)
    if head < 0:
        raise FileNotFoundError(f"no committed version under {path}")
    v = head if version is None else version
    if not (0 <= v <= head):
        raise ValueError(f"checkpoint version {v} outside [0, {head}]")
    v = max(v, checkpoint_version(path))  # monotone floor
    tmp = os.path.join(_txn_dir(path), f".cp-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as f:
        json.dump({"version": v}, f)
    os.replace(tmp, _checkpoint_path(path))
    return v


def expire_manifests(path: str) -> list[str]:
    """Retire every manifest older than the checkpoint floor.

    Time travel remains exact for versions >= the floor; versions
    before it raise FileNotFoundError with a clear message. Data files
    whose only references were in retired manifests become vacuum-able
    (subject to the retention guard). This is the Delta/Iceberg
    log-cleanup analog that keeps a 1000-commit table at O(K)
    manifests instead of O(commits)."""
    floor = checkpoint_version(path)
    removed = []
    for v in _manifest_versions(path):
        if v < floor:
            os.unlink(_manifest_path(path, v))
            removed.append(f"v{v:06d}.json")
    return removed


def commit_upsert(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    key: str,
    expected_base: int | None = None,
) -> int:
    """MERGE semantics: rows in ``df`` replace same-key rows in the
    current snapshot; unmatched rows append. This is ``commit_merge``
    with its default clauses (same copy-on-write core, so a
    zone-mapped table rewrites only the files that may hold a batch
    key), labelled ``upsert`` in the table history. Publishes one new
    version, so readers switch snapshots atomically; creates the
    table when no version exists yet."""
    base = current_version(path) if expected_base is None else expected_base
    return _merge(spark, df, path, key, base, "upsert")


def stream_to_txn(
    source: DataFrame,
    path: str,
    *,
    key: str,
    checkpoint_dir: str,
    checkpoint_every: int | None = None,
):
    """Streaming exactly-once into the transactional table: each
    micro-batch commits through ``commit_append(key=...)`` inside
    foreachBatch. The layered guarantees compose: the streaming
    checkpoint absorbs micro-batch REPLAYS, the keyed anti-join
    absorbs re-EXTRACTED keys, and the manifest publish makes each
    batch all-or-nothing — a crash mid-write leaves only invisible
    staged files, never a torn snapshot. Returns the started query.
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        commit_append(
            batch_df.sparkSession,
            batch_df,
            path,
            key=key,
            checkpoint_every=checkpoint_every,
        )

    return (
        source.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _dvs_still_needed(
    path: str, man: dict, carried: list[str], staged: bool
) -> bool:
    """True when some deletion-vector row still references a file the
    commit carries forward BY REFERENCE. When every DV-referenced file
    is in the rewrite set, the vectors are fully materialized away and
    the list must NOT carry — inert DV files would otherwise stay in
    the manifest and every subsequent read would keep loading them in
    ``_apply_dvs``' broadcast anti-join until a maintenance cycle
    clears them. An append-shaped commit (it carries every file and
    ``staged`` new ones) cannot make a DV row inert, so it keeps the
    list without reading it; a commit that rewrites nothing and stages
    nothing re-checks — how maintenance drops a list no file needs."""
    if not man.get("dvs") or not carried:
        return False
    if staged and len(carried) == len(man["files"]):
        return True
    return bool(_dv_live_refs(path, man) & set(carried))


def commit_compact_files(
    spark: SparkSession,
    path: str,
    files_to_rewrite: list[str] | None = None,
    target_partitions: int = 1,
    expected_base: int | None = None,
    zorder_by: list[str] | None = None,
) -> int:
    """Compaction as a transaction: rewrite the named files (default:
    every file) with their deletion vectors materialized away into
    ``target_partitions`` files; every other file carries forward BY
    REFERENCE with its zone-map stats and Bloom bits. Row content is
    unchanged: readers on old versions keep their exact file lists,
    new readers see the compacted layout, and a concurrent writer
    loses the CAS race cleanly. Naming only the stragglers is the
    OPTIMIZE shape at scale — bin-pack them, never rewrite the healthy
    99%. DV rows referencing carried files keep applying; when every
    DV-referenced file is in the rewrite set, the vector list clears
    entirely. Row-preserving (``cdc`` mode ``none``).

    ``zorder_by`` (Delta ``OPTIMIZE ... ZORDER BY`` parity): the
    rewritten rows are laid out along the Morton curve of the named
    logical columns (operators/zorder.cluster_by_zorder — one range
    repartition + in-partition sort, the same shuffle price as the
    compaction itself) and those columns join the manifest's
    ``stats_cols``, so ``read_table_within`` prunes multiplicatively
    on every clustered dimension afterwards. Like Delta, clustering
    is incremental: only THIS pass's rewrite set is clustered; carried
    files keep their old layout (and, lacking the new column stats,
    scan conservatively until their turn). The zvalue caller contract
    applies: non-negative ints fitting the bit budget — bucket or rank
    wider domains first."""
    base = current_version(path) if expected_base is None else expected_base
    if base < 0:
        raise FileNotFoundError(f"no committed version under {path}")
    man = _read_manifest(path, base)
    rewrite = set(man["files"] if files_to_rewrite is None else files_to_rewrite)
    unknown = rewrite - set(man["files"])
    if unknown:
        raise ValueError(f"not in manifest: {sorted(unknown)[:5]}")
    merged = _scan_files(spark, path, man, sorted(rewrite))
    stats_cols = man.get("stats_cols")
    if zorder_by:
        from qb_data_pipeline_backfill_spark.operators.zorder import (
            cluster_by_zorder,
        )

        if rewrite:
            merged = cluster_by_zorder(merged, zorder_by, target_partitions)
        stats_cols = sorted(
            set(stats_cols or []) | {_phys(man, c) for c in zorder_by}
        )
    else:
        merged = merged.coalesce(target_partitions)
    return _commit_replace(
        spark,
        merged,
        path,
        base,
        carried=[n for n in man["files"] if n not in rewrite],
        stats_cols=stats_cols,
        extra_meta=_carry_meta(man),
        # row-preserving rewrite: dataChange=false, the change feed
        # skips this version entirely
        cdc="none",
        op="compact",
    )


def compact_where(
    spark: SparkSession,
    path: str,
    lo,
    hi,
    col: str | None = None,
    target_partitions: int = 1,
    zorder_by: list[str] | None = None,
) -> int:
    """Predicate-scoped compaction (Delta ``OPTIMIZE ... WHERE``
    parity): rewrite only the files whose zone-map [min, max] on
    ``col`` (default: the key) overlaps [lo, hi]; everything else
    carries forward by reference. The selection is the SAME manifest
    classification ``read_table_where`` prunes with, so "compact
    yesterday's partition" costs O(yesterday), not O(table) — the
    nightly-maintenance shape at 100 TB, where a full-table OPTIMIZE
    is never affordable. Returns the new version — or ``base``
    unchanged when no file overlaps: scheduled maintenance re-running
    over an already-clean range must not accrete empty commits
    (Delta's OPTIMIZE no-ops the same way)."""
    base = current_version(path)
    if base < 0:
        raise FileNotFoundError(f"no committed version under {path}")
    man = _read_manifest(path, base)
    chosen = _choose_files(man, _physical_bounds(man, {col: (lo, hi)}))
    if not chosen:
        return base
    return commit_compact_files(
        spark,
        path,
        chosen,
        target_partitions=target_partitions,
        expected_base=base,
        zorder_by=zorder_by,
    )


def _norm_stat(v):
    """tz-aware parquet timestamp stats → naive UTC, matching the
    session's UTC-pinned convention (collect() bounds and DuckDB
    oracle values are naive UTC throughout the repo)."""
    if isinstance(v, _dt.datetime) and v.tzinfo is not None:
        return v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return v


def _cmp_stat(v):
    """Ordering key for zone-map comparisons: promotes a plain
    ``datetime.date`` to its midnight ``datetime``. After a
    date→timestamp_ntz widening (``widen_column_type``), pre-widening
    files keep DATE min/max in the manifest while post-widening files
    and query bounds carry datetimes — Python refuses to order date
    against datetime, and midnight is exactly the value the upcasting
    parquet reader gives those rows, so promoting at comparison time
    is both safe and semantically the widened value. Identity for
    every other type (a pure-date column promotes uniformly, ordering
    unchanged)."""
    if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
        return _dt.datetime(v.year, v.month, v.day)
    return v


def _stats_from_md(md, col: str) -> list | None:
    """[min, max] of ``col`` from already-read parquet metadata.

    Returns None (file will be scanned conservatively) when the footer
    carries no usable statistics — e.g. legacy INT96 timestamps, which
    parquet writers emit without min/max; the session pins
    ``spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS`` so the
    engine's own writes never hit that. DECIMAL stats are decoded from
    the raw unscaled integers because pyarrow's typed accessor doesn't
    implement them. A file that lacks the column entirely (a narrow
    batch omitting it — its rows are all-NULL there) records no stats
    and is scanned conservatively."""
    idx = md.schema.to_arrow_schema().get_field_index(col)
    if idx < 0:
        return None
    colschema = md.schema.column(idx)
    lo = hi = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is None or not st.has_min_max:
            return None
        try:
            mn, mx = st.min, st.max
        except Exception:
            if (
                colschema.converted_type == "DECIMAL"
                and isinstance(st.min_raw, int)
            ):
                scale = colschema.scale
                mn = Decimal(st.min_raw).scaleb(-scale)
                mx = Decimal(st.max_raw).scaleb(-scale)
            else:
                return None
        mn, mx = _norm_stat(mn), _norm_stat(mx)
        lo = mn if lo is None else min(lo, mn)
        hi = mx if hi is None else max(hi, mx)
    if lo is None:
        return None
    return [lo, hi]


def _file_stats(file_path: str, col: str) -> list | None:
    """[min, max] of ``col`` from the parquet footer (no data read) —
    the zone-map entry a lakehouse stores per file."""
    import pyarrow.parquet as pq

    return _stats_from_md(pq.ParquetFile(file_path).metadata, col)


def _null_count_from_md(md, col: str) -> int | None:
    """NULL count of ``col`` from already-read parquet metadata,
    summed across row groups; None when any row group's statistics
    omit it. What makes ``count_where``'s full-keep class exact:
    min/max stats IGNORE NULLs, so a file whose [min, max] sits inside
    the predicate range can still hold NULL rows that a real scan's
    BETWEEN would drop — metadata may answer only when the column is
    provably null-free."""
    idx = md.schema.to_arrow_schema().get_field_index(col)
    if idx < 0:
        return None
    total = 0
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is None or st.null_count is None:
            return None
        total += st.null_count
    return total


def _parquet_null_count(file_path: str, col: str) -> int | None:
    """``_null_count_from_md`` with its own footer read — the query-
    time fallback for files committed before manifests recorded
    ``null_counts``."""
    import pyarrow.parquet as pq

    return _null_count_from_md(pq.ParquetFile(file_path).metadata, col)


# --------------------------------------------------------------------------
# per-file Bloom index (Delta's bloom filter index analog): prunes POINT
# lookups on a column whose values are scattered across files, where a
# min/max zone map prunes nothing. The hash family is sha256-based so the
# DRIVER can recompute a literal key's bit positions in pure Python when
# choosing files — no Spark job just to plan the read.
# --------------------------------------------------------------------------
def _bloom_positions_py(value, m: int, k: int) -> list[int]:
    """k bit positions of a literal key — must mirror the Spark-side
    expression in _file_blooms exactly (string rendering of int/str
    keys matches Spark's cast-to-string for those types)."""
    return [
        int(hashlib.sha256(f"{value}|{i}".encode()).hexdigest()[:15], 16) % m
        for i in range(k)
    ]


def _file_blooms(
    spark: SparkSession, stage_dir: str, schema, col: str, m: int, k: int
) -> dict[str, list[list[int]]]:
    """Per staged file: sparse [word_index, or'd 64-bit word] pairs over
    the k sha256-derived bit positions of every value of ``col``.

    One distributed pass over the staged data (the rows were just
    written, so they are page-cache-hot; ``schema`` is the staged
    frame's, so the read infers none): explode each row into its k
    positions, bit_or per (file, word) — two map-side-combinable
    aggregates, collect size ≤ files × m/64 longs by construction."""
    from pyspark.sql import functions as FF

    df = spark.read.schema(schema).parquet(stage_dir)
    pos = [
        (
            FF.conv(
                FF.substring(
                    FF.sha2(
                        FF.concat_ws(
                            "|", FF.col(col).cast("string"), FF.lit(str(i))
                        ),
                        256,
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % m
        )
        for i in range(k)
    ]
    rows = (
        df.filter(FF.col(col).isNotNull())
        .select(
            _input_file_name().alias("fname"),
            FF.explode(FF.array(*pos)).alias("pos"),
        )
        .select(
            "fname",
            (FF.col("pos") / 64).cast("long").alias("word"),
            FF.call_function(
                "shiftleft", FF.lit(1).cast("long"), (FF.col("pos") % 64).cast("int")
            ).alias("bit"),
        )
        .groupBy("fname", "word")
        .agg(FF.expr("bit_or(bit)").alias("bits"))
        .collect()
    )
    out: dict[str, list[list[int]]] = {}
    for r in rows:
        out.setdefault(r["fname"], []).append([int(r["word"]), int(r["bits"])])
    return out


def _bloom_file_hit(words: list[list[int]], positions: list[int]) -> bool:
    """True iff every position's bit is set (possible member)."""
    lut = {w: b for w, b in words}
    for p in positions:
        if not (lut.get(p // 64, 0) & (1 << (p % 64))):
            return False
    return True


def _duplicate_key_example(df: DataFrame, key: str) -> list:
    """A 1-row sample of a duplicated ``key`` value ([] when unique) —
    one map-side-combined aggregate with an existence limit; the
    probe behind the snapshot diff's keyed-CDC fallback (MERGE's
    unique-source check rides in ``_probe_source`` instead)."""
    from pyspark.sql import functions as FF

    return (
        df.groupBy(key)
        .agg(FF.count(FF.lit(1)).alias("_n"))
        .filter(FF.col("_n") > 1)
        .limit(1)
        .collect()
    )


def _cdc_upsert_changes(
    target: DataFrame, writes: DataFrame, key: str, cols: list[str]
) -> DataFrame:
    """Net change rows an upsert-shaped commit produces, for the
    commit-time change-data-capture record (Delta CDF semantics): each
    write row is classified against the pre-commit target — absent key
    → one ``insert`` row; present-but-different row → an
    ``update_preimage`` row (the old values) AND an
    ``update_postimage`` row (the new values), which is what lets a
    downstream incremental AGGREGATE subtract the old contribution and
    add the new one; identical row → no change emitted (a replayed
    idempotent commit records an EMPTY change set, keeping the feed
    replay-stable). One key-partitioned left join; ``writes`` is the
    small side."""
    from pyspark.sql import functions as FF

    t = target.select(FF.col(key).alias("__k"), FF.struct(*cols).alias("__old"))
    w = writes.select(FF.col(key).alias("__k"), FF.struct(*cols).alias("__new"))
    j = w.join(t, "__k", "left_outer")
    changed = j.filter(~FF.col("__new").eqNullSafe(FF.col("__old")))
    inserts = changed.filter(FF.col("__old").isNull()).select(
        *[FF.col(f"__new.{c}").alias(c) for c in cols],
        FF.lit("insert").alias("_change_type"),
    )
    updated = changed.filter(FF.col("__old").isNotNull())
    pre = updated.select(
        *[FF.col(f"__old.{c}").alias(c) for c in cols],
        FF.lit("update_preimage").alias("_change_type"),
    )
    post = updated.select(
        *[FF.col(f"__new.{c}").alias(c) for c in cols],
        FF.lit("update_postimage").alias("_change_type"),
    )
    return inserts.unionByName(pre).unionByName(post)


def _stage_cdc_files(
    spark: SparkSession,
    cdc_df: DataFrame,
    path: str,
    stage_id: str,
    cmap: dict | None = None,
) -> list[str]:
    """Stage a commit's net change rows (row columns + ``_change_type``)
    as parquet under ``data/`` and return the file names for the
    manifest's ``cdc`` record. Like data files, CDC files carry
    PHYSICAL column names and are invisible until the manifest
    publishes; they are retained/vacuumed by reference."""
    cols = [f.name for f in cdc_df.schema if f.name != "_change_type"]
    with _staging(path, f"{stage_id}-cdc") as stage_dir:
        _to_physical_df(
            cdc_df.select(*cols, "_change_type"), cmap or {}
        ).coalesce(8).write.mode("overwrite").parquet(stage_dir)
        names: list[str] = []
        for name in sorted(os.listdir(stage_dir)):
            if not name.endswith(".parquet"):
                continue
            # an empty change set (idempotent replay) records zero files
            if _parquet_num_rows(os.path.join(stage_dir, name)) == 0:
                continue
            unique = f"{stage_id}-cdc-{name}"
            os.link(os.path.join(stage_dir, name), os.path.join(path, "data", unique))
            names.append(unique)
    return names


def _snapshot_diff_cdc(
    old: DataFrame, new: DataFrame, key: str | None, cols: list[str]
) -> DataFrame:
    """Net CDC rows turning ``old`` into ``new`` — the shared diff
    convention of replace-where and restore commits. The keyed path
    pairs rows BY KEY (update pre/post-images, left-anti deletes),
    which is only well-defined when the key is unique on both sides;
    duplicates (probed with one cheap existence aggregate per side)
    fall back to the exact multiset ``exceptAll`` path, with old-only
    rows as deletes and new-only rows as inserts. Identical content
    nets to an EMPTY change set either way (replay-stable feed)."""
    from pyspark.sql import functions as FF

    if key is not None and (
        _duplicate_key_example(old, key) or _duplicate_key_example(new, key)
    ):
        key = None
    if key is not None:
        upserts = _cdc_upsert_changes(old, new.select(*cols), key, cols)
        gone = (
            old.join(new.select(key), key, "left_anti")
            .select(*cols)
            .withColumn("_change_type", FF.lit("delete"))
        )
        return upserts.unionByName(gone)
    return (
        new.select(*cols)
        .exceptAll(old.select(*cols))
        .withColumn("_change_type", FF.lit("insert"))
        .unionByName(
            old.select(*cols)
            .exceptAll(new.select(*cols))
            .withColumn("_change_type", FF.lit("delete"))
        )
    )


def _carry_index(
    path: str,
    prev: dict,
    carried: list[str],
    stats_col: str | None = None,
    stats_cols: list[str] | None = None,
    bloom_spec: dict | None = None,
) -> dict:
    """The manifest's per-file index for the ``carried`` files of
    ``prev`` — the one carry-forward policy every commit that moves
    files forward by reference uses. ``stats_col``, ``stats_cols`` and
    ``bloom_spec`` default to ``prev``'s and are recorded with the
    index. A carried file keeps:

    - its ``col_stats`` zone maps, for the columns still zoned
      (``_zoned_cols``);
    - its Bloom bits, only under the same spec (bits are meaningful
      only for the column and hash family they were built with);
    - its row count (Delta numRecords analog — footer fallback for
      pre-feature manifests), so ``snapshot_row_count`` answers
      COUNT(*) from metadata;
    - its null counts (Delta nullCount analog; absent entries fall back
      to a footer read at query time), so ``count_where``'s full-keep
      proof needs no query-time footer reads.

    The returned dicts are the manifest's; a commit staging new files
    adds their entries to them."""
    stats_col = stats_col or prev.get("stats_col")
    stats_cols = stats_cols or prev.get("stats_cols")
    bloom_spec = bloom_spec or prev.get("bloom_spec")

    def keep(field: str, same: bool = True) -> dict:
        have = prev.get(field, {}) if same else {}
        return {f: have[f] for f in carried if f in have}

    index: dict = {
        "row_counts": {f: _file_row_count(path, prev, f) for f in carried}
    }
    if stats_col is not None:
        index["stats_col"] = stats_col
    if stats_cols:
        index["stats_cols"] = list(stats_cols)
    if zoned := _zoned_cols(index):
        index["col_stats"] = {
            f: {c: lohi[c] for c in zoned if c in lohi}
            for f, lohi in keep("col_stats").items()
        }
    if null_counts := keep("null_counts"):
        index["null_counts"] = null_counts
    if bloom_spec:
        index["bloom_spec"] = bloom_spec
        index["blooms"] = keep("blooms", prev.get("bloom_spec") == bloom_spec)
    return index


def _commit_replace(
    spark: SparkSession,
    merged: DataFrame,
    path: str,
    base: int,
    *,
    carried: list[str] = (),
    stats_col: str | None = None,
    stats_cols: list[str] | None = None,
    bloom_spec: dict | None = None,
    extra_meta: dict | None = None,
    cdc: "str | DataFrame | None" = None,
    op: str | None = None,
) -> int:
    """Publish ``merged``'s rewrite as version base+1: the manifest
    references the newly staged files plus the ``carried`` files of
    the base manifest (copy-on-write: untouched files move forward by
    reference). For every zoned column (``_zoned_cols``: the key's
    ``stats_col``, then ``stats_cols``) each staged file's [min, max]
    and null count are read from its parquet footer — one footer loop —
    and stored in the manifest's ``col_stats`` / ``null_counts``, so
    ``read_table_where`` prunes on the key or on ``col=...``.
    ``stats_col``, ``stats_cols`` and ``bloom_spec`` default to the
    base manifest's.

    Each carried file keeps its per-file facts through
    ``_carry_index``, and the base's deletion vectors carry while some
    DV row still references a carried file (``_dvs_still_needed``).

    ``cdc`` records the commit's change-data-capture metadata (read by
    ``sources/txn_cdf.py``): ``"append"`` declares the newly staged
    files ARE the inserted rows (zero extra bytes — Delta's CDF
    optimization for append commits); ``"none"`` declares a
    row-preserving rewrite (compaction: dataChange=false, the feed
    skips it); a DataFrame is the commit's net change rows, staged as
    CDC files alongside the data."""
    os.makedirs(os.path.join(path, "data"), exist_ok=True)
    cmap = (extra_meta or {}).get("column_map") or {}
    _guard_new_columns([f.name for f in merged.schema], extra_meta or {})
    stage_id = uuid.uuid4().hex
    with _staging(path, stage_id) as stage_dir:
        staged = _to_physical_df(merged, cmap)
        staged.write.mode("overwrite").parquet(stage_dir)
        new_files: list[str] = []
        prev_man = _read_manifest(path, base) if base >= 0 else {}
        index = _carry_index(
            path, prev_man, carried, stats_col, stats_cols, bloom_spec
        )
        zoned = _zoned_cols(index)
        bloom_spec = index.get("bloom_spec")
        staged_blooms: dict[str, list] = (
            _file_blooms(
                spark,
                stage_dir,
                staged.schema,
                bloom_spec["col"],
                bloom_spec["m"],
                bloom_spec["k"],
            )
            if bloom_spec
            else {}
        )
        import pyarrow.parquet as pq

        for name in sorted(os.listdir(stage_dir)):
            if not name.endswith(".parquet"):
                continue
            # ONE footer read serves the zero-row check, the row count,
            # every zone-map [min,max], and the null counts — a commit
            # staging thousands of files pays O(files) driver-side footer
            # opens, so re-opening per statistic (4× before r10) is pure
            # commit-latency waste
            md = pq.ParquetFile(os.path.join(stage_dir, name)).metadata
            # zero-row part files never enter the manifest (see
            # commit_append: replay/empty-partition debris would otherwise
            # accrete open-and-discard work for every future reader)
            n_rows = md.num_rows
            if n_rows == 0:
                continue
            unique = f"{stage_id}-{name}"
            os.link(
                os.path.join(stage_dir, name), os.path.join(path, "data", unique)
            )
            new_files.append(unique)
            index["row_counts"][unique] = n_rows
            for field, read in (
                ("col_stats", _stats_from_md),
                ("null_counts", _null_count_from_md),
            ):
                per_col = {
                    c: v for c in zoned if (v := read(md, c)) is not None
                }
                if per_col:
                    index.setdefault(field, {})[unique] = per_col
            if bloom_spec and name in staged_blooms:
                index["blooms"][unique] = staged_blooms[name]
        manifest = {
            "files": list(carried) + new_files,
            "schema_ddl": ", ".join(
                f"{f.name} {f.dataType.simpleString()}" for f in merged.schema
            ),
            **index,
        }
        if _dvs_still_needed(path, prev_man, carried, bool(new_files)):
            manifest["dvs"] = prev_man["dvs"]
            manifest["dv_key"] = prev_man["dv_key"]
        if extra_meta:
            manifest.update(extra_meta)
        if isinstance(cdc, str):
            if cdc == "append":
                manifest["cdc"] = {"mode": "append", "files": new_files}
            elif cdc == "none":
                manifest["cdc"] = {"mode": "none"}
            elif cdc == "unrecorded":
                # data changed but the table's change_feed property is off:
                # no change rows were computed or staged. Log readers raise
                # a typed error on this step; the snapshot-diff
                # table_changes still covers it.
                manifest["cdc"] = {"mode": "unrecorded"}
            else:
                raise ValueError(f"unknown cdc mode {cdc!r}")
        elif cdc is not None:
            manifest["cdc"] = {
                "mode": "files",
                "files": _stage_cdc_files(spark, cdc, path, stage_id, cmap),
            }
        return _publish(path, manifest, base, op)


def commit_delete(
    spark: SparkSession,
    keys: DataFrame,
    path: str,
    key: str,
    expected_base: int | None = None,
) -> int:
    """Delete-by-key as a transaction (the right-to-be-forgotten
    primitive a training-data pipeline must support): every row whose
    key is in ``keys`` (duplicates allowed) departs in one atomic
    snapshot switch.

    The keys feed ``commit_merge``'s copy-on-write core as departures:
    on a table whose zone-map stats are keyed on ``key``, only files
    whose key interval contains a delete key are rewritten; every
    other file — at scale, almost all — carries forward by reference
    with its stats, Bloom bits, and deletion vectors. A stats-less
    table rewrites every file. Compare ``commit_delete_mor``: that
    defers even the touched-file rewrite by recording deletion vectors
    instead.

    Note the retention interaction: deleted rows remain readable via
    time travel on OLD versions until those manifests are retired —
    a compliance deployment pairs this with expiring old manifests
    and vacuuming their files past the retention window.
    """
    base = current_version(path) if expected_base is None else expected_base
    if base < 0:
        raise FileNotFoundError(f"no committed version under {path}")
    return _merge(
        spark, keys.select(key), path, key, base, "delete", delete_keys=True
    )


def commit_append_with_stats(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    key: str,
    expected_base: int | None = None,
    extra_cols: list[str] | None = None,
    change_feed: bool | None = None,
) -> int:
    """Keyed idempotent append that also records per-file [min, max]
    zone-map stats of ``key`` in the manifest (read from the parquet
    footers — no extra data scan), enabling ``read_table_where`` file
    skipping and copy-on-write MERGE / delete rewrites of only the
    files a batch's keys can touch.

    ``extra_cols`` records secondary zone maps too (Delta collects
    stats for its first N columns the same way), so
    ``read_table_where(col=...)`` can skip files on non-key
    predicates; later commits inherit the column set from the base
    manifest, so pass it once at table creation. ``change_feed=True``
    sets the table's change-feed property (see ``commit_append``) —
    pass it at creation when the table will be tailed."""
    base = current_version(path) if expected_base is None else expected_base
    return _append(
        spark,
        df,
        path,
        base,
        key,
        change_feed=change_feed,
        key_zone_map=True,
        stats_cols=extra_cols,
    )


def _zoned_cols(man: dict) -> list[str]:
    """The physical columns ``man`` (a manifest or a carry index)
    records zone maps and null counts for: the key's ``stats_col``
    first, then ``stats_cols``."""
    key = [man["stats_col"]] if man.get("stats_col") else []
    return list(dict.fromkeys(key + list(man.get("stats_cols") or [])))


def _zoned_col(man: dict, col: str | None) -> str:
    """Physical ``col`` (None: the key's ``stats_col``), checked to
    carry a zone map, so a typo'd column fails rather than reading as
    "no stats recorded"."""
    col = col or man.get("stats_col")
    if col is None:
        raise ValueError("table has no zone-map stats")
    if col not in _zoned_cols(man):
        raise ValueError(
            f"no zone-map stats for column {col!r}; recorded: {_zoned_cols(man)}"
        )
    return col


def _zone_map(man: dict, col: str | None) -> "callable":
    """file -> [min, max] or None for physical ``col`` — the one lookup
    into the manifest's ``col_stats``. A column without a zone map
    answers None for every file."""
    col_stats = man.get("col_stats", {})
    return lambda n: col_stats.get(n, {}).get(col)


def _physical_bounds(man: dict, bounds: dict) -> dict[str, tuple]:
    """Logical ``{col: (lo, hi)}`` bounds (col None = the key) keyed
    on their zone-mapped physical columns instead, with tz-aware
    timestamp bounds normalized to naive UTC like the stats."""
    return {
        _zoned_col(man, None if c is None else _phys(man, c)): (
            _norm_stat(lo),
            _norm_stat(hi),
        )
        for c, (lo, hi) in bounds.items()
    }


def _choose_files(man: dict, bounds: dict[str, tuple]) -> list[str]:
    """Files whose zone map overlaps every physical ``{col: (lo, hi)}``
    bound — the one chooser behind pruned reads, pruned-file counts
    and ``compact_where``. A file without stats for a column is kept
    (scanned conservatively). All orderings go through ``_cmp_stat``
    so a date-widened column's mixed date/datetime stats stay
    comparable."""
    checks = [
        (_zone_map(man, c), _cmp_stat(lo), _cmp_stat(hi))
        for c, (lo, hi) in bounds.items()
    ]

    def overlaps(n: str) -> bool:
        for stats_of, lo, hi in checks:
            pair = stats_of(n)
            if pair is not None and (
                _cmp_stat(pair[1]) < lo or _cmp_stat(pair[0]) > hi
            ):
                return False
        return True

    return [n for n in man["files"] if overlaps(n)]


def read_table_within(
    spark: SparkSession,
    path: str,
    bounds: dict,
    version: int | None = None,
) -> DataFrame:
    """Snapshot read pruned by the manifest's zone maps: a file is
    scanned only if its [min, max] overlaps every ``{col: (lo, hi)}``
    bound (col None = the key; files without stats are scanned
    conservatively), then the exact predicates filter residual rows.
    The manifest IS the data-skipping index — no footer reads, no
    directory listing. With a Morton-clustered layout
    (operators/zorder.py ``cluster_by_zorder``) each file's bounding
    box is tight on every clustered dimension, so a k-dimensional
    range predicate prunes multiplicatively — the lakehouse z-order +
    data-skipping combination, here as composable engine pieces."""
    from pyspark.sql import functions as FF

    v = current_version(path) if version is None else version
    man = _read_manifest(path, v)
    pb = _physical_bounds(man, bounds)
    out = _scan_files(spark, path, man, _choose_files(man, pb))
    for c, (lo, hi) in pb.items():
        c = _logical_of(man, c)
        out = out.filter((FF.col(c) >= lo) & (FF.col(c) <= hi))
    return out


def read_table_where(
    spark: SparkSession,
    path: str,
    lo,
    hi,
    version: int | None = None,
    col: str | None = None,
) -> DataFrame:
    """``read_table_within`` on one column: ``col`` (default: the key)
    between ``lo`` and ``hi``."""
    return read_table_within(spark, path, {col: (lo, hi)}, version)


def pruned_file_count_within(
    path: str, bounds: dict, version: int | None = None
) -> tuple[int, int]:
    """(files scanned, files total) for ``read_table_within``'s
    bounds — the observability hook for skipping effectiveness."""
    v = current_version(path) if version is None else version
    man = _read_manifest(path, v)
    return len(_choose_files(man, _physical_bounds(man, bounds))), len(
        man["files"]
    )


def pruned_file_count(
    path: str, lo, hi, version: int | None = None, col: str | None = None
) -> tuple[int, int]:
    """``pruned_file_count_within`` on one column: ``col`` (default:
    the key) between ``lo`` and ``hi``."""
    return pruned_file_count_within(path, {col: (lo, hi)}, version)


def commit_append_with_bloom(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    key: str,
    bloom_col: str,
    m: int = 8192,
    k: int = 4,
    expected_base: int | None = None,
) -> int:
    """Keyed idempotent append that also maintains a per-file Bloom
    index on ``bloom_col`` — the pruning structure for POINT lookups on
    a column whose values are scattered across files, where the zone
    map's [min, max] overlaps everything (Delta's bloom filter index;
    Iceberg puffin blobs play the same role).

    The spec {col, m, k} is fixed at table creation and inherited by
    every later commit kind: appends index their new files; rewrite
    commits (upsert, delete, compact) re-derive bits for rewritten
    files and carry untouched files' bits forward by reference — the
    index can never silently go stale. Size ``m`` at ~8-16 bits per
    expected key per file; the manifest stores only the or'd nonzero
    words (≤ m/64 longs per file).
    """
    base = current_version(path) if expected_base is None else expected_base
    # driver-side probe hashing (pure Python) must render the value
    # exactly as Spark's string cast does; that only holds for integer
    # and string keys — a timestamp/bool/float column would hash to
    # different bit positions on the two sides and produce SILENT
    # false negatives at lookup (r7 review)
    coltype = {f.name: f.dataType.simpleString() for f in df.schema}.get(
        bloom_col
    )
    if coltype not in ("tinyint", "smallint", "int", "bigint", "string"):
        raise ValueError(
            f"bloom index supports integer and string columns; "
            f"{bloom_col!r} is {coltype}"
        )
    spec = {"col": bloom_col, "m": int(m), "k": int(k)}
    if base >= 0:
        man0 = _read_manifest(path, base)
        spec["col"] = _phys(man0, bloom_col)  # specs store physical names
        prev = man0.get("bloom_spec")
        if prev is not None:
            # a DIFFERENT column is always an error (the caller would
            # silently probe the wrong column); defaulted m/k inherit,
            # explicit conflicting m/k are rejected
            if prev["col"] != spec["col"]:
                raise ValueError(
                    f"table's bloom index is on {prev['col']!r}, "
                    f"got {spec['col']!r}"
                )
            if (m, k) != (8192, 4) and (prev["m"], prev["k"]) != (m, k):
                raise ValueError(
                    f"table already has bloom spec {prev}, got {spec}"
                )
            spec = prev
    return _append(spark, df, path, base, key, bloom_spec=spec)


def bloom_file_candidates(path: str, value, version: int | None = None) -> list[str]:
    """Files that MIGHT contain ``value`` in the bloom-indexed column:
    every file whose stored words have all k of the value's bits set
    (plus any file with no bits recorded, scanned conservatively).
    False negatives are impossible — construction sets exactly the
    bits the probe tests, over every value in the file."""
    v = current_version(path) if version is None else version
    man = _read_manifest(path, v)
    spec = man.get("bloom_spec")
    if spec is None:
        raise ValueError(f"table at {path} has no bloom index")
    positions = _bloom_positions_py(value, spec["m"], spec["k"])
    blooms = man.get("blooms", {})
    return [
        n
        for n in man["files"]
        if n not in blooms or _bloom_file_hit(blooms[n], positions)
    ]


def read_table_point(
    spark: SparkSession, path: str, value, version: int | None = None
) -> DataFrame:
    """Point lookup pruned by the per-file Bloom index: only files
    whose bloom admits ``value`` are scanned (the driver recomputes
    the key's bit positions in pure Python — planning the read costs
    no Spark job), then the exact equality predicate filters residual
    false-positive rows."""
    v = current_version(path) if version is None else version
    man = _read_manifest(path, v)
    from pyspark.sql import functions as FF

    chosen = bloom_file_candidates(path, value, version=v)
    # bloom specs store physical names
    col = _logical_of(man, man["bloom_spec"]["col"])
    return _scan_files(spark, path, man, chosen).filter(FF.col(col) == value)


def bloom_pruned_file_count(
    path: str, value, version: int | None = None
) -> tuple[int, int]:
    """(files scanned, files total) for a point lookup — the
    observability hook for bloom-index effectiveness."""
    v = current_version(path) if version is None else version
    man = _read_manifest(path, v)
    return len(bloom_file_candidates(path, value, version=v)), len(man["files"])


def commit_delete_mor(
    spark: SparkSession,
    keys: DataFrame,
    path: str,
    key: str,
    expected_base: int | None = None,
) -> int:
    """Merge-on-read delete: record (file_name, key) deletion-vector
    rows instead of rewriting any data file — the Delta deletion-vector
    / Iceberg v2 merge-on-read analog, and the right delete shape at
    100 TB where ``commit_delete``'s copy-on-write rewrite would churn
    petabytes to remove a few keys.

    The DV rows come from one probe of every live file: its visible
    rows (``_scan_files`` with the file name kept, existing DVs
    applied) meet the delete batch in a broadcast join on the logical
    key, so only the files holding a matching row gain DV rows, stored
    under the key's physical name. They are staged as parquet and
    published in the same atomic manifest CAS as every other commit;
    every file carries forward with its per-file index
    (``_carry_index``) and the table metadata (``_carry_meta``).
    File-scoping is what keeps later writes correct: a re-appended or
    upserted key lands in a NEW file no DV row references, so it is
    never shadowed. Readers pay one broadcast anti-join until
    compaction (``commit_compact_files``) or a rewrite of the
    referenced files materializes the deletes and clears the vectors.
    """
    base = current_version(path) if expected_base is None else expected_base
    if base < 0:
        raise FileNotFoundError(f"no committed version under {path}")
    man = _read_manifest(path, base)
    pkey = _phys(man, key)  # DV files store the physical column name
    if man.get("dv_key") not in (None, pkey):
        raise ValueError(
            f"table's deletion vectors are keyed on {man['dv_key']!r}, got {key!r}"
        )
    from pyspark.sql import functions as FF

    os.makedirs(os.path.join(path, "data"), exist_ok=True)
    stage_id = uuid.uuid4().hex
    with _staging(path, stage_id) as stage_dir:
        # probe only rows still VISIBLE: a replayed delete of
        # already-deleted keys finds no visible match and stages NO new
        # DV rows — without this, every replay re-recorded the same
        # (file, key) suppressions and a delete-heavy table accreted
        # duplicate DV files that every read's broadcast anti-join must
        # re-load
        hits = (
            _scan_files(spark, path, man, man["files"], keep_file=True)
            .join(FF.broadcast(keys.select(key).dropDuplicates([key])), key)
            .select(FF.col("__dv_file").alias("file_name"), FF.col(key).alias(pkey))
            .dropDuplicates(["file_name", pkey])
        )
        hits.coalesce(1).write.mode("overwrite").parquet(stage_dir)
        dv_files = []
        for name in sorted(os.listdir(stage_dir)):
            if not name.endswith(".parquet"):
                continue
            if _parquet_num_rows(os.path.join(stage_dir, name)) == 0:
                continue  # no newly-suppressed rows: DV set unchanged
            unique = f"{stage_id}-dv-{name}"
            os.link(os.path.join(stage_dir, name), os.path.join(path, "data", unique))
            dv_files.append(unique)
        # CDC: the rows this commit makes invisible, with pre-delete values
        # — computed DV-aware (read_version) so re-deleting an already
        # deleted key records an empty change set. The pre-image read is
        # a second pass over the snapshot, so it runs ONLY for
        # feed-enabled tables. A delete that suppressed NOTHING (replay,
        # or keys absent) is a provable no-op — mode "none" regardless of
        # the feed setting, so it can never poison a later-enabled feed's
        # history (and skips the pre-image read).
        if not dv_files:
            cdc_rec = {"mode": "none"}
        elif man.get("change_feed"):
            cdc_rows = read_version(spark, path, base).join(
                FF.broadcast(keys.select(key)), key, "left_semi"
            ).withColumn("_change_type", FF.lit("delete"))
            cdc_rec = {
                "mode": "files",
                "files": _stage_cdc_files(spark, cdc_rows, path, stage_id, _col_map(man)),
            }
        else:
            cdc_rec = {"mode": "unrecorded"}
        manifest = {
            "files": man["files"],
            "schema_ddl": man["schema_ddl"],
            # data files are untouched by a MoR delete, so every per-file
            # fact stays valid (DV suppression is subtracted at read time)
            **_carry_index(path, man, man["files"]),
            "dvs": man.get("dvs", []) + dv_files,
            "dv_key": pkey,
            "cdc": cdc_rec,
            **_carry_meta(man),
        }
        return _publish(path, manifest, base, "delete_mor")


def _expectation_mentions(man: dict, name: str) -> list[str]:
    import re as _re

    pat = _re.compile(rf"\b{_re.escape(name)}\b")
    return [k for k, sql in man.get("expectations", {}).items() if pat.search(sql)]


def alter_rename_column(path: str, old: str, new: str) -> int:
    """Rename a column WITHOUT rewriting any data file (Delta
    column-mapping rename): a metadata-only commit whose manifest maps
    the new LOGICAL name to the column's unchanged PHYSICAL name. Every
    historical file stays readable; time travel to pre-rename versions
    shows the old name (each version's manifest carries its own
    schema); zone-map/bloom/DV pruning keeps working because those
    structures are keyed on physical names. The change feed treats the
    rename as dataChange=false. Expectations referencing the old name
    would silently break, so the rename is refused until they are
    re-declared."""
    base = current_version(path)
    if base < 0:
        raise FileNotFoundError(f"no committed version under {path}")
    man = _read_manifest(path, base)
    fields = _logical_fields(man)
    names = [n for n, _ in fields]
    if old not in names:
        raise ValueError(f"no column {old!r} in {names}")
    if new in names:
        raise ValueError(f"column {new!r} already exists")
    if new in man.get("dropped_physical", []):
        raise ValueError(
            f"{new!r} is a dropped column's physical name; reusing it "
            "would resurrect old bytes in historical files"
        )
    hit = _expectation_mentions(man, old)
    if hit:
        raise ValueError(
            f"expectations {hit} reference column {old!r}; drop and "
            "re-declare them against the new name first"
        )
    cmap = dict(_col_map(man))
    physical = cmap.pop(old, old)
    if physical != new:
        cmap[new] = physical
    manifest = {
        **man,
        "schema_ddl": ", ".join(
            f"{new if n == old else n} {t}" for n, t in fields
        ),
        "cdc": {"mode": "none"},
    }
    if cmap:
        manifest["column_map"] = cmap
    else:
        manifest.pop("column_map", None)
    return _publish(path, manifest, base, "rename_column")


_INT_WIDTH = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3}


def _is_safe_widening(old: str, new: str) -> bool:
    """True when every value of physical type ``old`` reads losslessly
    under logical type ``new`` — the admitted set of Delta's
    type-widening table feature, restricted to what Spark 4's
    vectorized parquet reader upcasts natively (each lane verified
    empirically against int8/int16/int32/int64/date-annotated files):

    - integer widening along tinyint < smallint < int < bigint;
    - float → double;
    - {tinyint, smallint, int} → double (NOT bigint → double: int64
      values above 2^53 would round, and the reader refuses);
    - {tinyint, smallint, int} → decimal(p, s) with p − s ≥ 10 (the
      reader requires the decimal to hold any INT32-annotated value,
      so tighter decimals are rejected even for tinyint files; no
      bigint lane — decimal(19,0) reads of int64 files fail);
    - date → timestamp_ntz (midnight; wall-clock semantics match the
      dateless reading of a DATE — the tz-adjusting ``timestamp`` is
      NOT admitted and the reader refuses it anyway);
    - decimal precision growth at unchanged scale."""
    old, new = old.lower().strip(), new.lower().strip()
    if old in _INT_WIDTH and new in _INT_WIDTH:
        return _INT_WIDTH[new] > _INT_WIDTH[old]
    if old == "float" and new == "double":
        return True
    if old in ("tinyint", "smallint", "int") and new == "double":
        return True
    if old == "date" and new == "timestamp_ntz":
        return True
    mn = re.fullmatch(r"decimal\((\d+),(\d+)\)", new)
    if mn and old in ("tinyint", "smallint", "int"):
        return int(mn.group(1)) - int(mn.group(2)) >= 10
    mo = re.fullmatch(r"decimal\((\d+),(\d+)\)", old)
    if mo and mn:
        return (
            int(mn.group(1)) > int(mo.group(1))
            and mn.group(2) == mo.group(2)
        )
    return False


def widen_column_type(path: str, col: str, new_type: str) -> int:
    """Widen a column's logical type WITHOUT rewriting any data file
    (Delta's type-widening table feature): a metadata-only commit
    records the wider type in the logical schema; existing files keep
    their narrower physical type and every snapshot/time-travel scan
    upcasts them at the parquet reader (native in Spark 4's vectorized
    reader for the whole admitted set — see ``_is_safe_widening``).
    Only lossless widenings are admitted; anything else (narrowing,
    scale changes, string casts) raises. After the widening, appends
    may carry EITHER width: a still-narrow producer's files stay
    narrow on disk and upcast at read, while a batch wider than the
    logical schema remains rejected until the table is widened first
    (see ``_union_schema_ddl``). Time travel to pre-widening versions
    shows the old type — each version's manifest carries its own
    schema."""
    base = current_version(path)
    if base < 0:
        raise FileNotFoundError(f"no committed version under {path}")
    man = _read_manifest(path, base)
    fields = _logical_fields(man)
    names = [n for n, _ in fields]
    if col not in names:
        raise ValueError(f"no column {col!r} in {names}")
    old_t = dict(fields)[col]
    if not _is_safe_widening(old_t, new_type):
        raise ValueError(
            f"cannot widen column {col!r} from {old_t} to {new_type}: "
            "only lossless widenings (integer chain, float->double, "
            "decimal precision growth at unchanged scale) are admitted"
        )
    manifest = {
        **man,
        "schema_ddl": ", ".join(
            f"{n} {new_type if n == col else t}" for n, t in fields
        ),
        "cdc": {"mode": "none"},
    }
    return _publish(path, manifest, base, "widen_column")


def alter_drop_column(path: str, name: str) -> int:
    """Drop a column WITHOUT rewriting any data file (drop-as-
    tombstone): a metadata-only commit removes it from the logical
    schema and records its physical name under ``dropped_physical``.
    The bytes remain in existing files (and in time travel); current
    reads prune the column at the parquet scan. Refused when the
    column backs a pruning structure (zone map, secondary stats,
    bloom index, deletion vectors) or an expectation — those must be
    retired first. Re-introducing the same name later is rejected
    (no field-ID indirection; the name would resurrect old bytes)."""
    base = current_version(path)
    if base < 0:
        raise FileNotFoundError(f"no committed version under {path}")
    man = _read_manifest(path, base)
    fields = _logical_fields(man)
    names = [n for n, _ in fields]
    if name not in names:
        raise ValueError(f"no column {name!r} in {names}")
    if len(names) == 1:
        raise ValueError("cannot drop the only column")
    phys = _phys(man, name)
    keyed = {
        "zone-map key": man.get("stats_col"),
        "deletion-vector key": man.get("dv_key"),
        "bloom index": (man.get("bloom_spec") or {}).get("col"),
    }
    for what, col in keyed.items():
        if col == phys:
            raise ValueError(
                f"column {name!r} backs the table's {what}; retire it first"
            )
    if phys in (man.get("stats_cols") or []):
        raise ValueError(
            f"column {name!r} has a secondary zone map; retire it first"
        )
    hit = _expectation_mentions(man, name)
    if hit:
        raise ValueError(
            f"expectations {hit} reference column {name!r}; drop them first"
        )
    cmap = dict(_col_map(man))
    cmap.pop(name, None)
    manifest = {
        **man,
        "schema_ddl": ", ".join(
            f"{n} {t}" for n, t in fields if n != name
        ),
        "dropped_physical": man.get("dropped_physical", []) + [phys],
        "cdc": {"mode": "none"},
    }
    if cmap:
        manifest["column_map"] = cmap
    else:
        manifest.pop("column_map", None)
    return _publish(path, manifest, base, "drop_column")


def drop_expectation(path: str, name: str) -> int:
    """Retire a table CHECK expectation by name (the ALTER TABLE DROP
    CONSTRAINT analog) via a metadata-only commit — without this, a
    contract declared once could never be withdrawn (every commit
    kind re-asserts the carried set). Raises KeyError if no such
    expectation exists; the reserved replace-where name is never
    stored, so it cannot be dropped."""
    base = current_version(path)
    if base < 0:
        raise FileNotFoundError(f"no committed version under {path}")
    man = _read_manifest(path, base)
    exprs = dict(man.get("expectations", {}))
    if name not in exprs:
        raise KeyError(
            f"no expectation {name!r} on table {path}; "
            f"declared: {sorted(exprs)}"
        )
    del exprs[name]
    manifest = {
        **man,
        "cdc": {"mode": "none"},
    }
    if exprs:
        manifest["expectations"] = exprs
    else:
        manifest.pop("expectations", None)
    return _publish(path, manifest, base, "drop_expectation")


def change_feed_enabled(path: str, version: int | None = None) -> bool:
    """Whether the table records commit-time change rows as of
    ``version`` (default: head). Off by default — see
    ``enable_change_feed``."""
    v = current_version(path) if version is None else version
    if v < 0:
        return False
    return bool(_read_manifest(path, v).get("change_feed"))


def enable_change_feed(path: str) -> int:
    """Turn ON commit-time change-feed recording for this table (the
    Delta ``ALTER TABLE ... SET TBLPROPERTIES (delta.
    enableChangeDataFeed = true)`` analog) via a metadata-only commit.

    The feed is OFF by default because recording is not free: every
    rewrite commit (upsert/merge/delete/replaceWhere) must read the
    affected pre-image rows and stage explicit CDC files — commit-time
    cost a table nobody tails should not pay (at 100 TB, a delete
    touching 0.1% of keys would still scan its snapshot slice for
    pre-images no consumer will read). Appends are always feed-
    readable regardless (their new files ARE the inserted rows), so
    enabling late loses no append history; rewrite commits made while
    the feed was off are marked ``unrecorded`` and raise
    ``CdfNotEnabledError`` from the log readers — replay such gaps
    with the snapshot-diff ``table_changes``, which needs no recorded
    log. Returns the published version."""
    base = current_version(path)
    if base < 0:
        raise FileNotFoundError(f"no committed version under {path}")
    man = _read_manifest(path, base)
    manifest = {
        **man,
        "change_feed": True,
        "cdc": {"mode": "none"},
    }
    return _publish(path, manifest, base, "set_change_feed")


def disable_change_feed(path: str) -> int:
    """Turn OFF commit-time change-feed recording (metadata-only
    commit). Already-recorded history stays readable; rewrite commits
    from here on stop staging change rows."""
    base = current_version(path)
    if base < 0:
        raise FileNotFoundError(f"no committed version under {path}")
    man = _read_manifest(path, base)
    manifest = {
        **{k: v for k, v in man.items() if k != "change_feed"},
        "cdc": {"mode": "none"},
    }
    return _publish(path, manifest, base, "set_change_feed")


def dv_file_count(path: str, version: int | None = None) -> int:
    """Number of live deletion-vector files — the compaction-cadence
    observability hook (large = readers pay a bigger anti-join)."""
    v = current_version(path) if version is None else version
    return len(_read_manifest(path, v).get("dvs", []))


def table_changes(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
    key: str | None = None,
) -> DataFrame:
    """Change data feed between two committed versions (Delta CDF
    analog): every row of the ``to`` snapshot not present identically
    in ``from`` surfaces as ``insert`` or ``update``, every ``from``
    key missing in ``to`` as ``delete``. Output = full ``to``/``from``
    row + ``_change_type`` — the shape a downstream incremental
    consumer (sync to a serving store, streaming backfill of a
    derived table) joins on.

    Computed as one full-outer join of the two snapshots on ``key``
    (both sides are manifest-pinned parquet scans, DV-aware; the join
    co-partitions on the key — one shuffle each side). Unchanged rows
    are dropped by comparing the full row struct, so the feed size is
    proportional to the CHANGE set, not the table. ``key`` defaults to
    the table's zone-map/stats column.
    """
    to_v = current_version(path) if to_version is None else to_version
    man = _read_manifest(path, to_v)
    k = key or _logical_of(man, man.get("stats_col") or man.get("dv_key"))
    if k is None:
        raise ValueError("pass key= (table has no stats/dv key to infer it from)")
    from pyspark.sql import functions as FF

    cols = [f.split(" ")[0] for f in man["schema_ddl"].split(", ")]
    # the FROM snapshot surfaces under the TO version's logical schema
    # (Delta CDF's end-version-schema convention): columns renamed in
    # the range resolve through their stable physical names, columns
    # added in the range surface NULL, columns dropped are omitted —
    # so a rename mid-range diffs values, not names
    old_man = _read_manifest(path, from_version)
    old = _scan_files(spark, path, old_man, old_man["files"], under=man)
    new = read_version(spark, path, to_v)
    o = old.select(FF.col(k).alias("__k"), FF.struct(*cols).alias("__old"))
    n = new.select(FF.col(k).alias("__k"), FF.struct(*cols).alias("__new"))
    j = o.join(n, "__k", "full_outer")
    # null-safe struct comparison: a field changing to/from NULL is a
    # change, not a three-valued-logic drop
    changed = j.filter(~FF.col("__old").eqNullSafe(FF.col("__new")))
    picked = changed.select(
        FF.coalesce(FF.col("__new"), FF.col("__old")).alias("__row"),
        FF.when(FF.col("__old").isNull(), FF.lit("insert"))
        .when(FF.col("__new").isNull(), FF.lit("delete"))
        .otherwise(FF.lit("update"))
        .alias("_change_type"),
    )
    return picked.select(*[FF.col(f"__row.{c}").alias(c) for c in cols], "_change_type")


def diff_tables(
    spark: SparkSession,
    path_a: str,
    path_b: str,
    key: str,
    columns: list[str] | None = None,
) -> DataFrame:
    """Row-level difference of two txn tables' CURRENT snapshots — the
    replica AUDIT primitive that closes the CDC loop: after
    ``apply_cdf_to_table`` catches a replica up, ``diff_tables(src,
    replica, key)`` must be EMPTY, and when it is not, the output says
    exactly which keys diverged and how (``only_in_a`` / ``only_in_b``
    / ``differs``). Same full-outer struct-compare machinery as
    ``table_changes``, pointed across tables instead of across
    versions: one key-partitioned join, output proportional to the
    DIVERGENCE, not the tables. ``columns`` restricts the comparison
    (e.g. audit ignoring an ingestion-timestamp column)."""
    from pyspark.sql import functions as FF

    a, b = read_table(spark, path_a), read_table(spark, path_b)
    cols = columns or [c for c in a.columns if c in set(b.columns)]
    sa = a.select(FF.col(key).alias("__k"), FF.struct(*cols).alias("__a"))
    sb = b.select(FF.col(key).alias("__k"), FF.struct(*cols).alias("__b"))
    j = sa.join(sb, "__k", "full_outer")
    diff = j.filter(~FF.col("__a").eqNullSafe(FF.col("__b")))
    return diff.select(
        FF.col("__k").alias(key),
        FF.when(FF.col("__b").isNull(), FF.lit("only_in_a"))
        .when(FF.col("__a").isNull(), FF.lit("only_in_b"))
        .otherwise(FF.lit("differs"))
        .alias("_diff_kind"),
        FF.col("__a").alias("a"),
        FF.col("__b").alias("b"),
    )


def version_as_of(path: str, ts: float) -> int:
    """Latest version whose commit wall-time is <= ``ts`` (Delta's
    ``TIMESTAMP AS OF``). Commit times are recorded in the manifests
    at publish; versions predating the ``committed_at`` field (or a
    clock-skewed earlier commit) are treated as time 0, keeping the
    mapping monotone. Raises if ``ts`` predates the first manifest."""
    best = -1
    for v in _manifest_versions(path):
        if _read_manifest(path, v).get("committed_at", 0.0) <= ts:
            best = v
    if best < 0:
        raise ValueError(
            f"no version at or before timestamp {ts} under {path} "
            "(or earlier manifests were retired by expire_manifests)"
        )
    return best


def read_as_of(spark: SparkSession, path: str, ts: float) -> DataFrame:
    """Snapshot read as of a wall-clock timestamp (time travel by
    time rather than version number)."""
    return read_version(spark, path, version_as_of(path, ts))


def _dv_live_refs(path: str, man: dict) -> set:
    """The manifest files some deletion-vector row still references —
    the exact set whose metadata answers (row counts, zone-map
    extremes) are stale and must be re-derived by scanning. DV rows
    pointing at since-rewritten files are inert, hence the
    intersection. Shared by every metadata-answering read
    (snapshot_row_count / snapshot_col_minmax / count_where /
    table_files), so the inert-DV scoping rule lives in ONE place."""
    dvs = man.get("dvs") or []
    if not dvs:
        return set()
    return _dv_referenced_file_names(path, dvs) & set(man.get("files", []))


def _file_row_count(path: str, man: dict, f: str) -> int:
    """A file's row count from the manifest, falling back to one
    parquet-footer read for pre-feature manifests."""
    counts = man.get("row_counts", {})
    return (
        counts[f]
        if f in counts
        else _parquet_num_rows(os.path.join(path, "data", f))
    )


def _dv_referenced_file_names(path: str, dvs: list) -> set:
    """Distinct ``file_name`` values across the DV files, read on the
    driver with pyarrow — DV files are small metadata by construction
    (O(deleted keys)), so this avoids paying a Spark job just to learn
    which data files need the suppression probe."""
    import pyarrow.parquet as pq

    out: set[str] = set()
    for n in dvs:
        t = pq.read_table(
            os.path.join(path, "data", n), columns=["file_name"]
        )
        out.update(t.column("file_name").to_pylist())
    return out


def snapshot_row_count(
    spark: SparkSession, path: str, version: int | None = None
) -> int:
    """Exact ``COUNT(*)`` of a snapshot WITHOUT scanning the data —
    the Delta/Iceberg answer-count-from-stats optimization. Every
    commit records per-file row counts in its manifest (``row_counts``
    in ``_commit_replace`` — free, the footer read already happens for
    the zero-row check), so a table with no deletion vectors answers
    from metadata alone: O(#files) dict lookups on the driver, zero
    executor work, zero bytes of data read.

    With live deletion vectors the suppressed rows must be subtracted.
    DV cardinality is NOT the answer: a DV row is a distinct
    ``(file, key)`` pair, which suppresses EVERY row bearing that key
    in that file (more than one under keyless dup-key appends), and
    rows referencing since-rewritten files are inert. So the probe
    scans ONLY the DV-referenced files still in the manifest — the
    same file-scoping as the delete itself — and counts their visible
    rows exactly through the shared DV filter; untouched files still
    answer from metadata. Pre-feature manifests fall back to parquet
    footer reads per file (still metadata, no data pages)."""
    v = current_version(path) if version is None else version
    if v < 0:
        raise FileNotFoundError(f"no committed version under {path}")
    man = _read_manifest(path, v)
    referenced = _dv_live_refs(path, man)
    total = sum(
        _file_row_count(path, man, f)
        for f in man.get("files", [])
        if f not in referenced
    )
    if referenced:
        total += _scan_files(spark, path, man, sorted(referenced)).count()
    return total


def count_where(
    spark: SparkSession,
    path: str,
    lo,
    hi,
    version: int | None = None,
    col: str | None = None,
    detail: bool = False,
):
    """Exact ``COUNT(*) WHERE col BETWEEN lo AND hi`` answered from
    commit metadata wherever the zone maps decide the predicate — the
    predicate-aware extension of ``snapshot_row_count``. Per file,
    three cases:

    - FULL PRUNE — the file's [min, max] is disjoint from [lo, hi]
      (``_choose_files`` leaves it out): contributes zero rows, zero
      bytes read — deletion vectors can only shrink zero matches;
    - FULL KEEP — the file's range is contained in [lo, hi], no
      deletion vector references the file, and the column is provably
      NULL-FREE in the file (min/max stats ignore NULLs, so
      containment alone only covers the non-null rows): every row
      matches and the manifest's recorded row count answers with zero
      I/O — null counts are recorded per file at commit time
      (``null_counts``, the Delta nullCount-stats analog), with a
      footer metadata read only for pre-feature files;
    - BOUNDARY — the file straddles an endpoint, lacks stats, or is
      DV-referenced (suppression can hollow out any file, so the
      metadata count would be stale-wrong — the same file-scoping as
      ``snapshot_row_count``): scanned, DV-filtered, and counted
      exactly; all boundary files go through ONE job.

    At 100 TB a clustered predicate prunes or metadata-answers almost
    every file and the scan cost is O(boundary files), not O(table).
    ``col=None`` counts on the key's zone map; otherwise ``col`` must
    be zoned (``stats_cols``). With
    ``detail=True`` returns ``(count, {"files_pruned": n,
    "files_metadata": n, "files_scanned": n})`` so callers (and tests)
    can assert HOW the answer was produced, not just its value."""
    from pyspark.sql import functions as F

    v = current_version(path) if version is None else version
    if v < 0:
        raise FileNotFoundError(f"no committed version under {path}")
    man = _read_manifest(path, v)
    ((colname, (lo, hi)),) = _physical_bounds(man, {col: (lo, hi)}).items()
    chosen = _choose_files(man, {colname: (lo, hi)})
    lookup = _zone_map(man, colname)
    referenced = _dv_live_refs(path, man)
    null_counts = man.get("null_counts", {})

    def _nulls(f: str):
        per_col = null_counts.get(f)
        if per_col is not None and colname in per_col:
            return per_col[colname]  # recorded at commit: zero I/O
        return _parquet_null_count(os.path.join(path, "data", f), colname)

    total = n_meta = 0
    boundary: list[str] = []
    # _cmp_stat keys: a date-widened column mixes date (pre-widening
    # files) and datetime (post-widening files / bounds) in its stats
    clo, chi = _cmp_stat(lo), _cmp_stat(hi)
    for f in chosen:
        s = lookup(f)
        if (
            s is not None
            and clo <= _cmp_stat(s[0])
            and _cmp_stat(s[1]) <= chi
            and f not in referenced
            # min/max stats ignore NULLs: "range contained" proves
            # every NON-NULL value matches, so the metadata answer is
            # exact only when the column is provably null-free in this
            # file — from the manifest's commit-time null_counts, with
            # a footer read only for pre-feature files (review r10)
            and _nulls(f) == 0
        ):
            total += _file_row_count(path, man, f)
            n_meta += 1
            continue
        boundary.append(f)
    if boundary:
        c = F.col(_logical_of(man, colname))
        total += (
            _scan_files(spark, path, man, sorted(boundary))
            .filter((c >= lo) & (c <= hi))
            .count()
        )
    if detail:
        return total, {
            "files_pruned": len(man["files"]) - len(chosen),
            "files_metadata": n_meta,
            "files_scanned": len(boundary),
        }
    return total


def snapshot_col_minmax(
    spark: SparkSession, path: str, col: str, version: int | None = None
) -> tuple:
    """Exact ``(MIN(col), MAX(col))`` of a snapshot from zone-map
    metadata (the stats-based aggregate pushdown Delta/Iceberg perform
    for MIN/MAX): files contribute their manifest-recorded per-file
    [min, max] — footer fallback when a file predates stats collection
    — so a DV-free table answers with zero data read.

    Deletion vectors can suppress the extremal row itself, so
    metadata-only would be WRONG under MoR deletes. The same
    file-scoping as ``snapshot_row_count`` keeps it exact: files no DV
    row references answer from metadata; the DV-referenced files are
    scanned (visible rows only) and folded in. At 100 TB a delete
    touches a vanishing fraction of files, so the probe stays
    marginal."""
    from pyspark.sql import functions as F

    v = current_version(path) if version is None else version
    if v < 0:
        raise FileNotFoundError(f"no committed version under {path}")
    man = _read_manifest(path, v)
    phys = _phys(man, col)
    referenced = _dv_live_refs(path, man)
    lo = hi = None
    # After a date→timestamp_ntz widening, pre-widening files carry
    # DATE stats while newer files carry datetimes; when the CURRENT
    # logical type is timestamp-like, promote dates to midnight (what
    # the upcasting reader yields for those rows) so folding is both
    # comparable and returns values in the snapshot's logical type.
    ltype = dict(_logical_fields(man)).get(_logical_of(man, phys), "")
    promote = ltype.startswith("timestamp")

    def _fold(a, b):
        nonlocal lo, hi
        if promote:
            a, b = _cmp_stat(a), _cmp_stat(b)
        if a is not None and (lo is None or a < lo):
            lo = a
        if b is not None and (hi is None or b > hi):
            hi = b

    # a column without a zone map answers from the footers alone
    lookup = _zone_map(man, phys)
    for f in man.get("files", []):
        if f in referenced:
            continue
        s = lookup(f)
        if s is None:
            s = _file_stats(os.path.join(path, "data", f), phys)
        if s is None:
            raise ValueError(
                f"file {f!r} has no usable min/max for column {col!r}"
            )
        _fold(_stat_from_json(s[0]), _stat_from_json(s[1]))
    if referenced:
        visible = _scan_files(spark, path, man, sorted(referenced))
        row = visible.agg(F.min(col), F.max(col)).collect()[0]
        _fold(row[0], row[1])
    return (lo, hi)


def table_files(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    col: str | None = None,
) -> DataFrame:
    """The snapshot's file inventory as a DataFrame (the Iceberg
    ``files`` metadata table / Delta ``DESCRIBE DETAIL`` analog) — one
    row per live data file:

    - ``file_name`` / ``size_bytes`` / ``n_rows`` — physical identity
      and the manifest's recorded row count (footer fallback for
      pre-feature manifests). Row counts are FILE-level facts: rows a
      deletion vector suppresses still count (use
      ``snapshot_row_count`` for the visible cardinality).
    - ``min_stat`` / ``max_stat`` / ``null_count`` — the zone-map
      range and commit-recorded null count of ``col`` (default: the
      key's zone-map column), rendered as strings so one schema serves
      int/date/decimal keys; NULL when the file has no recorded stats.
    - ``dv_referenced`` — whether any deletion-vector row targets the
      file (the compaction-priority signal).

    Metadata-only: O(#files) driver work off the manifest plus one
    pyarrow read of the (small) DV files; emitted as a local relation
    (``createDataFrame`` over an Arrow table), so no Spark job runs
    until the caller aggregates. Each per-column call re-derives the
    inventory (including the DV read) — surface several stats columns
    by joining calls on ``file_name``, or keep it to the hot column.
    This is the table an operator dashboard joins for small-file
    pressure, skew of file sizes, and DV debt."""
    v = current_version(path) if version is None else version
    if v < 0:
        raise FileNotFoundError(f"no committed version under {path}")
    man = _read_manifest(path, v)
    phys = man.get("stats_col") if col is None else _zoned_col(man, _phys(man, col))
    null_counts = man.get("null_counts", {})
    referenced = _dv_live_refs(path, man)

    import pyarrow as pa

    files = man["files"]
    bounds = list(map(_zone_map(man, phys), files))
    data = os.path.join(path, "data")
    inv = pa.table(
        {
            "file_name": files,
            "size_bytes": [os.path.getsize(os.path.join(data, f)) for f in files],
            "n_rows": [_file_row_count(path, man, f) for f in files],
            "min_stat": [str(b[0]) if b else None for b in bounds],
            "max_stat": [str(b[1]) if b else None for b in bounds],
            "null_count": [(null_counts.get(f) or {}).get(phys) for f in files],
            "dv_referenced": [f in referenced for f in files],
        }
    )
    # an Arrow table becomes a local relation; a list of rows would
    # become an RDD that starts Python workers on every action
    return spark.createDataFrame(
        inv,
        "file_name string, size_bytes bigint, n_rows bigint, "
        "min_stat string, max_stat string, null_count bigint, "
        "dv_referenced boolean",
    )


def table_health(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    col: str | None = None,
    small_file_bytes: int = 32 * 1024 * 1024,
) -> DataFrame:
    """One-row operational health report over :func:`table_files` —
    the DESCRIBE DETAIL + OPTIMIZE-planning companion every lakehouse
    ships. Columns:

    - ``n_files`` / ``total_bytes`` / ``total_rows`` — inventory
      totals (rows are PHYSICAL, DV-suppressed rows included).
    - ``size_skew`` / ``rows_skew`` — max-file / mean-file ratios; a
      skewed layout makes scans straggle on the big file and is the
      signal to re-bin (``compact``/``cluster_by_zorder``).
    - ``n_small_files`` — files under ``small_file_bytes`` (default
      32 MiB): small-file pressure, the primary OPTIMIZE trigger at
      100 TB where per-file open cost dominates tiny scans.
    - ``n_dv_referenced`` / ``dv_density`` — files carrying deletion-
      vector debt and their fraction; high density means MoR reads
      pay the anti-join on most files and a REWRITE is due.
    - ``null_count`` / ``null_fraction`` — recorded NULLs of the
      stats column (``col``, default: the key's); NULL when any file
      predates null-count recording (an unknown is not a zero).

    Same cost profile as ``table_files`` itself: O(#files) driver
    work, one Spark aggregate over a local relation — metadata-only,
    no data read at any scale."""
    from pyspark.sql import functions as F

    inv = table_files(spark, path, version=version, col=col)
    return inv.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("size_bytes").alias("total_bytes"),
        F.sum("n_rows").alias("total_rows"),
        (F.max("size_bytes") / F.avg("size_bytes")).alias("size_skew"),
        (F.max("n_rows") / F.avg("n_rows")).alias("rows_skew"),
        F.sum(
            (F.col("size_bytes") < small_file_bytes).cast("long")
        ).alias("n_small_files"),
        F.sum(F.col("dv_referenced").cast("long")).alias("n_dv_referenced"),
        (
            F.sum(F.col("dv_referenced").cast("long"))
            / F.count(F.lit(1))
        ).alias("dv_density"),
        # any file without a recorded null count poisons the total:
        # sum() would skip the NULL and understate — report unknown
        F.when(
            F.count(F.lit(1)) == F.count("null_count"),
            F.sum("null_count"),
        ).alias("null_count"),
        F.when(
            F.count(F.lit(1)) == F.count("null_count"),
            F.sum("null_count") / F.sum("n_rows"),
        ).alias("null_fraction"),
    )


def table_history(spark: SparkSession, path: str) -> DataFrame:
    """The table's commit log as a DataFrame (Delta ``DESCRIBE
    HISTORY`` parity; reference analog: the run-history metadata Mage
    keeps per pipeline trigger) — one row per retained manifest,
    oldest first:

    - ``version`` / ``committed_at`` — the commit and its wall time.
    - ``operation`` — the commit's provenance label stamped at publish
      time (``append``, ``upsert``, ``merge``, ``delete``,
      ``delete_mor``, ``replace_where``, ``compact``, ``clone``,
      ``restore``, ``rename_column``, ``drop_column``,
      ``drop_expectation``, ``set_change_feed``); NULL for manifests
      written before labels existed.
    - ``n_files`` / ``n_files_added`` / ``n_files_removed`` — the
      snapshot's data-file count and the file-level diff vs the parent
      manifest (a compaction shows both added and removed; a metadata
      commit shows 0/0).
    - ``n_dv_files`` — deletion-vector files alive at this version.
    - ``cdc_mode`` — how the commit's change feed is recorded
      (``append``/``files``/``none``/``unrecorded``; NULL pre-CDC).

    Metadata-only and O(#retained manifests) on the driver — the same
    cost profile as Delta's history reader, which also scans the log,
    and bounded by ``expire_manifests``. Versions below the expire
    floor are absent (their history is gone by design). Emitted as a
    local relation over an Arrow table, like ``table_files``."""
    import pyarrow as pa

    rows = []
    prev_files: set[str] = set()
    have_parent = False
    for v in _manifest_versions(path):
        man = _read_manifest(path, v)
        files = set(man.get("files", []))
        added = len(files - prev_files) if have_parent else len(files)
        removed = len(prev_files - files) if have_parent else 0
        rows.append(
            (
                v,
                float(man.get("committed_at", 0.0)),
                man.get("operation"),
                len(files),
                added,
                removed,
                len(man.get("dvs", []) or []),
                (man.get("cdc") or {}).get("mode"),
            )
        )
        prev_files, have_parent = files, True
    ddl = (
        "version long, committed_at double, operation string, "
        "n_files long, n_files_added long, n_files_removed long, "
        "n_dv_files long, cdc_mode string"
    )
    names = [f.split(" ")[0] for f in ddl.split(", ")]
    cols = list(zip(*rows)) or [()] * len(names)
    return spark.createDataFrame(pa.table(dict(zip(names, map(list, cols)))), ddl)


def commit_replace_where(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    predicate: str,
    expected_base: int | None = None,
) -> int:
    """INSERT OVERWRITE ... WHERE (Delta's ``replaceWhere``): atomically
    swap the slice of the table matching ``predicate`` (a SQL boolean
    expression) for ``df`` — the idempotent-backfill shape of the
    reference's date-window reloads (reference
    `data_loaders/extract_qb_customers_py.py:61-67`: re-extracting a
    window must replace that window, never duplicate it).

    Contract (same as Delta): every row of ``df`` must satisfy the
    predicate — otherwise the commit would silently write rows outside
    the slice it claims to replace — checked in one aggregate pass
    before anything is staged (ExpectationViolation on failure, along
    with any table-level expectations). Survivors are the snapshot
    rows NOT matching the predicate (null predicate rows survive:
    they are not in the replaced slice), so the new snapshot is
    survivors ∪ df in one atomic manifest switch; time travel still
    reaches the pre-replace slice.

    Scale (copy-on-write, round 7): only files holding at least one
    row matching the predicate are rewritten; every other file moves
    to the new version BY REFERENCE with its zone-map stats, Bloom
    bits, and deletion vectors intact. Touch detection is one
    aggregated scan projecting just the predicate columns with the
    predicate pushed to the parquet reader — row groups whose footer
    stats exclude it are never decoded — so the commit's WRITE cost is
    O(touched files + replacement), not O(table): at 100 TB, swapping
    one day's slice rewrites that day's files, not the table. Touch
    detection sees deletion vectors: a file whose only matching rows
    are DV-suppressed is carried, and its vectors keep suppressing
    them.
    """
    from pyspark.sql import functions as FF

    base = current_version(path) if expected_base is None else expected_base
    if base < 0:
        raise FileNotFoundError(f"no committed version under {path}")
    prev = _read_manifest(path, base)
    # slice-containment is checked under a RESERVED name that no stored
    # expectation may shadow (ADVICE r5: spreading stored expectations
    # after the predicate let a table expectation named
    # 'replace_where_predicate' silently replace the containment check)
    stored = prev.get("expectations", {})
    if _RESERVED_EXPECTATION in stored:
        raise ValueError(
            f"table expectation name {_RESERVED_EXPECTATION!r} is reserved "
            "for commit_replace_where's slice-containment check"
        )
    enforce_expectations(df, {**stored, _RESERVED_EXPECTATION: predicate})
    pred = FF.coalesce(FF.expr(predicate).cast("boolean"), FF.lit(False))
    # touch detection: which files hold a VISIBLE row matching the
    # predicate? One distinct-aggregate over the scan — Catalyst prunes
    # the read to the predicate's columns and pushes the filter through
    # the DV anti-join into the parquet reader, so untouched row groups
    # are skipped by their own footer stats. O(#files) driver traffic.
    touched = [
        r["__dv_file"]
        for r in _scan_files(spark, path, prev, prev["files"], keep_file=True)
        .filter(pred)
        .select("__dv_file")
        .distinct()
        .collect()
    ]
    target = _scan_files(spark, path, prev, touched)
    # every visible predicate-matching row lives in a touched file by
    # construction (a carried file's matching rows stay DV-suppressed),
    # so survivors-of-touched ∪ carried = the exact post-replace state,
    # and the CDC below is complete on this scope
    survivors = target.filter(~pred)
    merged = survivors.unionByName(df)
    # CDC = net change of the replaced slice (computed only for
    # feed-enabled tables). With a table key, keys in both old slice
    # and df classify as updates (value-compared, so an idempotent
    # re-replace records an empty change set); without one, the
    # multiset difference is exact the same way (exceptAll), with
    # old-only rows as deletes and new-only rows as inserts.
    if not touched:
        # no existing row matches the predicate: the commit is
        # append-shaped and the staged files ARE the change rows
        cdc = "append"
    elif prev.get("change_feed"):
        # _snapshot_diff_cdc handles the keyed-vs-multiset choice: the
        # stats/DV column is a pruning key, not a declared primary
        # key, and plain commit_append can land duplicates (ADVICE
        # r6: a duplicated key would cross-join old×new per value and
        # emit a quadratic, wrong update-pair set)
        old_slice = target.filter(pred)
        cols = [f.name for f in target.schema]
        key = _logical_of(prev, prev.get("stats_col") or prev.get("dv_key"))
        cdc = _snapshot_diff_cdc(old_slice, df.select(*cols), key, cols)
    else:
        cdc = "unrecorded"
    hit = set(touched)
    return _commit_replace(
        spark,
        merged,
        path,
        base,
        carried=[n for n in prev["files"] if n not in hit],
        extra_meta=_carry_meta(prev),
        cdc=cdc,
        op="replace_where",
    )


def clone_table(
    path_src: str, path_dst: str, version: int | None = None
) -> int:
    """Zero-copy shallow clone (Delta SHALLOW CLONE / Iceberg snapshot
    branch): publish ``path_dst`` version 0 referencing the SOURCE
    snapshot's data bytes without copying them — data and DV files are
    hard-linked (same inode, O(#files) metadata ops, zero data I/O),
    and the manifest carries the source's schema, zone-map stats,
    Bloom indexes, deletion vectors, and expectations, so pruned reads
    and the constraint contract work on the clone immediately.

    The clone is a fully independent table afterwards: writes to
    either side diverge freely, and because hard links pin inodes,
    ``vacuum``/``commit_delete`` on the source can never invalidate
    the clone (and vice versa). The dev/staging fork primitive: test a
    risky migration against production bytes without paying for them.

    On an object store without hard links, the same protocol stores
    absolute file URIs in the clone manifest instead — metadata-only
    either way. Raises FileExistsError if ``path_dst`` already has
    commits (clone creates tables, it never overwrites them).
    """
    src_version = current_version(path_src) if version is None else version
    if src_version < 0:
        raise FileNotFoundError(f"no committed version under {path_src}")
    if current_version(path_dst) >= 0:
        raise FileExistsError(f"{path_dst} is already a committed table")
    man = _read_manifest(path_src, src_version)
    os.makedirs(os.path.join(path_dst, "data"), exist_ok=True)
    for name in man["files"] + man.get("dvs", []):
        dst = os.path.join(path_dst, "data", name)
        if not os.path.exists(dst):
            os.link(os.path.join(path_src, "data", name), dst)
    manifest = {
        **man,
        "cloned_from": {"path": path_src, "version": src_version},
        # the clone's genesis change feed is its whole snapshot as
        # inserts (its data files; the source's CDC files are not
        # linked and must not be referenced)
        "cdc": {"mode": "append", "files": man["files"]},
    }
    # base -1: the clone's genesis is version 0 of a new table; the
    # publish replaces the SOURCE commit's operation label
    return _publish(path_dst, manifest, -1, "clone")


def restore_table(
    spark: SparkSession,
    path: str,
    version: int,
    expected_base: int | None = None,
) -> int:
    """Roll the table back (Delta ``RESTORE TABLE ... TO VERSION AS
    OF`` parity): publish a NEW commit whose state — data files,
    schema, zone maps, Blooms, deletion vectors, expectations, column
    mapping — is the table's state at ``version``. The rolled-back
    commits are NOT erased: history stays time-travelable, concurrent
    writers CAS against the restore like any commit, and change-feed
    consumers converge by reading its change rows instead of
    re-seeding.

    ZERO data movement: the restored manifest re-references the target
    version's files (alive for vacuum through both manifests);
    restoring past the ``expire_manifests`` floor fails at manifest
    read — the same contract as time travel. Properties owned by the
    OPERATOR carry from HEAD, not the target: the ``change_feed``
    opt-in (a feed enabled after the bad commits must not silently
    revert) and every replay watermark — ``cdc_applied_version``,
    ``app_versions`` and ``scd2_last_batch`` (a regressed watermark
    would re-apply a replayed batch, bringing restored-away rows back).

    Change recording (feed on): the net diff head→target — keyed
    snapshot diff with update pre/post-image pairs, multiset
    ``exceptAll`` fallback when the key duplicates, exactly the
    replace-where convention — staged as ordinary CDC files, so a
    downstream replica applies the rollback as data. Feed off: the
    step records ``unrecorded`` (log readers raise the typed error;
    snapshot-diff ``table_changes`` still serves).
    """
    base = current_version(path) if expected_base is None else expected_base
    if base < 0:
        raise FileNotFoundError(f"no committed version under {path}")
    if not 0 <= version <= base:
        raise ValueError(
            f"cannot restore {path} to version {version}: head is {base}"
        )
    if version == base:
        return base  # restoring to head: nothing to publish
    head = _read_manifest(path, base)
    target = _read_manifest(path, version)
    manifest = {k: v for k, v in target.items() if k != "cdc"}
    manifest["restored_from"] = version
    operator_keys = (
        "change_feed", "cdc_applied_version", "app_versions", "scd2_last_batch"
    )
    for k in operator_keys:
        manifest.pop(k, None)
        if k in head:
            manifest[k] = head[k]
    if head.get("change_feed"):
        cols = [f.split(" ")[0] for f in target["schema_ddl"].split(", ")]
        # head rows surfaced under the TARGET's logical schema, so the
        # diff compares values even across renames/drops in the range
        old = _scan_files(spark, path, head, head["files"], under=target)
        new = read_version(spark, path, version)
        key = _logical_of(
            target, target.get("stats_col") or target.get("dv_key")
        )
        cdc_df = _snapshot_diff_cdc(old, new, key, cols)
        manifest["cdc"] = {
            "mode": "files",
            "files": _stage_cdc_files(
                spark, cdc_df, path, uuid.uuid4().hex, _col_map(target)
            ),
        }
    else:
        manifest["cdc"] = {"mode": "unrecorded"}
    return _publish(path, manifest, base, "restore")


def _bound_sql(v, ltype: str) -> str:
    """A zone-map bound as a SQL literal of the key's logical type
    ``ltype``. Timestamp stats are naive UTC instants (``_norm_stat``)
    and timestamp_ntz stats wall-clock values — either may be a DATE
    from a file written before a date→timestamp widening, which
    ``_cmp_stat`` promotes to its midnight."""
    if ltype == "timestamp":
        return f"TIMESTAMP '{_cmp_stat(v).isoformat(sep=' ')}Z'"
    if ltype == "timestamp_ntz":
        return f"TIMESTAMP_NTZ '{_cmp_stat(v).isoformat(sep=' ')}'"
    if isinstance(v, bytes):
        return f"CAST(X'{v.hex()}' AS {ltype})"
    if isinstance(v, str):
        v = v.replace("\\", "\\\\").replace("'", "\\'")
    return f"CAST('{v}' AS {ltype})"


def _probe_source(
    spark: SparkSession, man: dict, source: DataFrame, key: str
) -> tuple[int, list, list[str]]:
    """``(source rows, [a duplicated key] or [], touched files)`` from
    ONE aggregate — the duplicate-key check MERGE runs anyway, with the
    touched-file probe riding along (same shuffle, same Spark jobs).

    The touched set comes from the manifest: on a table with a zone
    map on ``key`` (``_zoned_cols``), a file is touched when its [min,
    max] holds at least one source key (per-file interval membership,
    not the batch's [min, max] envelope, which degrades to every file
    when a batch mixes low and high keys) or when it has no stats; on
    any other table every file is touched. The O(#files) bounds travel as
    a literal array in the aggregate's expression, so the probe adds no
    join and no job; the driver collects at most two rows. An empty
    source touches nothing."""
    from pyspark.sql import functions as FF

    files, lookup = man["files"], _zone_map(man, _phys(man, key))
    stats = {n: s for n in files if (s := lookup(n)) is not None}
    # a table created by this merge has no schema and no stats yet
    ltype = dict(_logical_fields(man)).get(key) if stats else None
    # ONE SQL expression, not O(#files) Column objects: each Column
    # call is a driver-JVM round trip
    bounds = ", ".join(
        f"named_struct('i', {i}, 'lo', {_bound_sql(stats[n][0], ltype)}, "
        f"'hi', {_bound_sql(stats[n][1], ltype)})"
        for i, n in enumerate(files)
        if n in stats
    )
    k = "`" + key.replace("`", "``") + "`"
    aggs = [FF.grouping_id().alias("__g"), FF.count(FF.lit(1)).alias("__n")]
    if bounds:
        aggs.append(
            FF.expr(
                "array_distinct(flatten(collect_set(transform(filter("
                f"array({bounds}), __b -> {k} >= __b.lo AND {k} <= __b.hi), "
                "__b -> __b.i))))"
            ).alias("__h")
        )
    # ROLLUP(key) is the grouping sets (key) and (): ONE shuffle yields
    # the per-key counts (a duplicate is __n > 1) and the whole-batch
    # row (__g = 1, sorted first); an empty source yields no row at all
    rows = (
        source.rollup(key)
        .agg(*aggs)
        .filter((FF.col("__g") == 1) | (FF.col("__n") > 1))
        .orderBy(FF.col("__g").desc())
        .limit(2)
        .collect()
    )
    if not rows:
        return 0, [], []
    n_rows, dup = rows[0]["__n"], [r[key] for r in rows[1:]]
    hit = {files[i] for i in (rows[0]["__h"] if bounds else [])}
    return n_rows, dup, [n for n in files if n in hit or n not in stats]


def _merge(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    key: str,
    base: int,
    op: str,
    *,
    matched_update: bool = True,
    matched_delete: str | None = None,
    not_matched_insert: bool = True,
    meta: dict | None = None,
    delete_keys: bool = False,
) -> int:
    """The one copy-on-write MERGE core behind ``commit_merge``,
    ``commit_upsert`` and ``commit_delete`` (``delete_keys``: ``source``
    is a key set whose matching rows all depart, duplicates allowed).

    ``_probe_source`` picks the touched files from the manifest; only
    those are read (DV-aware) and rewritten, and every other file moves
    forward by reference through ``_commit_replace``'s carry-forward.
    Zone-map containment keeps the clause semantics exact on the pruned
    scope: any existing row with a source key lives in a touched file,
    so matched / not-matched classification against the touched subset
    equals classification against the whole table, and the change rows
    are complete. ``base < 0`` (an upsert creating the table) writes the
    source as the first version."""
    from pyspark.sql import functions as FF

    man = _read_manifest(path, base) if base >= 0 else {"files": []}
    n_rows, dup, touched = _probe_source(spark, man, source, key)
    if dup and not delete_keys:
        raise ValueError(
            f"MERGE source has duplicate key {dup[0]!r}; a key must match "
            "at most one source row (and a duplicated key would emit "
            "cross-joined CDC pairs)"
        )
    target = (
        _scan_files(spark, path, man, touched) if base >= 0 else source.limit(0)
    )
    cols = target.columns
    if delete_keys:
        writes, departures = None, source
        gone = departures
    else:
        del_pred = (
            FF.coalesce(FF.expr(matched_delete).cast("boolean"), FF.lit(False))
            if matched_delete is not None
            else FF.lit(False)
        )
        writes = source.filter(~del_pred)
        departures = source.filter(del_pred).select(key)
        if not not_matched_insert:
            writes = writes.join(target.select(key), key, "left_semi")
        if not matched_update:
            writes = writes.join(target.select(key), key, "left_anti")
        writes = writes.select(*cols)
        # the contract binds the rows the merge WRITES; delete-clause
        # rows are departures, not writes
        enforce_expectations(writes, man.get("expectations", {}))
        gone = writes.select(key).unionByName(departures)
    merged = target.join(gone, key, "left_anti")
    if writes is not None:
        merged = merged.unionByName(writes)
    if not touched:
        # no existing file can hold a source key: every write inserts
        # and every departure is a no-op, so the commit is append-shaped
        # and its staged files ARE the change rows
        cdc = "append" if writes is not None and n_rows else "none"
    elif man.get("change_feed"):
        # written rows classify as insert/update against the target
        # (value-compared — re-merging identical rows records nothing);
        # departures surface the departed rows' pre-image, and
        # tombstones for absent keys emit nothing (semi join)
        cdc = target.join(departures, key, "left_semi").withColumn(
            "_change_type", FF.lit("delete")
        )
        if writes is not None:
            cdc = _cdc_upsert_changes(target, writes, key, cols).unionByName(cdc)
    else:
        cdc = "unrecorded"
    hit = set(touched)
    return _commit_replace(
        spark,
        merged,
        path,
        base,
        carried=[n for n in man["files"] if n not in hit],
        extra_meta={**_carry_meta(man), **(meta or {})},
        cdc=cdc,
        op=op,
    )


def commit_merge(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    key: str,
    *,
    matched_update: bool = True,
    matched_delete: str | None = None,
    not_matched_insert: bool = True,
    expected_base: int | None = None,
    meta: dict | None = None,
) -> int:
    """MERGE INTO with the three standard clauses (Delta/ANSI MERGE;
    ``commit_upsert`` is the update+insert special case):

    - WHEN MATCHED AND ``matched_delete`` → the target row is removed
      (``matched_delete`` is a SQL predicate over the SOURCE row, e.g.
      a CDC tombstone flag ``op = 'D'``);
    - WHEN MATCHED (otherwise, if ``matched_update``) → the source row
      replaces the target row;
    - WHEN NOT MATCHED (if ``not_matched_insert``) → the source row
      inserts, unless it is a delete-clause row (a tombstone for an
      absent key is a no-op, the CDC-apply convention).

    One anti-join + one union publish the rewrite atomically — the
    single-statement CDC-apply primitive (apply_changes lands a
    Debezium-style feed in one MERGE per batch). The table's
    expectations contract is enforced on the rows the merge WRITES
    (delete-clause rows are departures, not writes). Source must not
    contain duplicate keys (classic MERGE nondeterminism) — checked
    in the same aggregate that probes the touched files, ValueError on
    violation. ``meta`` lands extra keys in the published manifest
    ATOMICALLY with the merge — the transactional-watermark hook (e.g.
    ``cdc_applied_version``) that makes non-idempotent incremental
    maintenance exactly-once; an empty source still publishes it (a
    metadata-only version).

    Scale: copy-on-write. On a table whose zone-map stats are keyed on
    ``key`` (written with ``commit_append_with_stats``) only files
    whose key interval holds a source key are read and rewritten, so a
    replica micro-batch costs O(files overlapping its keys), not
    O(table); any other table rewrites every file. The merge writes
    exactly the table's columns: source columns beyond them (an op
    flag the ``matched_delete`` predicate reads) are projected away.
    """
    base = current_version(path) if expected_base is None else expected_base
    if base < 0:
        raise FileNotFoundError(f"no committed version under {path}")
    return _merge(
        spark,
        source,
        path,
        key,
        base,
        "merge",
        matched_update=matched_update,
        matched_delete=matched_delete,
        not_matched_insert=not_matched_insert,
        meta=meta,
    )


_SCD2_COLS = ("valid_from", "valid_to", "is_current")


def scd2_current(spark: SparkSession, path: str) -> DataFrame:
    """The SCD2 table's current snapshot — one row per live key (the
    type-1 view of a type-2 history; deleted keys are absent)."""
    from pyspark.sql import functions as FF

    return read_table(spark, path).filter(FF.col("is_current"))


def scd2_as_of(spark: SparkSession, path: str, seq) -> DataFrame:
    """Point-in-time view of the SCD2 history: each key's row whose
    validity interval contains ``seq`` (``valid_from <= seq <
    valid_to``, open intervals unbounded above) — at most one row per
    key by the non-overlap invariant ``apply_changes_scd2`` maintains,
    so the filter IS the as-of join (no window, no self-join; one
    predicate the scan pushes down). Keys deleted at or before ``seq``
    are absent, matching ``scd2_current`` at ``seq = +inf``."""
    from pyspark.sql import functions as FF

    return read_table(spark, path).filter(
        (FF.col("valid_from") <= FF.lit(seq))
        & (
            FF.col("valid_to").isNull()
            | (FF.col("valid_to") > FF.lit(seq))
        )
    )


def apply_changes_scd2(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    key: str,
    seq_col: str,
    op_col: str | None = None,
    delete_ops: tuple = ("delete", "d"),
    batch_id: str | None = None,
    expected_base: int | None = None,
) -> int:
    """Incrementally maintain a TYPE-2 slowly-changing-dimension table
    from a change feed (the ``APPLY CHANGES ... STORED AS SCD TYPE 2``
    verb of Delta Live Tables; the batch analog of the reference's
    last-wins CDC compaction, keeping history instead of discarding
    it). The target's schema is the change payload plus three
    maintained columns: ``valid_from`` / ``valid_to`` (the ``seq_col``
    interval, ``valid_to`` NULL while current) and ``is_current``.

    Batch semantics, per key ordered by ``seq_col``:

    - every insert/update op opens a version row at its sequence and
      closes at the NEXT op's sequence (any type) — multiple changes
      for one key in one batch fold into adjacent intervals;
    - a delete op (``op_col`` value in ``delete_ops``, case-
      insensitive) closes the preceding interval and opens nothing —
      a tombstone for an absent key is a no-op (the CDC-apply
      convention, same as ``commit_merge``);
    - the target's current row for each batch key closes at the key's
      FIRST batch sequence.

    Ordering contract: ``(key, seq)`` must be unique in the batch and
    every batch sequence must be STRICTLY greater than everything the
    target already recorded for that key (max of ``valid_from`` and
    any close) — out-of-order arrivals would silently corrupt history,
    so they raise instead. Exactly-once under at-least-once delivery:
    pass ``batch_id``; the id lands in the manifest atomically with
    the commit, and a replay of the SAME last batch returns the head
    unchanged (the foreachBatch replay guard, same watermark mechanism
    as ``commit_merge(meta=...)``).

    Scale: copy-on-write with zone-map file pruning on ``key`` (the
    same touched-file probe as ``commit_merge``) — only files that may
    hold a batch key are rewritten; everything else carries forward by
    reference with its stats. CDC (feed-enabled tables): closed
    current rows emit update_preimage/update_postimage, new version
    rows emit insert.
    """
    from pyspark.sql import functions as FF
    from pyspark.sql.window import Window as _W

    base = current_version(path) if expected_base is None else expected_base
    reserved = set(_SCD2_COLS)
    payload = [
        c for c in changes.columns if c not in {key, seq_col, op_col}
    ]
    clash = sorted(reserved & set(payload) | reserved & {key, seq_col})
    if clash:
        raise ValueError(
            f"change columns collide with maintained SCD2 columns: {clash}"
        )
    # replay guard FIRST: one small manifest read — a foreachBatch
    # retry must no-op without paying any Spark job (review r11)
    if base >= 0 and batch_id is not None:
        if _read_manifest(path, base).get("scd2_last_batch") == batch_id:
            return base  # replayed last batch: exactly-once no-op
    # cache the batch: validations, the fold, first_seq, and the key
    # probe otherwise re-evaluate the source ~6 times. persist (not
    # localCheckpoint): checkpointing severs the plan and with it the
    # batch's output partitioning, which the window fold reuses to
    # stage range-clustered files (the zone maps CoW pruning lives on)
    changes = changes.persist()
    try:
        if changes.limit(1).count() == 0:
            return base
        dup = (
            changes.groupBy(key, seq_col)
            .count()
            .filter(FF.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"duplicate (key, seq) in change batch: "
                f"({dup[0][key]!r}, {dup[0][seq_col]!r}) — the fold order "
                "would be nondeterministic"
            )
        if changes.filter(FF.col(seq_col).isNull()).limit(1).count():
            raise ValueError(f"NULL {seq_col!r} in change batch")

        is_del = (
            FF.lower(FF.col(op_col).cast("string")).isin(
                [o.lower() for o in delete_ops]
            )
            if op_col is not None
            else FF.lit(False)
        )
        w = _W.partitionBy(key).orderBy(seq_col)
        folded = changes.withColumn("__del", is_del).select(
            key,
            *payload,
            FF.col(seq_col).alias("valid_from"),
            FF.lead(seq_col).over(w).alias("valid_to"),
            "__del",
        )
        new_rows = folded.filter(~FF.col("__del")).select(
            key,
            *payload,
            "valid_from",
            "valid_to",
            FF.col("valid_to").isNull().alias("is_current"),
        )
        first_seq = changes.groupBy(key).agg(
            FF.min(seq_col).alias("__first_seq")
        )
        meta_mark = {"scd2_last_batch": batch_id} if batch_id is not None else {}

        if base < 0:
            # bootstrap: the fold IS the table (absent-key tombstones
            # already dropped); zone-map stats on the key for CoW pruning
            v = _commit_replace(
                spark,
                new_rows,
                path,
                base,
                stats_col=key,
                extra_meta=meta_mark or None,
                cdc="append",
                op="scd2_apply",
            )
            return v

        man = _read_manifest(path, base)
        if man.get("stats_col") != _phys(man, key):
            raise ValueError(
                f"SCD2 table at {path} lacks zone-map stats on {key!r}"
            )
        table_cols = [f.split(" ")[0] for f in man["schema_ddl"].split(", ")]
        missing = [c for c in new_rows.columns if c not in table_cols]
        if missing:
            raise ValueError(
                f"change payload adds columns absent from the SCD2 table: "
                f"{missing} (widen the table first)"
            )
        absent = [c for c in table_cols if c not in new_rows.columns]
        if absent:
            raise ValueError(
                f"change batch lacks SCD2 table columns {absent}: APPLY "
                "CHANGES writes full rows — project the missing columns "
                "into the batch (carrying forward a partial payload would "
                "silently null history)"
            )
        enforce_expectations(new_rows, man.get("expectations", {}))
        # (key, seq) may repeat a key legitimately: the probe's
        # duplicate-key answer is not this contract's
        touched = _probe_source(spark, man, changes.select(key), key)[2]
        existing = _scan_files(spark, path, man, touched)
        # no forced broadcast: first_seq is one row per BATCH key, and a
        # backfill batch can be corpus-sized — AQE picks the strategy from
        # its measured size (it broadcasts the common micro-batch case)
        hit = existing.join(first_seq, key, "left")
        # out-of-order guard: the key's whole recorded history must
        # precede the batch (closes included — re-opening a deleted key
        # below its deletion sequence would interleave intervals)
        viol = (
            hit.filter(FF.col("__first_seq").isNotNull())
            .filter(
                FF.greatest(
                    FF.col("valid_from"),
                    FF.coalesce(FF.col("valid_to"), FF.col("valid_from")),
                )
                >= FF.col("__first_seq")
            )
            .limit(1)
            .collect()
        )
        if viol:
            raise ValueError(
                f"out-of-order change batch: key {viol[0][key]!r} already "
                f"records history at/after the batch's first sequence "
                f"{viol[0]['__first_seq']!r}"
            )
        closing = FF.col("is_current") & FF.col("__first_seq").isNotNull()
        rewritten = hit.select(
            *[
                c
                for c in table_cols
                if c not in ("valid_to", "is_current")
            ],
            FF.when(closing, FF.col("__first_seq"))
            .otherwise(FF.col("valid_to"))
            .alias("valid_to"),
            FF.when(closing, FF.lit(False))
            .otherwise(FF.col("is_current"))
            .alias("is_current"),
        ).select(*table_cols)
        merged = rewritten.unionByName(new_rows.select(*table_cols))
        if man.get("change_feed"):
            # closed current rows: pre-image (still-open) + post-image
            # (closed at the key's first batch sequence); every new
            # version row is an insert — the same Delta-CDF row grammar
            # the feed reader and IVM consumers already speak
            pre = hit.filter(closing).select(
                *table_cols, FF.lit("update_preimage").alias("_change_type")
            )
            post = (
                hit.filter(closing)
                .select(
                    *[
                        c
                        for c in table_cols
                        if c not in ("valid_to", "is_current")
                    ],
                    FF.col("__first_seq").alias("valid_to"),
                    FF.lit(False).alias("is_current"),
                )
                .select(*table_cols)
                .withColumn("_change_type", FF.lit("update_postimage"))
            )
            ins = new_rows.select(*table_cols).withColumn(
                "_change_type", FF.lit("insert")
            )
            cdc = ins.unionByName(pre).unionByName(post)
        else:
            cdc = "unrecorded"
        hit = set(touched)
        return _commit_replace(
            spark,
            merged,
            path,
            base,
            carried=[n for n in man["files"] if n not in hit],
            extra_meta={**_carry_meta(man), **meta_mark},
            cdc=cdc,
            op="scd2_apply",
        )
    finally:
        # idempotent and cheap on the success path; without it every
        # raise (validation, expectation, commit conflict) leaked the
        # persisted batch for callers that catch and retry
        changes.unpersist()


def _checkpoint_writer_id(checkpoint_dir: str) -> str:
    """The writer identity co-located with a streaming checkpoint: a
    uuid minted atomically (O_CREAT|O_EXCL; racers adopt the winner's)
    on first use and re-read on every resume. Its lifetime IS the
    checkpoint's lifetime — deleting the checkpoint deletes the
    identity, which is exactly what makes a same-path recreation a
    new writer whose batch 0 must apply."""
    marker = os.path.join(checkpoint_dir, ".writer_id")
    try:
        with open(marker, encoding="ascii") as f:
            return f.read().strip()
    except FileNotFoundError:
        pass
    os.makedirs(checkpoint_dir, exist_ok=True)
    ident = uuid.uuid4().hex[:12]
    try:
        fd = os.open(marker, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        os.write(fd, ident.encode("ascii"))
        os.close(fd)
        return ident
    except FileExistsError:
        with open(marker, encoding="ascii") as f:
            return f.read().strip()


def stream_scd2(
    source: DataFrame,
    path: str,
    *,
    key: str,
    seq_col: str,
    op_col: str | None = None,
    checkpoint_dir: str,
    app_id: str | None = None,
):
    """Streaming SCD TYPE 2 maintenance: each micro-batch of the
    change stream applies through :func:`apply_changes_scd2` inside
    foreachBatch — the streaming face of APPLY CHANGES. Exactly-once
    is double-layered: the streaming checkpoint absorbs micro-batch
    replays across restarts, and the engine-generated ``batch_id``
    lands in the manifest so even a replay that slips past the
    checkpoint (foreachBatch retry after a sink-side crash) is a
    provable no-op. Returns the started query.

    The manifest watermark is namespaced by a stable writer identity —
    ``app_id`` when given, else a uuid PERSISTED INSIDE the checkpoint
    directory on first use — because streaming batch ids restart at 0
    with a fresh checkpoint: an un-namespaced numeric match would
    silently skip the first batches of a checkpoint-loss recovery as
    "replays" (the same per-writer watermark Delta solves with
    ``txnAppId`` and this repo's ``commit_append`` solves with
    ``(txn_app, txn_version)``). The marker lives WITH the checkpoint,
    not derived from its path (review r12): a checkpoint deleted and
    recreated at the SAME path is a new writer — its marker died with
    the old checkpoint, so it mints a new identity and its batch 0
    applies — while a resumed checkpoint re-reads the same uuid and
    stays exactly-once. Callers supplying ``app_id`` own that
    lifecycle themselves (reset batch ids => supply a new app_id)."""
    ident = app_id or _checkpoint_writer_id(checkpoint_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        apply_changes_scd2(
            batch_df.sparkSession,
            path,
            batch_df,
            key,
            seq_col,
            op_col=op_col,
            batch_id=f"{ident}-{batch_id}",
        )

    return (
        source.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
