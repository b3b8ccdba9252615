"""Streaming change-data-capture source over the transactional table:
``spark.readStream.format("txn_cdf")`` tails the manifest log and
emits each commit's NET row changes as (row..., _change_type,
_commit_version) micro-batches — the streaming face of
``operators/txn.table_changes`` (Delta CDF-as-stream analog), built on
Spark 4's Python streaming DataSource API.

Exactly-once comes from the offset being the table VERSION: the
streaming checkpoint records {"version": N}; a restarted query replays
``partitions`` over the same immutable manifests and gets
byte-identical batches, because manifests, data files, and CDC files
are never mutated.

Scale posture — the change rows are determined at COMMIT time and read
with one Spark task per changed file, so no row ever passes through
the driver (Delta's CDF architecture):

- every mutating commit in ``operators/txn.py`` records its net effect
  in the manifest: appends declare their new files ARE the inserted
  rows (``cdc.mode = "append"``, zero extra bytes — always, the record
  is free); rewrite commits (upsert/merge/delete/replaceWhere) stage
  explicit CDC parquet files of (row..., _change_type) computed as
  Spark joins at commit time — ONLY when the table's ``change_feed``
  property is set (per-table opt-in, Delta ``enableChangeDataFeed``
  parity; a non-feed rewrite records ``mode = "unrecorded"`` and this
  module raises ``CdfNotEnabledError`` on it) — with updates recorded
  as ``update_preimage`` + ``update_postimage`` pairs (Delta CDF's
  format — the pre-image is what lets an incremental AGGREGATE retract
  the old contribution); compaction declares ``mode = "none"``
  (dataChange=false) and the feed skips it;
- the stream reader's ``partitions(start, end)`` touches only
  MANIFESTS (O(changed files) metadata on the driver); ``read`` runs
  on executors, one partition per changed/CDC file, yielding Arrow
  record batches.

Because batches concatenate per-commit changes (no cross-commit
netting — same as Delta CDF), a catch-up batch spanning several
versions can carry multiple changes for one key; ``_commit_version``
orders them, and ``apply_cdf_to_table`` reduces to the latest change
per key with one distributed window before merging.

Retention interaction: a consumer lagging past ``expire_manifests`` +
``vacuum`` raises ``CdfRetentionError`` naming the earliest version
still served — size retention to the slowest consumer. Tables written
before commit-time CDC existed (no ``cdc`` manifest key) are readable
when the step is append-shaped (inferred from the file diff); other
legacy steps raise ``CdfProtocolError`` pointing at the batch
``table_changes`` API.

Admission control (Delta ``maxFilesPerTrigger``/``maxBytesPerTrigger``
parity): without a cap, a stream catching up over a deep commit
backlog plans ONE micro-batch spanning every pending commit — bin
packing parallelizes it, but checkpoint granularity, sink transaction
size, and retry blast-radius are unbounded, and a failure near the
end replays the entire catch-up. ``max_files_per_trigger`` /
``max_bytes_per_trigger`` bound how many change-unit files/bytes
``latestOffset`` admits per micro-batch. Offsets are table VERSIONS,
so admission is version-granular: at least one version is always
admitted, and a single huge commit never splits (its bin-packed
partitions still fan out). The Python DataSource API lacks the JVM
``SupportsAdmissionControl`` variant that hands ``latestOffset`` the
current position, so the reader derives it from the callbacks that
carry it — safe in both lifecycle paths (see the ``_floor`` comment
in the reader). ``availableNow`` falls back to single-batch execution
on Python sources, so a capped availableNow run drains one capped
batch per invocation — drive a capped catch-up with a processingTime
trigger (``processAllAvailable`` loops until drained) or repeated
availableNow runs.

Options: path (required), start_version (default -1 = from genesis),
start_timestamp, max_partition_bytes, max_files_per_trigger,
max_bytes_per_trigger.
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from qb_data_pipeline_backfill_spark.operators.txn import (
    _manifest_versions,
    _read_manifest,
    current_version,
)


class CdfRetentionError(RuntimeError):
    """The change feed needs a version whose manifest was retired by
    ``expire_manifests`` (and possibly vacuumed): the consumer lagged
    past the table's retention window. Restart from a served version
    or re-seed the replica from a snapshot read."""


class CdfProtocolError(RuntimeError):
    """A version step carries no commit-time CDC record and is not
    append-shaped (written before commit-time CDC existed): the
    streaming feed cannot replay it. Use the batch
    ``operators/txn.table_changes`` across the gap instead."""


class CdfNotEnabledError(CdfProtocolError):
    """A version step in the requested range changed data while the
    table's ``change_feed`` property was OFF, so no change rows were
    recorded at commit time (recording is opt-in — Delta's
    ``enableChangeDataFeed`` semantics). Turn it on with
    ``operators/txn.enable_change_feed`` for future commits; replay
    the unrecorded gap with the snapshot-diff ``table_changes``."""


# Bin-packing budget for one stream partition (the
# spark.sql.files.maxPartitionBytes analog): a catch-up over thousands
# of small commits must not plan one Spark task per tiny CDC file.
_DEFAULT_PARTITION_BYTES = 64 * 1024 * 1024


class CdfFilePartition(InputPartition):
    """One Spark task = a size-budgeted BATCH of changed/CDC files.

    ``units`` is a list of (file_path, file_name, version,
    change_type, dv_paths, dv_key) tuples: ``change_type`` is
    ``"insert"`` for append-mode data files and None for explicit CDC
    files (which carry their own ``_change_type`` column); ``dv_paths``
    lists the commit's deletion-vector files when the manifest carries
    DVs that may suppress rows of the file (clone genesis) — fresh
    append files are never DV-covered and carry an empty tuple. Files
    are packed up to a byte budget (planner-side ``os.path.getsize``,
    metadata only), so ten thousand 10 KB commit deltas plan as a few
    dozen tasks, while one 10 GB backfill commit still fans out
    per-file.
    """

    def __init__(self, units: list, arrow_schema, column_map: dict | None):
        self.units = units
        self.arrow_schema = arrow_schema
        # logical → physical parquet column names (column-mapping
        # renames; physical names are stable across the table's life)
        self.column_map = column_map or {}


def _manifest_or_retention_error(path: str, version: int) -> dict:
    try:
        return _read_manifest(path, version)
    except FileNotFoundError:
        served = _manifest_versions(path)
        raise CdfRetentionError(
            f"change feed needs version {version} of {path}, but "
            "its manifest was retired by expire_manifests(); earliest "
            f"version still served is "
            f"{min(served) if served else '<none>'} — restart the "
            "consumer from a served version or re-seed from a snapshot"
        ) from None


def _step_cdc(path: str, version: int) -> dict:
    """The commit's CDC record, inferring ``append`` for legacy
    append-shaped manifests (files only grew, DVs unchanged).
    ``dv_covered`` marks steps whose served files might carry
    deletion vectors: only a clone's genesis snapshot or a
    legacy-inferred step can — fresh append/CDC files are never named
    by a DV row, so executors skip the DV reads for them."""
    man = _manifest_or_retention_error(path, version)
    cdc = man.get("cdc")
    if cdc is not None:
        if cdc.get("mode") == "unrecorded":
            raise CdfNotEnabledError(
                f"version {version} of {path} changed data while "
                "change-feed recording was off (the change_feed table "
                "property is opt-in); enable_change_feed() records "
                "future commits — replay this gap with the batch "
                "table_changes() API, then resume from "
                f"start_version={version}"
            )
        return {"man": man, "dv_covered": "cloned_from" in man, **cdc}
    if version == 0:
        return {
            "man": man,
            "mode": "append",
            "files": man["files"],
            "dv_covered": True,
        }
    parent = _manifest_or_retention_error(path, version - 1)
    f0, f1 = set(parent.get("files", [])), set(man.get("files", []))
    if f0 <= f1 and parent.get("dvs", []) == man.get("dvs", []):
        return {
            "man": man,
            "mode": "append",
            "files": [n for n in man["files"] if n not in f0],
            "dv_covered": True,
        }
    raise CdfProtocolError(
        f"version {version} of {path} predates commit-time CDC "
        "and is not append-shaped; replay the gap with the batch "
        "table_changes() API, then resume the stream from "
        f"start_version={version}"
    )


def start_version_for_timestamp(path: str, ts: float) -> int:
    """Stream-offset for "changes committed at or after ``ts``"
    (Delta's ``startingTimestamp``): the latest version committed
    STRICTLY BEFORE ``ts`` (offsets are exclusive starts), or -1 for
    genesis. A ``ts`` predating retained history resolves past the
    earliest manifest and surfaces as ``CdfRetentionError`` at read,
    same as a stale ``start_version``."""
    start = -1
    for v in _manifest_versions(path):
        if _read_manifest(path, v).get("committed_at", 0.0) < ts:
            start = v
    return start


class TxnCdfStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict, arrow_schema):
        self._path = options["path"]
        if "start_timestamp" in options:
            self._start = start_version_for_timestamp(
                self._path, float(options["start_timestamp"])
            )
        else:
            self._start = int(options.get("start_version", -1))
        self._arrow_schema = arrow_schema
        self._partition_bytes = int(
            options.get("max_partition_bytes", _DEFAULT_PARTITION_BYTES)
        )
        mf = options.get("max_files_per_trigger")
        mb = options.get("max_bytes_per_trigger")
        self._max_files = int(mf) if mf is not None else None
        self._max_bytes = int(mb) if mb is not None else None
        if self._max_files is not None and self._max_files < 1:
            raise ValueError("max_files_per_trigger must be >= 1")
        if self._max_bytes is not None and self._max_bytes < 1:
            raise ValueError("max_bytes_per_trigger must be >= 1")
        # The engine's position, learned from the callbacks that carry
        # it. latestOffset MUST NOT return an offset behind the
        # engine's checkpoint (the engine does no ordering check on
        # opaque offsets — a regressed "latest" would commit backwards
        # and replay already-delivered versions). Verified call order
        # of the Spark 4 microbatch engine over this API: a FRESH
        # stream calls latestOffset before initialOffset, but its
        # position IS initialOffset = start_version, so ``_start`` is
        # a safe base; a RESTARTED stream re-plans the last logged
        # batch via partitions(start, end) BEFORE its first
        # latestOffset, so the floor is always learned first there.
        self._floor: int | None = None

    def initialOffset(self) -> dict:
        self._floor = self._start
        return {"version": self._start}

    def latestOffset(self) -> dict:
        head = max(current_version(self._path), self._start)
        floor = self._start if self._floor is None else self._floor
        unbounded = self._max_files is None and self._max_bytes is None
        if unbounded or head <= floor:
            return {"version": head}
        # admit whole versions until the caps fill; always at least one
        # (a single commit larger than the cap must still make
        # progress — Delta's minimum-one-file admission, version-
        # granular here because the offset is the version number).
        # Cost: O(admitted versions) manifest reads per trigger.
        v, files, nbytes = floor, 0, 0
        while v < head:
            step = self._step_cdc(v + 1)
            names = step.get("files", []) if step["mode"] != "none" else []
            size = 0
            for n in names:
                try:
                    size += os.path.getsize(
                        os.path.join(self._path, "data", n)
                    )
                except OSError:
                    size += self._max_bytes or 0  # unknown: fills the cap
            if v > floor and (
                (
                    self._max_files is not None
                    and files + len(names) > self._max_files
                )
                or (
                    self._max_bytes is not None
                    and nbytes + size > self._max_bytes
                )
            ):
                break
            v += 1
            files += len(names)
            nbytes += size
        return {"version": v}

    # -- planning: manifests only, O(changed files) metadata ---------------
    def _manifest_or_retention_error(self, version: int) -> dict:
        return _manifest_or_retention_error(self._path, version)

    def _step_cdc(self, version: int) -> dict:
        return _step_cdc(self._path, version)

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        # the engine's batch range reveals its position — the
        # admission floor for the next latestOffset
        known = max(start["version"], end["version"])
        self._floor = known if self._floor is None else max(self._floor, known)
        cmap: dict = {}
        head_v = max(current_version(self._path), end["version"])
        if head_v >= 0:
            # resolve renamed columns with the table's HEAD manifest
            # (not the batch-end one — a batch replayed from the
            # checkpoint may predate a later rename, while the stream
            # schema is the head's): physical names are stable, so the
            # head's map resolves every historical file
            head_man = self._manifest_or_retention_error(head_v)
            cmap = head_man.get("column_map") or {}
            # The stream's schema was fixed at query start; a column of
            # it renamed or dropped since then no longer resolves to
            # any physical column, and silently emitting NULLs for it
            # would corrupt downstream replicas (ADVICE r6). Fail the
            # stream like Delta does on schema change — restart picks
            # up the new schema. The NULL path in _read_unit stays
            # reserved for files predating an ADDITIVE change.
            head_logical = {
                f.split(" ")[0] for f in head_man["schema_ddl"].split(", ")
            }
            missing = [
                f.name
                for f in self._arrow_schema
                if f.name not in ("_change_type", "_commit_version")
                and f.name not in head_logical
            ]
            if missing:
                raise CdfProtocolError(
                    f"streamed column(s) {missing} were renamed or "
                    f"dropped from {self._path} after the stream "
                    "started; restart the query to adopt the new "
                    "schema (mid-stream schema change fails the "
                    "stream rather than emitting NULLs)"
                )
        units: list[tuple] = []
        for v in range(start["version"] + 1, end["version"] + 1):
            step = self._step_cdc(v)
            man = step["man"]
            if step["mode"] == "none":
                continue
            if step["mode"] == "append":
                change_type = "insert"
                # DVs can only suppress rows of a clone-genesis or
                # legacy-inferred file (fresh appends land in files no
                # DV names — ADVICE r6: shipping the full DV list with
                # every append unit made executors re-read O(#DVs)
                # parquet files per data file for nothing)
                dv_paths = (
                    tuple(
                        os.path.join(self._path, "data", n)
                        for n in man.get("dvs", [])
                    )
                    if step.get("dv_covered")
                    else ()
                )
                dv_key = man.get("dv_key") if dv_paths else None
            else:
                change_type = None
                dv_paths, dv_key = (), None
            for name in step.get("files", []):
                units.append(
                    (
                        os.path.join(self._path, "data", name),
                        name,
                        v,
                        change_type,
                        dv_paths,
                        dv_key,
                    )
                )
        # size-budgeted bin packing (metadata only): many tiny commit
        # deltas share one task; a big backfill still fans out per-file
        out: list[InputPartition] = []
        bucket: list[tuple] = []
        bucket_bytes = 0
        for u in units:
            try:
                size = os.path.getsize(u[0])
            except OSError:
                size = self._partition_bytes  # unknown: isolate it
            if bucket and bucket_bytes + size > self._partition_bytes:
                out.append(CdfFilePartition(bucket, self._arrow_schema, cmap))
                bucket, bucket_bytes = [], 0
            bucket.append(u)
            bucket_bytes += size
        if bucket:
            out.append(CdfFilePartition(bucket, self._arrow_schema, cmap))
        return out

    # -- executor-side read ------------------------------------------------
    def read(self, partition: CdfFilePartition):
        for unit in partition.units:
            yield from _read_unit(
                unit, partition.arrow_schema, partition.column_map
            )

    def commit(self, end: dict) -> None:
        v = end["version"]
        self._floor = v if self._floor is None else max(self._floor, v)


def _read_unit(unit: tuple, arrow_schema, column_map: dict):
    """Executor-side read of ONE changed/CDC file: DV suppression for
    clone-genesis files, physical→logical column resolution, NULLs for
    files predating an additive schema change, fixed change type and
    commit version appended — yielded as Arrow record batches."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    file_path, file_name, version, change_type, dv_paths, dv_key = unit
    t = pq.read_table(file_path)
    if t.num_rows and dv_paths:
        suppressed = set()
        for p in dv_paths:
            dv = pq.read_table(p)
            for fn, kv in zip(
                dv.column("file_name").to_pylist(),
                dv.column(dv_key).to_pylist(),
            ):
                if fn == file_name:
                    suppressed.add(kv)
        if suppressed:
            mask = pa.array(
                [kv not in suppressed for kv in t.column(dv_key).to_pylist()]
            )
            t = t.filter(mask)
    if not t.num_rows:
        return
    columns = {}
    for field in arrow_schema:
        if field.name == "_commit_version":
            columns[field.name] = pa.array(
                [version] * t.num_rows, field.type
            )
        elif field.name == "_change_type" and change_type:
            columns[field.name] = pa.array(
                [change_type] * t.num_rows, field.type
            )
        else:
            phys = column_map.get(field.name, field.name)
            if phys in t.column_names:
                columns[field.name] = t.column(phys)
            else:
                # file predates an additive schema change: surface
                # NULLs, matching the snapshot readers
                columns[field.name] = pa.nulls(t.num_rows, field.type)
    yield from pa.table(columns).cast(arrow_schema).to_batches()


class TxnCdfDataSource(DataSource):
    """``spark.readStream.format("txn_cdf").option("path", ...)``"""

    @classmethod
    def name(cls) -> str:
        return "txn_cdf"

    def schema(self) -> str:
        man = _read_manifest(
            self.options["path"], current_version(self.options["path"])
        )
        return man["schema_ddl"] + ", _change_type string, _commit_version int"

    def streamReader(self, schema) -> TxnCdfStreamReader:
        from pyspark.sql.pandas.types import to_arrow_schema

        return TxnCdfStreamReader(dict(self.options), to_arrow_schema(schema))


def read_cdf_log(
    spark,
    path: str,
    from_version: int = -1,
    to_version: int | None = None,
    *,
    from_timestamp: float | None = None,
):
    """BATCH change feed read from the commit-time CDC log: per-commit
    change rows (row..., _change_type, _commit_version) for versions
    (``from_version``, ``to_version``], as plain parquet scans of the
    recorded CDC/added files.

    This is the O(change-set) batch path: ``operators/txn.
    table_changes`` full-outer-joins the two SNAPSHOTS — exact for any
    version pair including pre-CDC history and range-netted, but it
    scans the whole table twice, which at 100 TB is the wrong cost for
    reading a small day's changes. Reading the log costs exactly the
    changed bytes and needs no shuffle at all (the join disappears —
    the classification was already computed, once, at commit time).
    Semantics match the streaming source (per-commit concatenation, no
    cross-commit netting); same retention/protocol errors. Rows are
    surfaced under the ``to`` version's logical schema; files from
    before an additive schema change contribute NULLs for the newer
    columns. ``from_timestamp`` (Delta's ``startingTimestamp``)
    resolves to "commits at or after this wall-time" and overrides
    ``from_version``.
    """
    from pyspark.sql import functions as F

    from qb_data_pipeline_backfill_spark.operators.txn import (
        _apply_dvs,
        _physical_ddl,
        _to_logical,
    )

    if from_timestamp is not None:
        from_version = start_version_for_timestamp(path, from_timestamp)
    to_v = current_version(path) if to_version is None else to_version
    head = _manifest_or_retention_error(path, to_v)
    pieces = []
    for v in range(from_version + 1, to_v + 1):
        step = _step_cdc(path, v)
        man = step["man"]
        if step["mode"] == "none" or not step.get("files"):
            continue
        files = [os.path.join(path, "data", n) for n in step["files"]]
        if step["mode"] == "append":
            df = spark.read.schema(_physical_ddl(man)).parquet(*files)
            # DVs can cover an append-mode file only at a clone genesis
            # (or a legacy-inferred step); fresh appends skip the join
            if step.get("dv_covered"):
                df = _apply_dvs(spark, path, man, df)
            df = _to_logical(df, head).withColumn("_change_type", F.lit("insert"))
        else:
            df = spark.read.schema(
                _physical_ddl(man) + ", _change_type string"
            ).parquet(*files)
            df = _to_logical(df, head, keep=("_change_type",))
        pieces.append(df.withColumn("_commit_version", F.lit(v)))
    if not pieces:
        return spark.createDataFrame(
            [], head["schema_ddl"] + ", _change_type string, _commit_version int"
        )
    # balanced union tree: a 10k-version catch-up must not build a
    # 10k-deep left-leaning plan (Catalyst analysis cost grows with
    # plan depth; O(log n) depth keeps it flat)
    while len(pieces) > 1:
        pieces = [
            pieces[i].unionByName(pieces[i + 1])
            if i + 1 < len(pieces)
            else pieces[i]
            for i in range(0, len(pieces), 2)
        ]
    return pieces[0]


def net_changes_from_log(
    spark,
    path: str,
    from_version: int = -1,
    to_version: int | None = None,
    key: str | None = None,
):
    """NET change feed (``operators/txn.table_changes`` semantics:
    one row per key whose final state differs from its range-start
    state, classified insert/update/delete) derived from the
    commit-time CDC log instead of diffing snapshots — O(change set)
    with ONE key shuffle, vs two whole-table scans plus a join.

    Reduction, per key over the range's per-commit events (ordered by
    commit version, with a pre-image sorting before its post-image
    within one commit):

    - the FIRST event reveals the range-start state: ``insert`` means
      the key did not exist; ``update_preimage``/``delete`` carry the
      value it had;
    - the LAST event reveals the final state: ``delete`` means gone;
      ``insert``/``update_postimage`` carry the final value;
    - absent→present = insert (final values); present→absent = delete
      (range-start values); present→present = update unless the final
      row equals the range-start row (a delete-then-reupsert of the
      same values nets to NOTHING, exactly like the snapshot diff).

    One ``groupBy(key)`` with ``min_by``/``max_by`` — map-side
    combinable, shuffle width = change set. ``key`` defaults to the
    table's zone-map/DV key (logical name).
    """
    from pyspark.sql import functions as F

    from qb_data_pipeline_backfill_spark.operators.txn import (
        _logical_of,
    )

    to_v = current_version(path) if to_version is None else to_version
    man = _manifest_or_retention_error(path, to_v)
    k = key or _logical_of(man, man.get("stats_col") or man.get("dv_key"))
    if k is None:
        raise ValueError("pass key= (table has no stats/dv key to infer it from)")
    log = read_cdf_log(spark, path, from_version, to_v)
    cols = [
        c for c in log.columns if c not in ("_change_type", "_commit_version")
    ]
    # pre-images order before post-images at the same commit version
    order = F.struct(
        F.col("_commit_version"),
        F.when(
            F.col("_change_type").isin("update_preimage", "delete"), 0
        ).otherwise(1).alias("__o"),
    )
    row = F.struct(*cols, "_change_type")
    per_key = log.groupBy(F.col(k).alias("__k")).agg(
        F.min_by(row, order).alias("__first"),
        F.max_by(row, order).alias("__last"),
    )
    existed = F.col("__first._change_type").isin("update_preimage", "delete")
    final = F.col("__last._change_type").isin("insert", "update_postimage")
    first_vals = F.struct(*[F.col(f"__first.{c}") for c in cols])
    last_vals = F.struct(*[F.col(f"__last.{c}") for c in cols])
    classified = per_key.select(
        F.when(~existed & final, F.struct(last_vals.alias("v"), F.lit("insert").alias("t")))
        .when(existed & ~final, F.struct(first_vals.alias("v"), F.lit("delete").alias("t")))
        .when(
            existed & final & ~first_vals.eqNullSafe(last_vals),
            F.struct(last_vals.alias("v"), F.lit("update").alias("t")),
        )
        .alias("__r")
    ).filter(F.col("__r").isNotNull())
    return classified.select(
        *[F.col(f"__r.v.{c}").alias(c) for c in cols],
        F.col("__r.t").alias("_change_type"),
    )


def read_cdf_stream(spark, path: str, **options):
    """Register the source (idempotent) and return the lazy stream."""
    spark.dataSource.register(TxnCdfDataSource)
    reader = spark.readStream.format(TxnCdfDataSource.name()).option("path", path)
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader.load()


def apply_cdf_to_table(
    spark,
    source_path: str,
    target_path: str,
    key: str,
    checkpoint_dir: str,
    start_version: int = -1,
    replica_change_feed: bool = False,
):
    """Incremental view maintenance: tail ``source_path``'s change feed
    and apply each batch to a derived txn table — the CDC-replica loop
    (Delta's `MERGE from CDF` pattern) that keeps a downstream
    materialization in sync without ever rescanning the source.

    Per micro-batch: the per-commit changes first reduce to the LATEST
    change per key (one distributed window over ``_commit_version`` —
    a catch-up batch spanning several commits may carry a key's insert
    and its later delete), then ONE merge applies the whole reduced
    batch — insert/update rows via the matched-update /
    not-matched-insert clauses, delete rows via the matched-delete
    clause — so the batch lands in a single atomic snapshot switch.
    The replica is created with key zone maps, so each batch's
    ``commit_merge`` rewrites only the replica files its keys overlap
    — O(touched files), not O(replica), the cost model that keeps a
    100 TB replica maintainable. The
    reduction makes the merge's unique-source-key contract hold by
    construction, and the merge is effect-idempotent, so a
    foreachBatch replay after a crash re-applies harmlessly —
    exactly-once end to end on top of at-least-once delivery. Runs
    with AvailableNow (catch-up then stop); returns the started query.

    ``replica_change_feed=True`` creates the replica with its own
    change-feed property, so the replica's merge commits record change
    rows and DOWNSTREAM replicas can tail it in turn — multi-hop
    replication chains (A → B → C), each hop O(change). Off by
    default: a leaf replica should not pay the commit-time pre-image
    cost (round-7 opt-in semantics).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from qb_data_pipeline_backfill_spark.operators import txn

    def sink(batch_df, batch_id: int) -> None:
        if batch_df.limit(1).count() == 0:
            return
        sp = batch_df.sparkSession
        # preimage rows describe the OLD values of updated keys — the
        # aggregate-maintenance signal, not a state to apply here
        state = batch_df.filter(F.col("_change_type") != "update_preimage")
        # latest change per key wins; at equal versions a keyed net
        # never emits two state ops for one key, but prefer the
        # non-delete row defensively (a keyless replaceWhere slice can
        # net to delete+insert of the same key in one commit)
        w = Window.partitionBy(key).orderBy(
            F.col("_commit_version").desc(),
            F.when(F.col("_change_type") == "delete", 0).otherwise(1).desc(),
        )
        src = (
            state.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "_commit_version")
            .withColumnRenamed("_change_type", "__op")
        )
        if txn.current_version(target_path) < 0:
            # genesis: publish an empty table WITH key zone maps so
            # every later batch merges copy-on-write (file-pruned)
            txn.commit_append_with_stats(
                sp,
                src.drop("__op").limit(0),
                target_path,
                key=key,
                change_feed=replica_change_feed,
            )
        txn.commit_merge(
            sp, src, target_path, key=key, matched_delete="__op = 'delete'"
        )

    return (
        read_cdf_stream(spark, source_path, start_version=start_version)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def apply_cdf_to_rollup(
    spark,
    source_path: str,
    target_path: str,
    group_col: str,
    measure_col: str,
    checkpoint_dir: str,
    start_version: int = -1,
):
    """EXACTLY-ONCE incremental aggregate maintenance from the change
    feed: keep a ``(group, n_rows, sum_measure)`` rollup in sync with a
    fact table by reading ONLY its changes — at 100 TB, the difference
    between re-aggregating the table nightly and reading the day's
    deltas.

    Per micro-batch, entirely distributed:

    - every change row carries a signed contribution: ``insert`` /
      ``update_postimage`` add the row's measure, ``delete`` /
      ``update_preimage`` subtract it (this is WHY the feed records
      update pre-images — without the old values the rollup could not
      retract the old contribution);
    - contributions aggregate per group (map-side combined), then one
      broadcast-sized read-modify-write joins the deltas against the
      CURRENT rollup rows and lands in ONE ``commit_merge``: groups
      whose count hits zero are deleted, the rest upsert;
    - increments are NOT idempotent under replay, so exactly-once comes
      from a transactional WATERMARK: the batch's max ``_commit_
      version`` is committed in the rollup's own manifest atomically
      with the merge (``commit_merge(meta=...)``); a replayed batch
      whose versions are already covered is skipped before any write.

    Measures aggregate in DECIMAL(28,6) so the maintained sum is
    EXACTLY the sum a fresh aggregation would produce, independent of
    accumulation order. Runs with AvailableNow; returns the query.
    """
    from pyspark.sql import functions as F

    from qb_data_pipeline_backfill_spark.operators import txn

    def sink(batch_df, batch_id: int) -> None:
        if batch_df.limit(1).count() == 0:
            return
        sp = batch_df.sparkSession
        head = txn.current_version(target_path)
        applied = (
            txn._read_manifest(target_path, head).get("cdc_applied_version", -1)
            if head >= 0
            else -1
        )
        vmax = batch_df.agg(F.max("_commit_version").alias("v")).collect()[0][
            "v"
        ]
        if vmax is None or vmax <= applied:
            return  # replayed batch: already applied, skip before writing
        fresh = batch_df.filter(F.col("_commit_version") > applied)
        sign = F.when(
            F.col("_change_type").isin("insert", "update_postimage"), 1
        ).otherwise(-1)
        measure = F.col(measure_col).cast("decimal(28,6)")
        deltas = fresh.groupBy(group_col).agg(
            F.sum(sign).alias("__d_n"),
            # a batch whose only contributions for a group carry NULL
            # measures sums to NULL, and NULL + current would poison
            # the maintained sum — a fresh aggregation IGNORES NULL
            # measures, so the delta must be 0, not NULL
            F.coalesce(
                F.sum(sign * measure), F.lit(0).cast("decimal(28,6)")
            ).alias("__d_sum"),
        )
        if head < 0:
            # genesis publishes an EMPTY rollup, so the watermark and
            # the first increments land together in the ONE merge
            # below — a crash between the two commits replays cleanly
            # (empty table, watermark still -1)
            empty = deltas.select(
                F.col(group_col),
                F.lit(0).cast("long").alias("n_rows"),
                F.lit(0).cast("decimal(28,6)").alias("sum_measure"),
            ).limit(0)
            txn.commit_append(sp, empty, target_path)
        cur = txn.read_table(sp, target_path)
        joined = deltas.join(cur, group_col, "left_outer")
        src = joined.select(
            F.col(group_col),
            (F.coalesce("n_rows", F.lit(0)) + F.col("__d_n"))
            .cast("long")
            .alias("n_rows"),
            (
                F.coalesce(
                    F.col("sum_measure"),
                    F.lit(0).cast("decimal(28,6)"),
                )
                + F.col("__d_sum")
            )
            .cast("decimal(28,6)")
            .alias("sum_measure"),
        ).withColumn(
            "__op",
            F.when(F.col("n_rows") <= 0, "delete").otherwise("upsert"),
        )
        txn.commit_merge(
            sp,
            src,
            target_path,
            key=group_col,
            matched_delete="__op = 'delete'",
            meta={"cdc_applied_version": int(vmax)},
        )

    return (
        read_cdf_stream(spark, source_path, start_version=start_version)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
