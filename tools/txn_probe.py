"""Txn-table maintenance probe: measured MoR-vs-CoW delete cost and
Bloom-index point-lookup pruning on an orders-sized table.

Two claims the round-5 txn additions make about 100 TB behavior,
measured at harness scale:

1. DELETE SHAPE. Removing a handful of keys from a large table should
   cost O(delete batch), not O(table). commit_delete (copy-on-write)
   rewrites every surviving row; commit_delete_mor writes only
   (file_name, key) DV rows and defers the filter to read time.
   Measured: wall time of each delete commit on the same table, plus
   the post-delete snapshot read cost (MoR pays a broadcast anti-join
   per read until compaction materializes it).

2. POINT-LOOKUP PRUNING. For an equality probe on an UNCLUSTERED
   column, zone maps prune nothing (every file's [min,max] covers the
   value); the per-file Bloom index should skip most files. Measured:
   files scanned / files total across probe keys, plus lookup wall
   time with and without the index.

Usage: python tools/txn_probe.py [sf_dir] [n_files]
Prints one JSON line; human summary to stderr.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from qb_data_pipeline_backfill_spark.operators import txn
from qb_data_pipeline_backfill_spark.session import get_spark
from qb_data_pipeline_backfill_spark.tables import load_table

PASSES = 2


def _timed(fn):
    best = float("inf")
    for _ in range(PASSES):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    return round(best, 3)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_files = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    spark = get_spark("txn-probe")
    orders = load_table(spark, sf_dir, "orders").repartition(n_files, "o_orderkey")
    n_rows = orders.count()
    doomed = orders.filter(F.col("o_orderkey") % 997 == 0).select("o_orderkey")
    n_doomed = doomed.count()
    base = tempfile.mkdtemp(prefix="txn_probe_")
    out: dict = {"metric": "txn_probe", "sf_dir": sf_dir, "n_rows": n_rows,
                 "n_files": n_files, "n_deleted": n_doomed}
    try:
        # -- delete shape ------------------------------------------------
        cow, mor = os.path.join(base, "cow"), os.path.join(base, "mor")
        for p in (cow, mor):
            txn.commit_append(spark, orders, p, key="o_orderkey")

        def _data_bytes(p):
            d = os.path.join(p, "data")
            return sum(
                os.path.getsize(os.path.join(d, n)) for n in os.listdir(d)
            )

        b0 = _data_bytes(cow)
        out["delete_cow_sec"] = _timed(
            lambda: txn.commit_delete(spark, doomed, cow, key="o_orderkey")
        )
        out["delete_cow_bytes_written"] = _data_bytes(cow) - b0
        b0 = _data_bytes(mor)
        out["delete_mor_sec"] = _timed(
            lambda: txn.commit_delete_mor(spark, doomed, mor, key="o_orderkey")
        )
        out["delete_mor_bytes_written"] = _data_bytes(mor) - b0
        out["read_after_cow_sec"] = _timed(
            lambda: txn.read_table(spark, cow).agg(F.count("*")).collect()
        )
        out["read_after_mor_sec"] = _timed(
            lambda: txn.read_table(spark, mor).agg(F.count("*")).collect()
        )
        assert (
            txn.read_table(spark, mor).count()
            == txn.read_table(spark, cow).count()
            == n_rows - n_doomed
        )
        # -- bloom point lookup -----------------------------------------
        bp = os.path.join(base, "bloom")
        txn.commit_append_with_bloom(
            spark, orders, bp, key="o_orderkey", bloom_col="o_custkey",
            m=64 * 1024,
        )
        probes = [r["o_custkey"] for r in
                  orders.select("o_custkey").distinct().orderBy("o_custkey")
                  .limit(20).collect()]
        scanned = total = 0
        for v in probes:
            s, t = txn.bloom_pruned_file_count(bp, v)
            scanned += s
            total += t
        out["bloom_files_scanned"] = scanned
        out["bloom_files_total"] = total
        out["bloom_scan_fraction"] = round(scanned / total, 4)
        # sound pruning floor: files that TRULY contain each probe key
        # (a false-negative-free index cannot scan fewer) — the gap to
        # bloom_files_scanned is the false-positive overhead
        truth = {
            r["o_custkey"]: r["nf"]
            for r in txn.read_table(spark, bp)
            .filter(F.col("o_custkey").isin(probes))
            .withColumn(
                "f", F.element_at(F.split(F.input_file_name(), "/"), -1)
            )
            .groupBy("o_custkey")
            .agg(F.countDistinct("f").alias("nf"))
            .collect()
        }
        out["bloom_files_true"] = sum(truth.get(v, 0) for v in probes)
        probe = probes[0]
        out["lookup_bloom_sec"] = _timed(
            lambda: txn.read_table_point(spark, bp, probe).collect()
        )
        out["lookup_fullscan_sec"] = _timed(
            lambda: txn.read_table(spark, bp)
            .filter(F.col("o_custkey") == probe)
            .collect()
        )
        # -- shallow clone vs deep copy ---------------------------------
        # clone cost must be O(#files) metadata, independent of bytes;
        # the deep copy (read + rewrite) is the scale-breaking baseline.
        t0 = time.time()
        txn.clone_table(cow, os.path.join(base, "clone"))
        out["clone_sec"] = round(time.time() - t0, 3)
        new_blocks = 0
        cd = os.path.join(base, "clone", "data")
        for n in os.listdir(cd):
            if os.stat(os.path.join(cd, n)).st_nlink < 2:
                new_blocks += os.path.getsize(os.path.join(cd, n))
        out["clone_new_data_bytes"] = new_blocks  # 0: all hard links
        t0 = time.time()
        txn.read_table(spark, cow).write.parquet(os.path.join(base, "deep"))
        out["deepcopy_sec"] = round(time.time() - t0, 3)
        # -- replace-where write cost -----------------------------------
        # swapping a 1/11 slice must not cost a full-table rewrite:
        # since round 7 the commit is copy-on-write (only files holding
        # predicate-matching rows rewrite), so bytes_written tracks the
        # touched slice. A %11 key slice touches every hash-partitioned
        # file, so this probe records the WORST case; range-partitioned
        # layouts (the mzoned table below) show the pruned case.
        rw = os.path.join(base, "rw")
        txn.commit_append(spark, orders, rw, key="o_orderkey")
        b0 = _data_bytes(rw)
        recomputed = orders.filter(F.col("o_orderkey") % 11 == 0)
        out["replace_where_sec"] = _timed(
            lambda: txn.commit_replace_where(
                spark, recomputed, rw, "o_orderkey % 11 = 0"
            )
        )
        out["replace_where_bytes_written"] = _data_bytes(rw) - b0
        # -- change-feed read: commit-time log vs snapshot diff ----------
        # After a small upsert, reading "what changed" should cost
        # O(change set). table_changes full-outer-joins two whole
        # snapshots (two table scans + a key shuffle); read_cdf_log
        # scans only the files each commit recorded — no join at all.
        from qb_data_pipeline_backfill_spark.sources.txn_cdf import (
            read_cdf_log,
        )

        cf = os.path.join(base, "cf")
        # range-partitioned so the upsert's zone maps actually prune
        ranged = orders.repartitionByRange(n_files, "o_orderkey")
        txn.commit_append_with_stats(
            spark, ranged, cf, key="o_orderkey", change_feed=True
        )
        upd = orders.filter(F.col("o_orderkey") % 499 == 0).withColumn(
            "o_orderpriority", F.lit("X-PROBE")
        )
        txn.commit_upsert(spark, upd, cf, key="o_orderkey")
        out["cdf_change_rows"] = read_cdf_log(spark, cf, 0).count()
        out["cdf_log_read_sec"] = _timed(
            lambda: read_cdf_log(spark, cf, 0).agg(F.count("*")).collect()
        )
        out["cdf_snapshot_diff_sec"] = _timed(
            lambda: txn.table_changes(spark, cf, 0)
            .agg(F.count("*"))
            .collect()
        )
        # -- CDC-apply merge: one commit_merge, two table layouts --------
        # the same narrow-key-range batch (one replica "day") merged into
        # a zone-mapped table, where only the files its keys can touch
        # rewrite, and into a stats-less table, where every file does
        lo_key = orders.agg(F.min("o_orderkey")).collect()[0][0]
        batch = (
            orders.filter(F.col("o_orderkey") < lo_key + 200)
            .withColumn("o_orderpriority", F.lit("Y-PROBE"))
            .withColumn("op", F.lit("U"))
        )
        merged_rows = {}
        for layout, create in (
            ("zoned", txn.commit_append_with_stats),
            ("plain", txn.commit_append),
        ):
            p = os.path.join(base, f"m{layout}")
            create(spark, ranged, p, key="o_orderkey")
            touched: list[str] = []  # "files touched/files total" per commit

            def merge():
                v = txn.current_version(p)
                txn.commit_merge(
                    spark, batch, p, key="o_orderkey", matched_delete="op = 'X'"
                )
                before = txn._read_manifest(p, v)["files"]
                after = set(txn._read_manifest(p, v + 1)["files"])
                gone = sum(n not in after for n in before)
                touched.append(f"{gone}/{len(before)}")

            b0 = _data_bytes(p)
            out[f"merge_{layout}_sec"] = _timed(merge)
            out[f"merge_{layout}_bytes_written"] = _data_bytes(p) - b0
            out[f"merge_{layout}_files_touched"] = touched
            merged_rows[layout] = txn.read_table(spark, p).count()
        assert merged_rows["zoned"] == merged_rows["plain"]
        # -- copy-on-write DELETE: zone-map pruned vs full rewrite -------
        # commit_delete on a range-keyed stats table rewrites only the
        # files whose key interval holds a delete key (round 7); the
        # stats-less `cow` table above records the full-rewrite
        # fallback for the same batch.
        rdel = os.path.join(base, "rdel")
        txn.commit_append_with_stats(spark, ranged, rdel, key="o_orderkey")
        narrow = orders.filter(
            F.col("o_orderkey") < lo_key + 200
        ).select("o_orderkey")
        b0 = _data_bytes(rdel)
        t0 = time.time()
        txn.commit_delete(spark, narrow, rdel, key="o_orderkey")
        out["delete_cow_pruned_sec"] = round(time.time() - t0, 3)
        out["delete_cow_pruned_bytes_written"] = _data_bytes(rdel) - b0

        # -- commit-time CDC recording overhead: feed on vs off ----------
        # Change-feed recording is per-table opt-in (round 7, Delta
        # enableChangeDataFeed parity): a feed-enabled rewrite commit
        # pays a pre-image read + staged CDC parquet that a non-feed
        # commit skips entirely. Measured single-shot per commit kind
        # (a replayed rewrite changes nothing, so a min-of-N loop would
        # time the empty no-op, not the commit).
        def _one_commit(kind: str, feed: bool):
            p = os.path.join(base, f"ov_{kind}_{int(feed)}")
            txn.commit_append_with_stats(
                spark, ranged, p, key="o_orderkey", change_feed=feed
            )
            b0 = _data_bytes(p)
            t0 = time.time()
            if kind == "mor_delete":
                txn.commit_delete_mor(spark, doomed, p, key="o_orderkey")
            elif kind == "upsert":
                txn.commit_upsert(spark, upd, p, key="o_orderkey")
            else:  # merge
                txn.commit_merge(
                    spark, batch, p, key="o_orderkey", matched_delete="op = 'X'"
                )
            return round(time.time() - t0, 3), _data_bytes(p) - b0

        for kind in ("mor_delete", "upsert", "merge"):
            on_s, on_b = _one_commit(kind, True)
            off_s, off_b = _one_commit(kind, False)
            out[f"cdc_overhead_{kind}"] = {
                "feed_on_sec": on_s,
                "feed_off_sec": off_s,
                "feed_on_bytes": on_b,
                "feed_off_bytes": off_b,
            }
    finally:
        shutil.rmtree(base, ignore_errors=True)
    print(json.dumps(out))
    print(
        f"cow delete {out['delete_cow_sec']}s vs mor {out['delete_mor_sec']}s; "
        f"read after cow {out['read_after_cow_sec']}s vs mor "
        f"{out['read_after_mor_sec']}s; bloom scans "
        f"{out['bloom_files_scanned']}/{out['bloom_files_total']} files, "
        f"lookup {out['lookup_bloom_sec']}s vs fullscan "
        f"{out['lookup_fullscan_sec']}s; merge files touched zoned "
        f"{out['merge_zoned_files_touched']} in {out['merge_zoned_sec']}s vs "
        f"stats-less {out['merge_plain_files_touched']} in "
        f"{out['merge_plain_sec']}s",
        file=sys.stderr,
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
