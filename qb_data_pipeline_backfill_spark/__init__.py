"""qb_data_pipeline_backfill_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the capabilities of the reference repo
``Crescendum429/qb-data-pipeline-backfill`` (a QuickBooks-Online →
Postgres batch ETL/backfill pipeline), re-expressed Spark-first:

- the *raw envelope* ingestion core (validate → dedup → idempotent
  load) as declarative DataFrame transforms (``operators.ingest``,
  ``operators.sink``), composed end-to-end by ``pipeline.run_backfill``
  into a transactional table with a window-scoped idempotence probe,
- the reference's verification-SQL surface (counts, distinct counts,
  filtered aggregates, group-by-having, union-all reports) as
  Catalyst-planned queries (``plans.queries``),
- a paginated/OAuth REST source as a Spark 4 Python DataSource with
  page partitions, 429 retry, and filter pushdown (``sources.rest``),
  plus the CSV-over-HTTP template loader (``pipeline.load_csv_http``),
- the LLM-data-pipeline operators a 100 TB training-data pipeline
  needs: dedup (exact/MinHash-LSH/SimHash/n-gram-Jaccard), similarity
  search (exact cosine top-k + random-hyperplane LSH), text analysis
  (tokens/n-grams/TF-IDF/lang-ID/quality/fingerprints), and multimodal
  binary-column plumbing (``operators.dedup`` /
  ``operators.similarity`` / ``operators.text`` /
  ``operators.multimodal``), deterministic hash-based sampling and
  train/val/test splits (``operators.sample``), and sketches —
  Count-Min frequency, HLL distinct, mergeable quantiles
  (``operators.sketch`` + tolerance-contract queries),
- a Structured Streaming surface (``streaming``): watermarked
  tumbling/hopping/session windows, a stream-stream interval join
  with bounded state, exactly-once dedup over at-least-once
  delivery, a custom ``applyInPandasWithState`` operator, and the
  streaming twin of the backfill sink,
- training-shard curation (``operators.curation``): overlapping
  document chunking, greedy per-shard sequence packing, pruned
  vocabulary build, percentile-band trims and per-shard score
  normalization; product-quantization vector compression
  (``operators.pq``); Bloom-filter join pruning as DataFrame algebra
  (``operators.bloom``),
- a manifest-committed transactional table (``operators.txn``):
  snapshot-isolated reads, atomic compare-and-swap publish, MERGE
  upsert, compaction commits, time travel, and an exactly-once
  streaming sink on top,
- curation/layout extensions, each oracle-gated: dedup-cluster
  resolution via pointer-jumping connected components
  (``operators.graph``), deterministic Lloyd k-means codebook
  refinement (``operators.kmeans``), PII redaction
  (``operators.scrub``), train-vs-eval decontamination and
  repetition scoring (``operators.dedup`` / ``operators.text``),
  time-series gap-fill with LOCF (``operators.timeseries``),
  per-column profiling (``operators.profile``), declarative
  constraint validation (``operators.validate``), and Morton
  z-order clustering (``operators.zorder``).

Everything is built on the public PySpark 4 DataFrame/SQL API; no
code is copied from the reference (which is a Mage-AI + pandas +
Postgres stack — see SURVEY.md for the file:line derivation of each
operator).
"""

from qb_data_pipeline_backfill_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
