"""Source loaders.

``load_table`` reads the driver-provided TPC-H-ish parquet tables.
``docs_from_documents`` adapts the ``documents`` table to the corpus
shape so the index engine can run over driver test data too.
``prepare_docs`` derives the identity columns (doc_id dense over
(repo, path, commit) — reproducible, SURVEY.md §7 step 2 — plus
content_sha256 for the per-row invariant and the shard assignment that
drives scatter-gather query and resumable builds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TPCH_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def docs_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents(doc_id, text, lang, source, n_chars) -> corpus shape."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("docs/"), F.col("doc_id").cast("string"), F.lit(".txt")).alias(
            "path"
        ),
        F.sha2(F.concat_ws("|", "source", F.col("doc_id").cast("string")), 256).alias(
            "commit"
        ),
        F.col("lang"),
        F.col("text").alias("content"),
    )


def prepare_docs(
    corpus: DataFrame,
    docs_per_shard: int = 1_000_000,
    partitions: int | None = None,
) -> DataFrame:
    """corpus -> docs table with doc_id, content_sha256, shard.

    doc_id is a dense 0..N-1 id over the natural key ordering
    (repo, path, commit): stable and reproducible across runs and
    parallelism levels (``monotonically_increasing_id`` alone is
    neither; here it only gives a row's position in its pinned
    partition).

    Implementation is the scalable two-pass offset technique, NOT a
    global ``row_number()`` window (which funnels 10^12 rows through
    one reducer): range-repartition + sort within partitions on the
    natural key, count rows per partition (a tiny P-row aggregate),
    then assign ``offset[pid] + position`` with built-in expressions
    only: ``monotonically_increasing_id()`` is ``(pid << 33) +
    position``, so no Python worker touches the rows and every
    consumer of the docs frame (fingerprint, doc store, tokenizer)
    re-runs only JVM code. Analogous cost class to the reference's
    precomputed sort-rank tables (GxdResultIndexer.java:869-883) — at
    10^12 rows the docs table is persisted once and reused per build.

    shard = doc_id // docs_per_shard: contiguous docID ranges so every
    posting list within a shard stays delta-friendly and the query
    path can scatter-gather per shard.
    """
    spark = corpus.sparkSession
    parts = partitions or max(spark.sparkContext.defaultParallelism, 8)
    key = ["repo", "path", "commit"]
    # localCheckpoint PINS the range partitioning: repartitionByRange
    # re-samples boundaries per action, so without materialization the
    # count pass and the assign pass would see DIFFERENT partitionings
    # and produce duplicate ids. At 10^12 rows the equivalent is
    # writing the sorted doc store once and assigning ids from file/row
    # position (Iceberg _file/_pos metadata).
    ordered = (
        corpus.repartitionByRange(parts, *key)
        .sortWithinPartitions(*key)
        .localCheckpoint(eager=False)
    )
    ordered = ordered.withColumn("_pid", F.spark_partition_id())
    # two-pass: pass 1 counts per partition (tiny result), pass 2 assigns.
    counts = {
        r["_pid"]: r["cnt"]
        for r in ordered.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets, acc = [0], 0
    for p in range(max(counts, default=0)):
        acc += counts.get(p, 0)
        offsets.append(acc)
    pid = F.col("_pid")
    # monotonically_increasing_id() = (pid << 33) + position in the
    # partition. Spark types the array lookup and the division as
    # nullable; the coalesces keep doc_id and shard NOT NULL, as in
    # the schema (every _pid indexes the array).
    offset = F.array(*[F.lit(o).cast("long") for o in offsets])[pid]
    doc_id = F.coalesce(offset, F.lit(0)) + (
        F.monotonically_increasing_id() - F.shiftleft(pid.cast("long"), 33)
    )
    shard = F.expr(f"doc_id div {int(docs_per_shard)}").cast("int")
    return ordered.select(
        *corpus.columns,
        doc_id.alias("doc_id"),
        # sha256 stays JVM-side (native F.sha2, no Python round-trip).
        F.sha2(F.coalesce("content", F.lit("")), 256).alias("content_sha256"),
    ).withColumn("shard", F.coalesce(shard, F.lit(0)))
