"""Per-partition completion manifests — resumable reruns.

North-rule requirement (no reference analog; the closest is solrizer's
idempotent per-request model, web.py:330-405 — re-request = re-index).

Model
-----
Work is keyed by a *logical* bucket ``partition_key =
pmod(xxhash64(url, salt), n_buckets)`` — a pure function of the url,
NOT ``spark_partition_id()`` — so completion state survives cluster
resizes, AQE coalescing, and re-planning. The docs sink is
``partitionBy(partition_key)``; after a successful write the job
derives one manifest row per bucket *from the written output*
(count re-read from the sink, making the manifest an assertion about
durable data, not about task attempts).

Resume = anti-join: buckets present in the manifest with
``status='complete'`` (for the same corpus fingerprint + n_buckets +
salt) are filtered out of the input scan before the expensive
extraction stage. The filter is a broadcast ``IN`` on at most
``n_buckets`` ints — negligible even at 10^12 rows, and it prunes
*before* the shuffle and the Python stage.

Atomicity: manifests are written strictly AFTER the docs commit
(manifest-last ordering). A crash between the two yields missing
manifest rows → those buckets re-run → the sink overwrites their
partitions (dynamic partition overwrite), which is idempotent because
extraction is deterministic. With an Iceberg catalog both writes can
instead share one transaction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("partition_key", T.IntegerType()),
        T.StructField("n_docs", T.LongType()),
        T.StructField("n_failed", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("run_id", T.StringType()),
        T.StructField("n_buckets", T.IntegerType()),
        T.StructField("salt", T.IntegerType()),
        T.StructField("corpus_fp", T.StringType()),
    ]
)


def corpus_fingerprint(df) -> str:
    """Fingerprint of the input file set. A bucket marked complete is
    only complete FOR THE CORPUS IT SAW: if the input grows, new pages
    hash into already-complete buckets and a fingerprint-less resume
    would silently skip them."""
    import hashlib

    files = sorted(df.inputFiles())
    return hashlib.md5("\n".join(files).encode()).hexdigest()


def manifest_from_metrics(
    metrics: DataFrame, run_id: str, n_buckets: int, salt: int, corpus_fp: str = ""
) -> DataFrame:
    """Completion rows derived from an already-computed per-bucket
    metrics aggregation (operators.metrics.build_metrics) — so the
    post-write verification pass scans the durable sink ONCE for both
    side tables instead of twice."""
    return (
        metrics.select(
            "partition_key",
            F.col("n_docs"),
            F.col("parse_failures").alias("n_failed"),
        )
        .withColumn("status", F.lit("complete"))
        .withColumn("run_id", F.lit(run_id))
        .withColumn("n_buckets", F.lit(n_buckets))
        .withColumn("salt", F.lit(salt))
        .withColumn("corpus_fp", F.lit(corpus_fp))
        .select([f.name for f in MANIFEST_SCHEMA.fields])
    )


def completed_buckets(
    spark: SparkSession,
    manifest_path: str,
    n_buckets: int,
    salt: int,
    corpus_fp: str = "",
) -> list[int]:
    """Bucket ids already marked complete for this (corpus, n_buckets,
    salt) configuration. Missing manifest table ⇒ nothing completed."""
    try:
        m = spark.read.parquet(manifest_path)
    except Exception:
        return []
    rows = (
        m.where(
            (F.col("status") == "complete")
            & (F.col("n_buckets") == n_buckets)
            & (F.col("salt") == salt)
            & (F.col("corpus_fp") == corpus_fp)
        )
        .select("partition_key")
        .distinct()
        .collect()
    )
    return sorted(r.partition_key for r in rows)


def filter_completed(df: DataFrame, done: list[int]) -> DataFrame:
    """Prune completed buckets before shuffle + extraction. ``done`` is
    ≤ n_buckets ints → a literal IN-list the optimizer pushes into the
    scan; no join, no shuffle."""
    if not done:
        return df
    return df.where(~F.col("partition_key").isin(done))
