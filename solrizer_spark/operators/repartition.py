"""Salted url-hash repartitioning — the skew defuse required by the
north rule (SURVEY.md §2.12).

Why: Common-Crawl corpora are domain-skewed (a few domains own a large
share of pages, and crawl files arrive grouped by domain), so
file-order partitions feed some executors giant pages/domains while
others idle. AQE rebalances *joins*, not a skewed ``mapInPandas`` /
pandas-UDF stage, so the extraction stage needs an explicit uniform
redistribution.

How: hash the full url with ``xxhash64`` (64-bit, JVM-side, cheap) and
add a run-scoped salt before taking the partition modulus. Distinct
urls already spread uniformly under the hash; the salt decorrelates
the layout from any previous run's bucketing (adversarial alignment,
stragglers from sticky partition→executor maps) and gives deterministic
re-bucketing knobs for resume (see ``manifests.partition_key``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def url_bucket(url: Column | str, n_buckets: int, salt: int = 0) -> Column:
    """Stable bucket id in [0, n_buckets) for a url — pure function of
    (url, n_buckets, salt), independent of Spark's runtime partitioning,
    so it can key resume manifests across runs and cluster sizes."""
    col = F.col(url) if isinstance(url, str) else url
    return F.pmod(F.xxhash64(col, F.lit(salt)), F.lit(n_buckets)).cast("int")


def salted_repartition(
    df: DataFrame,
    num_partitions: int,
    url_col: str = "url",
    salt: int = 0,
) -> DataFrame:
    """Repartition by salted url-hash ahead of the extraction UDF.

    Partitions on the FULL-resolution 64-bit hash, not on a
    pre-bucketed value: ``repartition(n, expr)`` applies
    ``hash(expr) % n``, so an expr already reduced to n values
    collides (≈1/e of partitions empty, others double-loaded —
    caught by the skew-balance test)."""
    col = F.col(url_col)
    return df.repartition(num_partitions, F.xxhash64(col, F.lit(salt)))


def _parse_byte_size(s: str) -> int:
    """Parse Spark byte-size strings ('134217728b', '128m', '1g')."""
    s = s.strip().lower()
    units = {"b": 1, "k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}
    mult = 1
    while s and s[-1] in units:
        mult = units[s[-1]]
        s = s[:-1]
    return int(float(s) * mult) if s else 128 * 1024**2


def partitions_for_bytes(
    total_bytes: int,
    cpus: int,
    target_partition_bytes: int = 64 * 1024**2,
    max_partitions: int | None = None,
) -> int:
    """Partition count for a CPU-bound Arrow-UDF stage, sized by DATA
    VOLUME with a one-wave floor.

    Each Python-UDF task costs a fixed worker round-trip (Arrow stream
    setup + scheduling, ~100-300 ms measured on local[32]); a task
    under tens of MB is mostly that overhead. Profiled at the bench
    corpus (100k docs, ~56 MB): 128 partitions → 51k docs/s, 32
    partitions → 108-118k docs/s — the 4-wave layout spent 2.3× the
    wall time on per-task overhead. So: one partition per
    ``target_partition_bytes`` (64 MB default, half Spark's
    maxPartitionBytes since extraction roughly doubles resident size),
    floored at one task per core so every core works, optionally
    capped. At 100 TB this yields ~1.6M partitions — the same shape a
    real cluster's scan would produce — while a 56 MB bench input gets
    exactly ``cpus`` tasks in a single wave."""
    import math

    want = max(cpus, math.ceil(total_bytes / target_partition_bytes))
    if max_partitions is not None:
        want = min(want, max_partitions)
    return want


def _scan_input_bytes(df: DataFrame) -> int | None:
    """Total bytes behind the plan's file listing — pure plan
    analysis, never a Spark job. (``df.rdd`` is NOT safe for this:
    with AQE enabled it finalizes the adaptive plan, which eagerly
    EXECUTES every upstream shuffle stage, and a later action on the
    same uncached df re-runs them.)

    Returns None (= unknown) for non-scan-backed plans and whenever a
    listed file cannot be stat'ed locally (s3/hdfs)."""
    import os
    from urllib.parse import urlparse

    try:
        files = df.inputFiles()
    except Exception:  # streaming / non-file relations
        return None
    if not files:
        return None
    total = 0
    for f in files:
        parsed = urlparse(f)
        if parsed.scheme not in ("file", ""):
            return None
        path = parsed.path or f
        try:
            total += os.path.getsize(path)
        except OSError:
            return None
    return total


def _scan_split_estimate(df: DataFrame) -> int | None:
    """Estimated scan-partition count from the plan's file listing —
    see :func:`_scan_input_bytes` for why this never touches df.rdd.

    Returns None (= unknown) when the byte total is unknown: unknown
    means pass-through, so at real scale — where the estimate is
    beside the point — this guard can never inject a surprise
    shuffle."""
    import math
    import os
    from urllib.parse import urlparse

    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    max_bytes = _parse_byte_size(
        df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
    )
    splits = 0
    for f in files:
        parsed = urlparse(f)
        if parsed.scheme not in ("file", ""):
            return None
        path = parsed.path or f
        try:
            size = os.path.getsize(path)
        except OSError:
            return None
        splits += max(1, math.ceil(size / max_bytes))
    return splits


def _checkpoint_partitions(df: DataFrame) -> int | None:
    """Partition count behind a plan whose every leaf is a
    ``LogicalRDD`` (a checkpoint, or a DataFrame built from an RDD):
    the sum of the leaves' RDD partition counts. The partitions of an
    RDD are known on the driver, so this runs no job. None (= unknown)
    for any other plan."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    total = 0
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "LogicalRDD":
            return None
        total += leaf.rdd().getNumPartitions()
    return total


def ensure_min_parallelism(df: DataFrame, floor: int | None = None) -> DataFrame:
    """Round-robin repartition up to the session's default parallelism
    when the input's SCAN yields fewer splits — otherwise pass through.

    CPU-heavy stages (minhash/simhash fingerprints, Arrow UDFs, LSH
    banding) inherit the scan's split count: a small corpus in one
    parquet file runs them in ONE task regardless of cores. At real
    scale a 100 TB scan yields thousands of splits and this is a
    no-op; below the floor the narrow shuffle is trivially cheap
    relative to the work it parallelizes.

    The split count is estimated statically from the file listing
    (`_scan_split_estimate`) — one plan analysis, zero Spark jobs, no
    AQE finalization, so calling this on an uncached shuffled plan
    never double-executes upstream stages. A plan read from
    checkpoints (every leaf a ``LogicalRDD``) is counted too, by its
    checkpoints' partitions (`_checkpoint_partitions`, also zero
    jobs): an AQE-coalesced checkpoint often holds one partition.
    When the estimate is unknown (non-file source, remote
    filesystem, or an upstream shuffle-only plan) the input passes
    through: shuffle outputs already carry
    ``spark.sql.shuffle.partitions``-many partitions, which is the
    parallelism this guard exists to restore."""
    want = floor or df.sparkSession.sparkContext.defaultParallelism
    est = _scan_split_estimate(df)
    if est is None:
        est = _checkpoint_partitions(df)
    if est is not None and est < want:
        return df.repartition(want)
    return df
