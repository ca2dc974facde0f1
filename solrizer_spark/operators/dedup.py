"""Deduplication operators for training-data pipelines.

No reference analog (solrizer indexes one record per request; its only
dup check is indexer-name validation, web.py:286-287) — these are the
corpus-scale operators a 10^12-document extraction pipeline feeds:

* :func:`exact_dedup`        content-hash groupBy
* :func:`minhash_signatures` word-shingle MinHash
* :func:`minhash_lsh_pairs`  banded-LSH candidate generation + exact
                             Jaccard verification
* :func:`simhash`            64-ish-bit SimHash as a pure Column
                             expression (md5-derived token hashes, so a
                             SQL oracle can reproduce it bit-for-bit)
* :func:`ngram_jaccard`      exact shingle-set Jaccard between two
                             text columns
* :func:`connected_components`  pairs → transitive-closure cluster ids
                             (min-label propagation)
* :func:`dedup_keep_canonical`  drop all but each cluster's min-id doc
* :func:`duplicate_spans` /  exact substring dedup at fixed window
  :func:`remove_duplicate_spans`  size (Lee et al. 2022 ExactSubstr)

Scale design: everything before the single candidate-pair shuffle is
map-side Column expressions (shingling, hashing, signatures, banding).
Candidate generation groups by (band, band-hash) — never an all-pairs
join — and giant buckets are capped to bound worst-case fan-out
(a 10^12-corpus has pathological near-identical clusters: caps keep
the pair count linear-ish). Verification recomputes exact Jaccard on
candidates only.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def cap_bucket_rows(df: DataFrame, keys: list[Column], order: list[Column], max_bucket: int) -> DataFrame:
    """Keep at most ``max_bucket`` rows per bucket, chosen
    deterministically (lowest ``order`` first), BEFORE any aggregation.

    This is the memory-safe form of bucket capping: a
    ``collect_list``-then-``slice`` bounds the *pair explosion* but
    still materializes the whole degenerate bucket in the aggregation
    buffer first — at 10^12-document scale a boilerplate/empty-page
    fingerprint bucket with 10^8 members OOMs the executor before the
    slice runs. ``row_number`` instead rides Spark's external
    (spill-to-disk) sort, so the aggregation only ever sees
    ``max_bucket`` rows per key. The downstream groupBy shares the
    window's hash partitioning, so the cap adds a sort but no extra
    shuffle. (A two-phase variant — count buckets, broadcast-semi-join
    the giant keys, window only those — was measured equal at bench
    scale; it becomes preferable only when the banded row count is so
    large that sorting all of it dominates the giant-bucket work.)"""
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_bucket_rn", F.row_number().over(w))
        .where(F.col("_bucket_rn") <= max_bucket)
        .drop("_bucket_rn")
    )

#: 60-bit token hash with an exact DuckDB equivalent:
#: ``('0x' || substr(md5(t),1,15))::UBIGINT`` — keeps oracles honest.
def md5_hash60(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams (the MinHash input set)."""
    col = F.col(text) if isinstance(text, str) else text
    toks = F.split(col, " ")
    k = F.size(toks) - (n - 1)
    return F.when(k <= 0, F.array(F.array_join(toks, " "))).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), k),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            )
        )
    )


def minhash_signatures(shingles: Column, num_hashes: int = 64) -> Column:
    """MinHash signature: per seed i, min over shingles of
    ``xxhash64(shingle, i)``. Pure map-side Column expression.

    Deliberately UNROLLED per seed: a nested runtime loop
    (``transform(sequence(0,63), seed -> …)``) measured 12× slower —
    nested higher-order lambdas evaluate interpreted per element,
    while unrolled literal seeds stay codegen'd. Seeds bind via a
    closure factory, NOT an ``i=i`` default arg (pyspark treats a
    second lambda parameter as the array-index variable)."""

    def hash_with_seed(seed: int):
        lit_seed = F.lit(seed)
        return lambda s: F.xxhash64(s, lit_seed)

    return F.array(
        *[
            F.array_min(F.transform(shingles, hash_with_seed(i)))
            for i in range(num_hashes)
        ]
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two array-set columns."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return inter.cast("double") / union


def ngram_jaccard(text_a: Column, text_b: Column, n: int = 3) -> Column:
    return jaccard(word_shingles(text_a, n), word_shingles(text_b, n))


def explode_bucket_pairs(buckets: DataFrame, members_col: str) -> DataFrame:
    """All (i < j) pairs from each bucket's member array, one ROW per
    pair with columns ``a`` and ``b``, shared by every LSH candidate
    generator. Callers cap and sort the member array first
    (deterministic truncation).

    Shape: ``posexplode`` picks element i as ``a``; ``slice(members,
    i+2, size-i-1)`` + ``explode`` yields every LATER element as
    ``b``. Both Generate nodes and the slice are whole-stage codegen,
    where a nested-``transform``-``flatten`` expression runs
    interpreted per element — on a capped degenerate bucket that is
    the difference between a multi-second single-task stage and
    milliseconds (the post-groupBy stage is AQE-coalesced by BYTES,
    which cannot see the quadratic pair fan-out)."""
    m = F.col(members_col)
    return buckets.select(
        F.posexplode(m).alias("_i", "a"), m.alias("_m")
    ).select(
        "a",
        F.explode(
            F.slice(F.col("_m"), F.col("_i") + F.lit(2), F.size("_m") - F.col("_i") - F.lit(1))
        ).alias("b"),
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Content-hash exact dedup: one row per distinct content with the
    canonical (minimum) id and the duplicate count. One shuffle, map-
    side combinable."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def canonical_url_dedup(
    df: DataFrame, canonical_col: str = "canonical_url", url_col: str = "url"
) -> DataFrame:
    """Dedup by declared ``rel=canonical`` target — the crawl-side rule
    that precedes any content hashing: mirrors/AMP/tracking variants of
    one page all point their ``<link rel="canonical">`` at the same
    URL (extracted by ``functions/html_meta.canonical_url``).

    Keeps the row whose own url equals the canonical target when that
    page is in the corpus, else the minimum url (deterministic); rows
    with no declaration group by their own url (self-canonical), so
    they pass through 1:1. One shuffle on the canonical key, map-side
    combinable — the cheapest dedup wave, run before minhash at scale.
    """
    key = F.coalesce(F.col(canonical_col), F.col(url_col))
    keeper = F.struct(
        # self-canonical rows sort first (0), so the canonical page
        # itself wins over its variants when present
        F.when(F.col(url_col) == key, F.lit(0)).otherwise(F.lit(1)).alias("rank"),
        F.col(url_col).alias("u"),
    )
    return (
        df.groupBy(key.alias("canonical_key"))
        .agg(
            F.min(keeper).getField("u").alias("kept_url"),
            F.count(F.lit(1)).alias("n_variants"),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket: int = 64,
    persist_base: bool = True,
    signatures_path: str | None = None,
    candidate_filter=None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH, verified exactly.

    ``candidate_filter`` (optional): callable ``(id_a Column, id_b
    Column) -> boolean Column`` applied to candidate pairs BEFORE the
    exact-Jaccard verification join — callers that only want a subset
    (e.g. cross-side pairs in incremental dedup) drop the rest before
    the expensive shingle re-join instead of after.

    Returns ``(id_a, id_b, jaccard_sim)`` with ``id_a < id_b`` and
    ``jaccard_sim ≥ threshold``.

    With ``num_hashes=64, bands=16`` (rows-per-band 4) the candidate
    probability for a pair at Jaccard s is ``1-(1-s^4)^16`` — ≈0.9997
    at s=0.7, ≈0.047 at s=0.2 — so verification work stays near-linear
    while recall at the threshold is effectively total.

    Buckets larger than ``max_bucket`` are truncated to their
    ``max_bucket`` lowest ids *before* aggregation (see
    :func:`cap_bucket_rows`), bounding both the quadratic pair
    blow-up AND the aggregation-buffer memory of degenerate clusters.
    """
    from solrizer_spark.operators.repartition import ensure_min_parallelism

    rows_per_band = num_hashes // bands
    # shingling + 64-hash signatures are the CPU-heavy map side; a
    # few-file corpus would otherwise compute them in that few tasks
    base = ensure_min_parallelism(df).select(
        F.col(id_col).alias("_id"),
        word_shingles(text_col, shingle_n).alias("_sh"),
    ).withColumn("_sig", minhash_signatures(F.col("_sh"), num_hashes))
    if signatures_path is not None:
        # 10^12-row scale path: the shingle/signature base is written
        # to durable storage once and re-read by the banding stage and
        # both verification-join sides — executor block-cache persist()
        # at that scale would evict or spill, and a table survives
        # job restarts (the signatures are by far the most expensive
        # intermediate). Same results as persist_base, by construction
        # and by test (tests/test_dedup_scale_paths.py).
        base.write.mode("overwrite").parquet(signatures_path)
        base = df.sparkSession.read.parquet(signatures_path)
    elif persist_base:
        # the shingle/signature base feeds banding AND both sides of
        # the verification join — without persistence it is computed
        # three times (measured ~1.5× total). At 10^12 scale write the
        # signatures to a table instead (signatures_path).
        base = base.persist()

    # band keys: hash of each signature slice → (band_idx, band_key);
    # shared expression with the durable index (band_key_expr) so the
    # two paths stay key-compatible
    band_key = band_key_expr(F.col("_sig"), bands, rows_per_band)
    # only (_id, band-key) ride the banding/cap shuffle — the shingle
    # array re-joins from the persisted base at verification time
    banded = base.select("_id", band_key.alias("bk"))

    # cap BEFORE aggregating: the groupBy's collect_list then holds at
    # most max_bucket ids, so degenerate buckets can't OOM (the window
    # keeps the max_bucket lowest ids — same members as the old
    # slice(array_sort(collect_list)) form, without materializing the
    # full bucket)
    capped = cap_bucket_rows(
        banded, [F.col("bk.band"), F.col("bk.key")], [F.col("_id")], max_bucket
    )
    buckets = (
        capped.groupBy(F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
        .agg(F.array_sort(F.collect_list("_id")).alias("ids"))
        .where(F.size("ids") > 1)
    )
    # pairs within bucket (i<j), dedup across bands
    pairs = (
        explode_bucket_pairs(buckets, "ids")
        .select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
        .distinct()
    )
    if candidate_filter is not None:
        pairs = pairs.where(candidate_filter(F.col("id_a"), F.col("id_b")))
    # exact verification on candidates only
    sh = base.select("_id", "_sh")
    verified = (
        pairs.join(sh.withColumnRenamed("_id", "id_a").withColumnRenamed("_sh", "_sha"), "id_a")
        .join(sh.withColumnRenamed("_id", "id_b").withColumnRenamed("_sh", "_shb"), "id_b")
        .withColumn("jaccard_sim", jaccard(F.col("_sha"), F.col("_shb")))
        .where(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", F.round("jaccard_sim", 6).alias("jaccard_sim"))
    )
    return verified


def make_simhash_udf(bits: int = 32):
    """Arrow SimHash — integer-exact twin of the :func:`simhash`
    Column fold (the similarity-kernel discipline, but with NO float
    parity burden: token hash = ``int(md5(tok)[:15], 16)``, balances
    are ±1 integer sums, the output is a bit-OR — every step exact).

    Vectorization: token md5s are memoized per Arrow batch (web-corpus
    vocabulary ≪ token count, so hashlib runs once per distinct
    token), then ONE ``(tokens × bits)`` numpy bit matrix and an
    ``add.reduceat`` over doc boundaries fold all balances — no
    per-token Python beyond the split and the memo lookup."""
    import hashlib

    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    shifts = np.arange(bits, dtype=np.int64)

    @pandas_udf(LongType())
    def simhash_udf(texts: pd.Series) -> pd.Series:
        if texts.empty:
            return pd.Series([], dtype="object")
        memo: dict[str, int] = {}

        def h60(tok: str) -> int:
            v = memo.get(tok)
            if v is None:
                v = int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:15], 16)
                memo[tok] = v
            return v

        docs = [None if t is None else t.split(" ") for t in texts]
        lens = np.asarray([0 if d is None else len(d) for d in docs])
        flat = np.fromiter(
            (h60(tok) for d in docs if d is not None for tok in d),
            dtype=np.int64,
        )
        if len(flat):
            bitmat = ((flat[:, None] >> shifts) & 1).astype(np.int64)
            offsets = np.zeros(len(docs), dtype=np.int64)
            np.cumsum(lens[:-1], out=offsets[1:])
            # reduceat needs strictly-valid segment starts; null/empty
            # docs (len 0) are masked out afterwards
            nonzero = lens > 0
            balances = np.zeros((len(docs), bits), dtype=np.int64)
            if nonzero.any():
                seg = np.add.reduceat(2 * bitmat - 1, offsets[nonzero], axis=0)
                balances[nonzero] = seg
            out_vals = ((balances > 0).astype(np.int64) << shifts).sum(axis=1)
        else:
            out_vals = np.zeros(len(docs), dtype=np.int64)
        return pd.Series(
            [None if d is None else int(v) for d, v in zip(docs, out_vals)],
            dtype="object",
        )

    return simhash_udf


def simhash(text: Column | str, bits: int = 32, arrow: bool = True) -> Column:
    """SimHash over word tokens as a single map-side expression.

    Token hash = 60-bit md5 prefix (DuckDB-reproducible). For each bit
    position b, the sign of Σ_tokens (2·bit_b(h)−1) sets output bit b.
    Default 32 bits keeps the expression tree manageable; the
    fingerprint is a BIGINT.

    Single-pass: each token is md5-hashed ONCE, then one ``aggregate``
    folds all ``bits`` bit-balances in a ``bits``-element accumulator
    array updated with ``zip_with`` (an earlier form ran one aggregate
    per bit — 32 redundant md5 passes over every token). Balance sums
    are integers, so the fold order can't change the fingerprint.

    ``arrow=True`` (default) computes the identical integers through
    the memoized-md5 numpy kernel (:func:`make_simhash_udf` —
    interpreted ``aggregate``/``zip_with`` folds are the documented
    hot-spot class); ``arrow=False`` is the pure-Column fallback.

    NULL text yields a NULL fingerprint — null-text rows (parse
    failures) are deliberately EXCLUDED from near-dup pairing rather
    than collapsing into one degenerate all-nulls bucket (the exact
    pathological cluster the bucket caps exist to defuse).
    """
    col = F.col(text) if isinstance(text, str) else text
    if arrow:
        return make_simhash_udf(bits)(col)
    toks = F.split(col, " ")
    hashes = F.transform(toks, md5_hash60)
    masks = F.array(*[F.lit(1 << b).cast("long") for b in range(bits)])
    zero = F.array(*([F.lit(0).cast("long")] * bits))
    balances = F.aggregate(
        hashes,
        zero,
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a + (h.bitwiseAND(m) != 0).cast("long") * 2 - 1,
        ),
    )
    return F.aggregate(
        F.zip_with(
            balances,
            masks,
            lambda bal, m: F.when(bal > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
    chunks: int = 4,
    max_bucket: int = 256,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ ``max_hamming``,
    using the pigeonhole band trick: split the fingerprint into
    ``chunks`` ≥ ``max_hamming+1`` chunks — any pair within distance d
    shares at least one exact chunk — group by (chunk_idx, chunk
    value), pair within buckets, verify with bit_count.

    ``max_bucket`` caps degenerate buckets (every empty/boilerplate
    page shares one fingerprint — an uncapped bucket is an O(n²) pair
    explosion). The cap applies BEFORE aggregation
    (:func:`cap_bucket_rows`), so the aggregation buffer is bounded
    too. Within the cap the pigeonhole guarantee is total recall;
    truncated buckets trade recall for boundedness, like
    minhash_lsh_pairs."""
    from solrizer_spark.operators.repartition import ensure_min_parallelism

    assert chunks >= max_hamming + 1
    chunk_bits = bits // chunks
    mask = (1 << chunk_bits) - 1
    # the md5-per-token fingerprint is the CPU-heavy map side — same
    # small-input parallelism guard as minhash_lsh_pairs
    base = ensure_min_parallelism(df).select(
        F.col(id_col).alias("_id"), simhash(text_col, bits).alias("_sh")
    )
    chunked = base.select(
        "_id",
        "_sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright("_sh", c * chunk_bits).bitwiseAND(F.lit(mask)).alias("val"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("ck"),
    )
    capped = cap_bucket_rows(
        chunked, [F.col("ck.chunk"), F.col("ck.val")], [F.col("_id"), F.col("_sh")], max_bucket
    )
    buckets = (
        capped.groupBy("ck.chunk", "ck.val")
        .agg(F.array_sort(F.collect_list(F.struct("_id", "_sh"))).alias("members"))
        .where(F.size("members") > 1)
    )
    pairs = (
        explode_bucket_pairs(buckets, "members")
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.bit_count(F.col("a._sh").bitwiseXOR(F.col("b._sh"))).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )
    return pairs


def remove_repeated_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 3,
    sep: str = "\n",
) -> DataFrame:
    """Corpus-wide repeated-line removal (the C4 cleaning rule: drop
    every line that occurs ≥ ``min_count`` times across the corpus —
    cookie banners, nav crumbs, boilerplate footers — keeping NO
    copies). Returns ``(id, cleaned_text, n_lines_kept,
    n_lines_dropped)`` for every input doc; a doc whose lines were all
    boilerplate comes back with an empty ``cleaned_text``.

    Dataflow: posexplode lines → global line count (one map-side-
    combinable shuffle; the combiner collapses each partition's
    repeats, so heavy boilerplate lines cost one row per partition on
    the wire) → the count table is reduced to the HOT-LINE set (count
    ≥ min_count — the boilerplate vocabulary, small by construction:
    it shrinks as min_count grows) and broadcast-left-joined onto the
    exploded lines → per-doc reassembly in original order (shuffle
    keyed by doc id). Two shuffles on uniform keys, and — critically —
    no shuffle keyed on line text: a cookie banner occurring in most
    of 10^12 docs would make a line-keyed join the most skewed key
    imaginable, whereas the broadcast probe is per-row and skew-free.
    (If the hot-line set ever exceeds broadcast size, raise min_count
    or pre-filter candidate lines; the count aggregate itself stays
    map-side-combinable either way.)

    Rows with a NULL text column pass through with ``cleaned_text``
    null and zero counters (a failed-extraction row is not "all
    boilerplate" — it keeps its distinct shape)."""
    import re

    lines = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), re.escape(sep))).alias("_idx", "_line"),
    )
    hot = (
        lines.groupBy("_line")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") >= min_count)
        .select("_line", F.lit(True).alias("_hot"))
    )
    tagged = lines.join(F.broadcast(hot), "_line", "left").withColumn(
        "_keep", F.col("_hot").isNull()
    )
    per_doc = tagged.groupBy("_id").agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_keep"), F.struct(F.col("_idx"), F.col("_line")))
                    )
                ),
                lambda s: s["_line"],
            ),
        ).alias("cleaned_text"),
        F.sum(F.col("_keep").cast("long")).alias("n_lines_kept"),
        F.sum((~F.col("_keep")).cast("long")).alias("n_lines_dropped"),
    )
    # every input doc comes back: null-text docs re-attach with null
    # cleaned_text and zero counters
    all_ids = df.select(F.col(id_col).alias("_id"))
    return (
        all_ids.join(per_doc, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.col("cleaned_text"),
            F.coalesce(F.col("n_lines_kept"), F.lit(0).cast("long")).alias("n_lines_kept"),
            F.coalesce(F.col("n_lines_dropped"), F.lit(0).cast("long")).alias("n_lines_dropped"),
        )
    )


def _label_checksum() -> Column:
    """Type-agnostic convergence checksum: sum of per-row label hashes
    — identical iff no label changed this round (hash-collision
    false-stop probability ~2^-64 per round). decimal(38,0): a plain
    BIGINT sum overflows under ANSI mode; xxhash64 of the string form
    keeps numeric and url ids on one code path."""
    return F.sum(F.xxhash64(F.col("component")).cast("decimal(38,0)")).alias("label_sum")


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
    algorithm: str = "label_propagation",
    strict: bool = False,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over a near-duplicate pair list — the step
    a real dedup pipeline runs AFTER pair generation: transitive
    closure groups pairs into clusters so one canonical doc per
    cluster survives. Returns ``(id, component)`` for every id that
    appears in ``pairs``, where ``component`` is the minimum id
    reachable (deterministic regardless of iteration order).

    Two interchangeable algorithms (identical output):

    * ``label_propagation`` (default): labels start as own id; each
      round every node takes the min of its label and its neighbors'
      labels (ids may be any orderable type — numeric doc ids or
      urls); converges in O(diameter) rounds (LSH dup clusters are
      near-cliques, so typically 1-3). Each round is one shuffle
      (aggregate min over edges) + one join.
    * ``star``: alternating large-star/small-star contraction
      (Kiveris et al., "Connected Components in MapReduce and
      Beyond", SoCC'14) — converges in O(log² n) rounds regardless
      of diameter, the right choice for 10^12-edge graphs or long
      chain topologies (see :func:`_star_round`).

    Per round exactly ONE Spark action runs: the convergence checksum
    rides the eager ``localCheckpoint`` materialization as an
    ``observe()`` metric (no separate probe job), and the checkpoint
    truncates the growing lineage.

    Non-convergence (component diameter > ``max_iterations`` under
    label propagation) is never silent: ``strict=True`` raises;
    otherwise a warning is logged and, when a ``stats`` dict is
    supplied, ``stats['converged']=False`` + ``stats['rounds']`` let
    callers (job.py run stats) surface it without log scraping.
    """
    from pyspark.sql import Observation

    if algorithm not in ("label_propagation", "star"):
        raise ValueError(f"unknown algorithm {algorithm!r} (label_propagation|star)")
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
    )

    converged = False
    rounds = 0
    if algorithm == "star":
        edges = edges.persist()
        labels, converged, rounds = _star_components(edges, max_iterations)
    else:
        # Round-6 loop restructuring (guide §2.4 — remove shuffles
        # outright): a SELF-LOOP per node folds "own label" into the
        # neighbor-min aggregation, so each round is ONE join + ONE
        # aggregation (was join + groupBy + second left join), and the
        # edge list is hash-partitioned by the join key ONCE up front —
        # previously the persisted post-distinct layout was keyed on
        # (src, dst), so every round re-shuffled the FULL edge list by
        # dst. Partition count derives from the measured edge count
        # (~500k edge rows per task), not a constant, so the loop stays
        # narrow at bench scale and wide at 10^9+ edges; the same
        # count() fills the persist before the loop.
        nodes = edges.select("src").distinct()
        edges_full = edges.where(F.col("src") != F.col("dst")).unionByName(
            nodes.select("src", F.col("src").alias("dst"))
        )
        # partition count from the STATIC input-size estimate (zero
        # jobs — the ensure_min_parallelism discipline): ~64 MB of
        # source bytes per loop partition, falling back to the session
        # shuffle width when the estimate is unknown (shuffle-fed
        # pairs already arrive that wide)
        from solrizer_spark.operators.repartition import _scan_input_bytes

        shuffle_parts = int(
            edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
        src_bytes = _scan_input_bytes(pairs)
        if src_bytes is None:
            n_parts = shuffle_parts
        else:
            n_parts = max(1, min(shuffle_parts, -(-src_bytes // (64 * 1024**2))))
        edges_full = edges_full.repartition(n_parts, "dst").persist()
        # fill the cache NOW (one pass over the pair synthesis), then
        # derive the initial labels from the cached self-loops — the
        # node set never re-runs the pair synthesis lineage
        edges_full.count()
        labels = edges_full.where(F.col("src") == F.col("dst")).select(
            F.col("src").alias("id"), F.col("src").alias("component")
        )
        prev_sum = None  # round 1 always changes labels (any edge a<b
        # gives b a smaller neighbor), except the empty graph, where
        # both sums are None and we converge immediately
        # (Round 6 note: fusing TWO propagation steps per action with
        # stacked observe() checksums was tried and REVERTED — it hit
        # a JVM assertion in toPyRow on the composed plan and profiled
        # SLOWER than one checkpointed round per action.)
        for rounds in range(1, max_iterations + 1):
            obs = Observation()
            new_labels = (
                # SHUFFLE_HASH build on the label side: the (big,
                # persisted, already-partitioned) edge list streams
                # without the per-round sort a sort-merge join would
                # re-run on it every iteration
                edges_full.join(
                    labels.hint("shuffle_hash"), edges_full.dst == labels.id
                )
                .groupBy("src")
                .agg(F.min("component").alias("component"))
                .withColumnRenamed("src", "id")
                .observe(obs, _label_checksum())
                .localCheckpoint()  # eager: runs the round's ONE job
            )
            new_sum = obs.get["label_sum"]
            labels = new_labels
            if new_sum == prev_sum:
                converged = True
                break
            prev_sum = new_sum
        edges_full.unpersist()
    edges.unpersist()
    if stats is not None:
        stats["converged"] = converged
        stats["rounds"] = rounds
        stats["algorithm"] = algorithm
    if not converged:
        # a component wider than max_iterations hops still carries
        # split labels — dedup would keep several "canonicals" for one
        # true cluster. Never silent: raise under strict, else warn +
        # stats flag.
        msg = (
            f"connected_components({algorithm}) did not converge in "
            f"{max_iterations} iterations; labels for components with "
            f"diameter > {max_iterations} are incomplete — raise "
            "max_iterations or use algorithm='star'"
        )
        if strict:
            raise RuntimeError(msg)
        import logging

        logging.getLogger(__name__).warning(msg)
    return labels


def _star_components(edges: DataFrame, max_iterations: int):
    """Alternating large-star/small-star rounds (Kiveris et al.,
    SoCC'14) over a symmetric edge list, until the edge set is stable.

    * large-star: every node connects its strictly-larger neighbors to
      the minimum of its closed neighborhood;
    * small-star: every node connects its not-larger neighbors and
      itself to that minimum.

    Each half-round is one groupBy shuffle + one broadcast-free join,
    and the edge set only shrinks toward a star per component, so the
    round count is O(log² n) independent of graph diameter — the
    documented swap-in for 10^12-edge graphs where min-label
    propagation's O(diameter) rounds are unaffordable. Works for any
    orderable id type (numeric or url), like the label-propagation
    path.

    Returns ``(labels, converged, rounds)`` with labels in the same
    ``(id, component)`` shape as label propagation.
    """
    from pyspark.sql import Observation

    # orient each undirected edge once; keep both directions available
    # per round via the symmetric frame
    cur = edges.where(F.col("src") != F.col("dst")).localCheckpoint()
    prev_sum = None
    converged = False
    rounds = 0
    for rounds in range(1, max_iterations + 1):
        # -- large-star ------------------------------------------------
        sym = cur.unionByName(cur.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()
        mins = (
            sym.groupBy("src")
            .agg(F.min("dst").alias("_mn"))
            .select("src", F.least(F.col("_mn"), F.col("src")).alias("m"))
        )
        large = (
            sym.join(mins, "src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint()
        )
        # -- small-star ------------------------------------------------
        oriented = large.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        mins2 = oriented.groupBy("src").agg(F.min("dst").alias("m"))
        obs = Observation()
        small = (
            oriented.join(mins2, "src")
            .select(F.col("dst").alias("a"), F.col("m").alias("b"))
            .unionByName(mins2.select(F.col("src").alias("a"), F.col("m").alias("b")))
            .where(F.col("a") != F.col("b"))
            .distinct()
            .select(F.col("a").alias("src"), F.col("b").alias("dst"))
            .observe(
                obs,
                # per-row hash of the (src,dst) pair; summing int64
                # hashes directly could overflow under ANSI, so cast
                # each row's hash to decimal first
                F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("label_sum"),
            )
            .localCheckpoint()
        )
        new_sum = obs.get["label_sum"]
        cur = small
        if new_sum == prev_sum:  # both None ⇔ empty edge set: converged
            converged = True
            break
        prev_sum = new_sum
    # one row per node id that appeared in pairs — including nodes
    # whose only edge was a self-pair (dropped from `cur` up front)
    # and, on non-convergence, nodes still carrying several outgoing
    # edges (take the min: labels stay one-row-per-id, possibly
    # incomplete — which the caller surfaces via converged=False).
    # At convergence every non-root has exactly one edge (to its
    # root), so this is exactly "star edges + roots point at self".
    nodes = edges.select(F.col("src").alias("id")).distinct()
    comp = cur.groupBy("src").agg(F.min("dst").alias("_comp"))
    labels = (
        nodes.join(comp, nodes.id == comp.src, "left")
        .select("id", F.coalesce(F.col("_comp"), F.col("id")).alias("component"))
        .localCheckpoint()
    )
    return labels, converged, rounds


def dedup_keep_canonical(
    df: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop every near-duplicate except each cluster's canonical
    (minimum-id) member: left-anti join the corpus against the
    non-canonical ids. Docs in no cluster pass through untouched."""
    losers = components.where(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def dedup_against_base(
    new_df: DataFrame,
    base_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float | None = 0.8,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket: int = 64,
    persist_base: bool = True,
) -> DataFrame:
    """Incremental dedup: the rows of ``new_df`` (a crawl increment)
    that duplicate nothing in ``base_df`` (the existing corpus) —
    the daily-increment production shape, where re-deduplicating the
    full union would redo 10^12 rows of work to admit 10^9.

    Two stages: exact (text-hash LEFT ANTI join — nulls pass, a null
    can't duplicate anything) and, when ``threshold`` is not None,
    near (MinHash+LSH): both sides get side-tagged string keys
    (``n:<id>`` / ``b:<id>`` — any id type, overlapping id spaces
    fine), run through the oracle-tested :func:`minhash_lsh_pairs`
    with a pre-verification filter keeping only CROSS-side candidate
    pairs, and a flagged cross pair drops its new row. New-vs-new duplicates are intentionally
    kept — dedup within the increment composes separately (job.py
    --dedup), and dropping them here would make the result depend on
    increment batching.

    Scale: the exact stage is one hash anti-join; the near stage
    reuses the capped, payload-pruned LSH machinery, with base×base
    candidates discarded BEFORE the exact-Jaccard verification join.
    Base shingles/signatures are recomputed per call here — for
    repeated increments against the same base, build the durable
    index ONCE with :func:`write_lsh_index` and use
    :func:`dedup_against_index` (equivalent results, pinned by
    test)."""
    text_hash = F.md5(F.col(text_col))
    base_hashes = (
        base_df.where(F.col(text_col).isNotNull())
        .select(text_hash.alias("__h"))
        .distinct()
    )
    survivors = new_df.join(
        base_hashes, F.md5(new_df[text_col]) == F.col("__h"), "left_anti"
    )
    if threshold is None:
        return survivors

    # side-tagged STRING keys, not id arithmetic: works for any id
    # type (curate's default id is the url string; numeric remaps
    # crash string ids under ANSI, overflow int32 ids, and lose
    # precision above 2^52 through double division — review findings)
    key_new = F.concat(F.lit("n:"), F.col(id_col).cast("string"))
    key_base = F.concat(F.lit("b:"), F.col(id_col).cast("string"))
    tagged = (
        survivors.where(F.col(text_col).isNotNull())
        .select(key_new.alias("__k"), text_col)
        .unionByName(
            base_df.where(F.col(text_col).isNotNull())
            .select(key_base.alias("__k"), text_col)
        )
    )
    side = lambda c: F.substring(c, 1, 1)  # noqa: E731
    pairs = minhash_lsh_pairs(
        tagged,
        id_col="__k",
        text_col=text_col,
        shingle_n=shingle_n,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        max_bucket=max_bucket,
        persist_base=persist_base,
        # drop same-side candidates BEFORE the verification join: the
        # base x base population dominates and is not wanted here
        candidate_filter=lambda a, b: side(a) != side(b),
    )
    flagged_keys = pairs.select(
        F.when(F.col("id_a").startswith("n:"), F.col("id_a"))
        .otherwise(F.col("id_b"))
        .alias("__k")
    ).distinct()
    return (
        survivors.withColumn("__k", key_new)
        .join(flagged_keys, "__k", "left_anti")
        .drop("__k")
    )


# --------------------------------------------------------------------------
# durable LSH index: cross-increment near-dup without re-signaturing
# --------------------------------------------------------------------------

def band_key_expr(sig: Column, bands: int, rows_per_band: int) -> Column:
    """Exploded ``(band, key)`` structs for a minhash signature array —
    the banding expression shared by the symmetric pair generator and
    the durable LSH index (one copy, so the two paths cannot drift)."""
    return F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.struct(
                b.alias("band"),
                F.xxhash64(
                    F.array_join(
                        F.transform(
                            F.slice(sig, b * rows_per_band + 1, rows_per_band),
                            lambda h: h.cast("string"),
                        ),
                        ",",
                    )
                ).alias("key"),
            ),
        )
    )


def write_lsh_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket: int = 64,
) -> None:
    """Materialize the base corpus' dedup index ONCE:
    ``{path}/signatures`` (id, text_hash, shingles), ``{path}/bands``
    (band, key, id — bucket membership capped at write time), and
    ``{path}/params`` (single row; read back to reject mismatched
    query parameters). This is the cross-increment amortization
    ``dedup_against_base`` documents as its limit: signaturing the
    10^12-row base happens here once, and every increment afterwards
    only signatures ITSELF (``dedup_against_index``)."""
    rows_per_band = num_hashes // bands
    spark = df.sparkSession
    base = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).cast("string").alias("_id"),
        F.md5(F.col(text_col)).alias("_th"),
        word_shingles(text_col, shingle_n).alias("_sh"),
    )
    # the durable table holds (id, text-hash, shingles); signatures are
    # recomputed from the stored shingles below (deterministic, and
    # cheaper to store shingles once than shingles + signature arrays)
    base.write.mode("overwrite").parquet(f"{path}/signatures")
    sigs = spark.read.parquet(f"{path}/signatures")  # durable, re-read
    resig = sigs.withColumn("_sig", minhash_signatures(F.col("_sh"), num_hashes))
    banded = resig.select("_id", band_key_expr(F.col("_sig"), bands, rows_per_band).alias("bk"))
    capped = cap_bucket_rows(
        banded, [F.col("bk.band"), F.col("bk.key")], [F.col("_id")], max_bucket
    )
    capped.select(
        F.col("bk.band").alias("band"), F.col("bk.key").alias("key"), "_id"
    ).write.mode("overwrite").parquet(f"{path}/bands")
    from solrizer_spark.session import write_local_parquet

    # driver-direct write — zero Spark jobs for the one-row params table
    write_local_parquet(
        [(shingle_n, num_hashes, bands, max_bucket)],
        "shingle_n int, num_hashes int, bands int, max_bucket int",
        f"{path}/params",
    )


def dedup_against_index(
    new_df: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float | None = 0.8,
    persist_increment: bool = True,
) -> DataFrame:
    """Incremental dedup against a :func:`write_lsh_index` index: the
    increment is the ONLY side that gets shingled/signatured; exact
    dups drop via the stored text hashes, near dups via a band join
    against the stored buckets + exact-Jaccard verification against
    the stored shingles. Same keep semantics as
    :func:`dedup_against_base` (new-vs-new dups kept); results are
    identical on non-degenerate buckets (pinned by test). Where the
    ``max_bucket`` cap binds they can differ in the increment's
    favor: the symmetric path may evict a tagged row from an
    oversized bucket entirely, while here the increment row always
    compares against the bucket's stored members (strictly ≥ recall);
    both sides cap their own bucket membership."""
    spark = new_df.sparkSession
    p = spark.read.parquet(f"{index_path}/params").collect()[0]
    shingle_n, num_hashes, bands, max_bucket = (
        p["shingle_n"], p["num_hashes"], p["bands"], p["max_bucket"],
    )
    rows_per_band = num_hashes // bands
    sigs = spark.read.parquet(f"{index_path}/signatures")

    survivors = new_df.join(
        sigs.select(F.col("_th").alias("__h")).distinct(),
        F.md5(new_df[text_col]) == F.col("__h"),
        "left_anti",
    )
    if threshold is None:
        return survivors

    inc = (
        survivors.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).cast("string").alias("_nid"),
            word_shingles(text_col, shingle_n).alias("_nsh"),
        )
        .withColumn("_sig", minhash_signatures(F.col("_nsh"), num_hashes))
    )
    if persist_increment:
        # feeds banding AND verification; same never-unpersisted
        # lifecycle as minhash_lsh_pairs' base (pass False from sinks
        # that cannot release caches, e.g. foreachBatch)
        inc = inc.persist()
    inc_banded = inc.select(
        "_nid", band_key_expr(F.col("_sig"), bands, rows_per_band).alias("bk")
    )
    # cap the INCREMENT side of each bucket too (stored max_bucket):
    # a degenerate increment bucket (10^6 boilerplate copies on one
    # band key) would otherwise fan out against the stored members
    # unbounded — same guard as the symmetric path (review finding)
    inc_capped = cap_bucket_rows(
        inc_banded, [F.col("bk.band"), F.col("bk.key")], [F.col("_nid")], max_bucket
    )
    inc_bands = inc_capped.select(
        F.col("bk.band").alias("band"), F.col("bk.key").alias("key"), "_nid"
    )
    base_bands = spark.read.parquet(f"{index_path}/bands")
    candidates = (
        inc_bands.join(base_bands, ["band", "key"])
        .select("_nid", "_id")
        .distinct()
    )
    flagged = (
        candidates.join(inc.select("_nid", "_nsh"), "_nid")
        .join(sigs.select("_id", "_sh"), "_id")
        .where(jaccard(F.col("_nsh"), F.col("_sh")) >= threshold)
        .select(F.col("_nid").alias("__k"))
        .distinct()
    )
    return (
        survivors.withColumn("__k", F.col(id_col).cast("string"))
        .join(flagged, "__k", "left_anti")
        .drop("__k")
    )


# ---------------------------------------------------------------------------
# Exact substring (duplicate-span) dedup — Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better". The published tool builds a
# corpus-wide suffix array and removes every >=50-token substring that
# occurs twice; a suffix array is a single-machine data structure, so the
# Spark-first form fixes the span length and detects duplicates exactly at
# that granularity: every duplicated ``span_tokens``-token window is found
# (a duplicated substring of length >= span_tokens always contains at least
# one duplicated window, so detection recall at the window size is exact).
# No reference analog (solrizer is one record per request).
# ---------------------------------------------------------------------------


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """Every occurrence of a corpus-duplicated ``span_tokens``-token
    window: ``(id, span_start, span_hash, n_occurrences, is_keeper)``
    with ``span_start`` 1-based in whitespace tokens and ``is_keeper``
    true on the single globally-first occurrence (lowest
    ``(id, span_start)``) — the copy :func:`remove_duplicate_spans`
    retains under its ``keep='first'`` policy.

    Scale dataflow: span hashing is map-side (one 60-bit
    :func:`md5_hash60` per window; DuckDB replicates the hash exactly,
    so oracles stay value-level). The global count + keeper aggregate
    is map-side combinable (``count`` + ``min(struct)``), so a
    boilerplate span occurring in 10^8 documents costs one row per
    partition on the wire, never a skewed reduce group. The only
    span-keyed shuffle is the join of occurrences back onto the
    (filtered, count >= min_count) duplicate table — a hot span IS a
    skewed probe key there; AQE's skew-join split handles it because
    the build side is one row per hash. Everything downstream is
    keyed by document id (uniform by construction)."""
    toks = F.split(F.col(text_col), " ")
    k = F.size(toks) - (span_tokens - 1)
    spans = (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("_id"),
            F.explode(
                F.when(
                    k <= 0,
                    # sequence(1, k<=0) would count DOWN; typed empty
                    F.array().cast("array<struct<start:int,h:bigint>>"),
                ).otherwise(
                    F.transform(
                        F.sequence(F.lit(1), k),
                        lambda i: F.struct(
                            i.alias("start"),
                            md5_hash60(
                                F.array_join(F.slice(toks, i, span_tokens), " ")
                            ).alias("h"),
                        ),
                    )
                )
            ).alias("sp"),
        )
        .select("_id", F.col("sp.start").alias("span_start"), F.col("sp.h").alias("span_hash"))
    )
    dups = (
        spans.groupBy("span_hash")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min(F.struct(F.col("_id"), F.col("span_start"))).alias("_keeper"),
        )
        .where(F.col("n_occurrences") >= min_count)
    )
    return spans.join(dups, "span_hash").select(
        F.col("_id").alias(id_col),
        "span_start",
        "span_hash",
        "n_occurrences",
        (
            (F.col("_id") == F.col("_keeper._id"))
            & (F.col("span_start") == F.col("_keeper.span_start"))
        ).alias("is_keeper"),
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 50,
    min_count: int = 2,
    keep: str = "first",
    spans: DataFrame | None = None,
) -> DataFrame:
    """Drop every token covered by a corpus-duplicated
    ``span_tokens``-token window, keeping the globally-first occurrence
    of each span when ``keep='first'`` (``keep='none'`` removes all
    copies, the C4-line-rule analog). Returns every input row as
    ``(id, cleaned_text, n_tokens_kept, n_tokens_dropped)``; null-text
    rows pass through null with zero counters.

    Removal stays relational (the :func:`remove_repeated_lines`
    shape): flagged spans explode to covered token positions, distinct
    per doc, anti-joined against the posexploded token relation, and
    the survivors reassemble under ``array_sort(collect_list(struct))``
    — every removal-side shuffle is keyed by document id. Overlapping
    flagged spans coalesce via the distinct, so a fully-boilerplate
    document costs at most ``span_tokens x`` its token count
    transiently in the covered-position explode, linear in span
    length, never quadratic in document length.

    ``spans``: a precomputed (ideally persisted)
    :func:`duplicate_spans` relation over the SAME ``df`` and
    parameters. A caller that also reports detection stats would
    otherwise pay the span hashing + count shuffle twice — Spark
    does not reuse identical uncached subplans across two sinks."""
    if keep not in ("first", "none"):
        raise ValueError(f"keep must be 'first' or 'none', got {keep!r}")
    flagged = (
        spans
        if spans is not None
        else duplicate_spans(df, id_col, text_col, span_tokens, min_count)
    )
    if keep == "first":
        flagged = flagged.where(~F.col("is_keeper"))
    covered = flagged.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.sequence(F.col("span_start"), F.col("span_start") + (span_tokens - 1))
        ).alias("_idx"),
    ).distinct()
    tokens = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("_pos0", "_tok"),
    ).select("_id", (F.col("_pos0") + 1).alias("_idx"), "_tok")
    kept = tokens.join(covered, ["_id", "_idx"], "left_anti")
    n_toks = tokens.groupBy("_id").agg(F.count(F.lit(1)).alias("_n_total"))
    per_doc = (
        kept.groupBy("_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_idx", "_tok"))),
                    lambda s: s["_tok"],
                ),
            ).alias("cleaned_text"),
            F.count(F.lit(1)).alias("n_tokens_kept"),
        )
    )
    with_text = (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("_id"))
        .join(per_doc, "_id", "left")
        .join(n_toks, "_id", "left")
        .select(
            "_id",
            # a doc whose every token sat in duplicated spans comes
            # back empty, not null (it had text; it was all boilerplate)
            F.coalesce(F.col("cleaned_text"), F.lit("")).alias("cleaned_text"),
            F.coalesce(F.col("n_tokens_kept"), F.lit(0).cast("long")).alias(
                "n_tokens_kept"
            ),
            (
                F.col("_n_total")
                - F.coalesce(F.col("n_tokens_kept"), F.lit(0).cast("long"))
            ).alias("n_tokens_dropped"),
        )
    )
    null_text = df.where(F.col(text_col).isNull()).select(
        F.col(id_col).alias("_id"),
        F.lit(None).cast("string").alias("cleaned_text"),
        F.lit(0).cast("long").alias("n_tokens_kept"),
        F.lit(0).cast("long").alias("n_tokens_dropped"),
    )
    return with_text.unionByName(null_text).withColumnRenamed("_id", id_col)
