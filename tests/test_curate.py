"""curate.py — the corpus-curation pipeline surface, end-to-end."""

from __future__ import annotations

import argparse
import json

import pytest

from pyspark.sql import functions as F


def _args(**kw) -> argparse.Namespace:
    base = dict(
        input=None, output=None, ops=None, id_col="doc_id", text_col="text",
        min_quality=0.5, langs="en", line_min_count=3, near_threshold=0.5,
        cc_algorithm="label_propagation", benchmark_file=None,
        mix_source_col="lang", mix_temperature=0.7, chunk_tokens=8,
        chunk_overlap=2, cpus=None, stats="full", report=None,
        min_fluency=1e-4, base_path=None, base_index=None, output_format="parquet",
        span_tokens=50, span_keep="first",
        dsir_target_lang="en", dsir_keep_frac=0.5, dsir_buckets=128,
        budget_tokens=1_000_000, budget_exact=False,
        ppl_tiers=3, ppl_keep_tiers=2, ppl_sample_fraction=1.0,
        bloom_path=None, bloom_index=None, bloom_fpp=0.001, bloom_exact=False,
        embeddings_path=None, embedding_col="embedding",
        embedding_id_col=None, semdedup_cells=2, semdedup_tau=0.99,
        semdedup_max_cell=256, semdedup_iters=2,
    )
    base.update(kw)
    return argparse.Namespace(**base)


@pytest.fixture()
def docs_table(spark, tmp_path):
    """A messy corpus: boilerplate lines, exact dupes, near dupes, a
    junk doc, an email, and a benchmark-contaminated doc."""
    body = (
        "the quick brown fox jumps over the lazy dog and then the dog "
        "sleeps in the warm sun for a while"
    )
    rows = [
        (1, "BANNER\n" + body + "\nFOOTER", "en"),
        (2, "BANNER\n" + body + " extra tail words here\nFOOTER", "en"),  # near-dup of 1
        (3, "BANNER\n" + body + "\nFOOTER", "en"),  # exact dup of 1 (post line-dedup)
        (4, "BANNER\nthe unrelated document is about a completely different "
            "topic with its own set of many words to keep quality high\nFOOTER", "en"),
        (5, "BANNER\nx\nFOOTER", "en"),  # junk: too short -> quality drop
        (6, "BANNER\ncontact me at bob@example.com for all of the further "
            "details about this and that topic of interest\nFOOTER", "en"),
    ]
    path = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(path)
    return path


def test_curate_pipeline(spark, docs_table, tmp_path):
    from curate import run_curate

    out = str(tmp_path / "curated")
    stats = run_curate(
        spark,
        _args(
            input=docs_table,
            output=out,
            ops="linededup,normalize,quality,scrub,exactdedup,neardedup",
        ),
    )
    assert stats["rows_in"] == 6
    result = {r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()}
    # BANNER/FOOTER (6 occurrences each) removed by linededup;
    # doc 5 dropped by quality; doc 3 collapsed into 1 by exactdedup;
    # doc 2 collapsed into 1 by neardedup; doc 6 scrubbed
    assert set(result) == {1, 4, 6}
    assert "BANNER" not in result[1] and "FOOTER" not in result[1]
    assert "[EMAIL]" in result[6] and "bob@example.com" not in result[6]
    ops_run = [e["op"] for e in stats["ops"]]
    assert ops_run == ["linededup", "normalize", "quality", "scrub",
                       "exactdedup", "neardedup"]
    assert stats["rows_out"] == 3


def test_curate_chunk_and_unknown_op(spark, docs_table, tmp_path):
    from curate import run_curate

    out = str(tmp_path / "chunks")
    stats = run_curate(
        spark, _args(input=docs_table, output=out, ops="linededup,chunk")
    )
    chunks = spark.read.parquet(out)
    assert stats["rows_out"] == chunks.count() > 6  # fan-out happened
    assert {"chunk_index", "chunk", "chunk_n_tokens"} <= set(chunks.columns)
    assert chunks.agg(F.max("chunk_n_tokens")).collect()[0][0] <= 8

    with pytest.raises(ValueError, match="unknown op"):
        run_curate(spark, _args(input=docs_table, output=out, ops="nope"))
    with pytest.raises(ValueError, match="missing column"):
        run_curate(spark, _args(input=docs_table, output=out, ops="normalize",
                                text_col="absent"))


def test_curate_decontaminate(spark, docs_table, tmp_path):
    from curate import run_curate

    bench = tmp_path / "bench.txt"
    bench.write_text(
        "the quick brown fox jumps over the lazy dog and then some\n",
        encoding="utf-8",
    )
    out = str(tmp_path / "decon")
    run_curate(
        spark,
        _args(input=docs_table, output=out, ops="decontaminate",
              benchmark_file=str(bench)),
    )
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    # docs 1/2/3 share the fox 8-gram with the benchmark -> dropped
    assert kept == {4, 5, 6}


def test_curate_null_text_safety(spark, tmp_path):
    """Null-text docs: exactdedup must NOT collapse distinct docs into
    one 'duplicate' group, and neardedup passes them through."""
    from curate import run_curate

    rows = [
        (1, "the quick brown fox jumps over the lazy dog repeatedly", "en"),
        (2, None, "en"),
        (3, None, "en"),
        (4, "a completely different document about other things entirely", "en"),
    ]
    path = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(path)

    out = str(tmp_path / "out")
    run_curate(spark, _args(input=path, output=out, ops="exactdedup,neardedup"))
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {1, 2, 3, 4}  # both null-text docs survive


def test_curate_decontaminate_requires_benchmark(spark, docs_table, tmp_path):
    from curate import run_curate

    with pytest.raises(ValueError, match="requires --benchmark-file"):
        run_curate(
            spark,
            _args(input=docs_table, output=str(tmp_path / "o"),
                  ops="linededup,decontaminate"),
        )


def test_curate_fluency_op(spark, tmp_path):
    from curate import run_curate

    fluent = ("the cat sat on the mat " * 8).strip()
    gibberish = "zq xv qqj wpl kd zzv rrq mnx uy qp ab cd ef gh ij"
    rows = [(i, fluent, "en") for i in range(1, 5)] + [(9, gibberish, "en"),
                                                       (10, "tiny", "en")]
    path = str(tmp_path / "fl_in")
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .write.parquet(path)
    out = str(tmp_path / "fl_out")
    run_curate(spark, _args(input=path, output=out, ops="fluency",
                            min_fluency=0.05))
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    # gibberish transitions are all OOV (mean_p = 1e-6) -> dropped;
    # the bigram-less doc 10 passes by contract
    assert kept == {1, 2, 3, 4, 10}


def test_curate_basededup_op(spark, tmp_path):
    from curate import run_curate

    body = ("the quick brown fox jumps over the lazy dog and then sleeps "
            "in the warm afternoon sun for a while longer")
    base_path = str(tmp_path / "base")
    spark.createDataFrame([(1, body)], ["doc_id", "text"]) \
        .write.parquet(base_path)
    inc = str(tmp_path / "inc")
    spark.createDataFrame(
        [(10, body),                                   # exact dup
         (11, " ".join(body.split()[:-1])),            # near dup
         (12, "wholly new increment content with brand new vocabulary "
              "sharing nothing at all with the base corpus text")],
        ["doc_id", "text"],
    ).write.parquet(inc)
    out = str(tmp_path / "out")
    run_curate(spark, _args(input=inc, output=out, ops="basededup",
                            base_path=base_path, near_threshold=0.8))
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {12}
    import pytest as _pytest
    with _pytest.raises(ValueError, match="requires --base-path"):
        run_curate(spark, _args(input=inc, output=out, ops="basededup"))


def test_curate_jsonl_export(spark, tmp_path):
    import glob
    import gzip
    import json as _json

    from curate import run_curate

    path = str(tmp_path / "in")
    spark.createDataFrame(
        [(1, "some training text here"), (2, "another document of text")],
        ["doc_id", "text"],
    ).write.parquet(path)
    out = str(tmp_path / "out")
    stats = run_curate(spark, _args(input=path, output=out, ops="normalize",
                                    output_format="jsonl", stats="none"))
    assert stats["rows_out"] == 2
    files = glob.glob(out + "/*.json.gz")
    assert files, "expected gzip jsonl shards"
    rows = []
    for f in files:
        with gzip.open(f, "rt", encoding="utf-8") as fh:
            rows += [_json.loads(line) for line in fh if line.strip()]
    assert {r["doc_id"] for r in rows} == {1, 2}


def test_curate_basededup_via_index(spark, tmp_path):
    from curate import run_curate
    from solrizer_spark.operators.dedup import write_lsh_index

    body = ("the quick brown fox jumps over the lazy dog and then sleeps "
            "in the warm afternoon sun for a while longer")
    base = spark.createDataFrame([(1, body)], ["doc_id", "text"])
    idx = str(tmp_path / "idx")
    write_lsh_index(base, idx)
    inc = str(tmp_path / "inc")
    spark.createDataFrame(
        [(10, body), (11, " ".join(body.split()[:-1])),
         (12, "wholly fresh content sharing nothing with the base at all "
              "and carrying plenty of new vocabulary")],
        ["doc_id", "text"],
    ).write.parquet(inc)
    out = str(tmp_path / "out")
    run_curate(spark, _args(input=inc, output=out, ops="basededup",
                            base_index=idx, near_threshold=0.8))
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {12}


def test_curate_substrdedup_op(spark, tmp_path):
    """substrdedup rewrites duplicated windows out of every copy but
    the globally-first one; a fully-boilerplate doc is dropped."""
    from curate import run_curate

    body = " ".join(f"w{i}" for i in range(30))
    rows = [
        (1, body + " unique-one"),
        (2, body + " unique-two"),          # shares the 30-token prefix
        (3, "totally different words " + " ".join(f"z{i}" for i in range(10))),
        (4, body),                           # nothing but the shared span
    ]
    path = str(tmp_path / "ssd")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(path)
    out = str(tmp_path / "ssd_out")
    run_curate(
        spark,
        _args(input=path, output=out, ops="substrdedup", span_tokens=10),
    )
    got = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(out).collect()
    }
    assert got[1] == body + " unique-one"       # keeper copy untouched
    assert got[2] == "unique-two"               # duplicated prefix removed
    assert "totally different" in got[3]        # unique doc untouched
    assert 4 not in got                         # all-boilerplate doc dropped


def test_curate_dsir(spark, docs_table, tmp_path):
    from curate import run_curate

    out = str(tmp_path / "dsir_out")
    stats = run_curate(
        spark,
        _args(input=docs_table, output=out, ops="dsir", dsir_keep_frac=0.5),
    )
    # 6 docs in, ceil(6 * 0.5) = 3 kept, schema passes through
    assert stats["ops"][-1]["rows_after"] == 3
    kept = spark.read.parquet(out)
    assert kept.count() == 3
    assert set(kept.columns) == {"doc_id", "text", "lang"}


def test_curate_canonicaldedup(spark, tmp_path):
    from curate import run_curate

    rows = [
        ("https://a.com/page", "canonical body text one", "https://a.com/page"),
        ("https://a.com/page?utm=x", "variant body text two", "https://a.com/page"),
        ("https://c.com/solo", "standalone body text", None),
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "url string, text string, canonical_url string"
    ).write.parquet(src)
    out = str(tmp_path / "curated")
    stats = run_curate(
        spark, _args(input=src, output=out, ops="canonicaldedup",
                     id_col="url", text_col="text")
    )
    kept = {r["url"] for r in spark.read.parquet(out).collect()}
    assert kept == {"https://a.com/page", "https://c.com/solo"}
    assert stats["ops"][0]["rows_after"] == 2

    # missing column fails loudly, not silently
    src2 = str(tmp_path / "docs2")
    spark.createDataFrame([("u1", "t")], "url string, text string").write.parquet(src2)
    with pytest.raises(SystemExit, match="canonical_url"):
        run_curate(spark, _args(input=src2, output=str(tmp_path / "c2"),
                                ops="canonicaldedup", id_col="url", text_col="text"))


def test_curate_tokenbudget(spark, docs_table, tmp_path):
    """tokenbudget op: exact mode lands the corpus within one doc of
    the per-source targets; internal columns don't leak."""
    from curate import run_curate

    out = str(tmp_path / "tb")
    stats = run_curate(
        spark,
        _args(input=docs_table, output=out, ops="tokenbudget",
              budget_tokens=40, budget_exact=True),
    )
    assert 0 < stats["rows_out"] < 6
    got = spark.read.parquet(out)
    assert "_toks" not in got.columns and "_target_tokens" not in got.columns
    mass = got.select(F.sum(F.size(F.split("text", " ")))).first()[0]
    # one source (lang=en): target 40, overshoot < the boundary doc
    assert 40 <= mass < 40 + 25


def test_curate_ppltier(spark, tmp_path):
    """ppltier op: CCNet head/middle keep — the tail tier of the
    self-trained bigram fluency ranking is dropped; docs built from
    corpus-common bigrams outrank all-OOV gibberish."""
    from curate import run_curate

    common = "the cat sat on the mat " * 4
    rows = [(i, common.strip(), "en") for i in range(6)] + [
        (10, "zxq wvu tsr qpo nml kji hgf edc", "en"),
        (11, "aaa bbb ccc ddd eee fff ggg hhh", "en"),
        (12, "one two three four five six seven eight", "en"),
    ]
    path = str(tmp_path / "ppl_docs")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.parquet(path)
    out = str(tmp_path / "ppl")
    stats = run_curate(
        spark,
        _args(input=path, output=out, ops="ppltier",
              ppl_tiers=3, ppl_keep_tiers=2),
    )
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert stats["rows_out"] < 9, "tail tier must be dropped"
    assert set(range(6)) <= kept, "common-bigram docs are head tier"


def test_curate_semdedup_side_table(spark, tmp_path):
    """semdedup op: the higher-id doc of an embedding near-dup pair is
    dropped; docs without an embedding row pass through untouched."""
    import random

    from curate import run_curate

    rows = [(i, f"document number {i} with its own words", "en") for i in range(8)]
    path = str(tmp_path / "sem_docs")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.parquet(path)

    rng = random.Random(9)
    base = {i: [rng.uniform(-1, 1) for _ in range(8)] for i in range(7)}
    base[5] = [x * 1.0001 for x in base[1]]  # planted semantic dup of 1
    emb_path = str(tmp_path / "sem_emb")
    spark.createDataFrame(  # doc 7 has NO embedding row
        [(i, v) for i, v in base.items()], "doc_id long, embedding array<float>"
    ).write.parquet(emb_path)

    out = str(tmp_path / "sem_out")
    stats = run_curate(
        spark,
        _args(input=path, output=out, ops="semdedup",
              embeddings_path=emb_path, semdedup_cells=2),
    )
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert 5 not in kept, "planted semantic dup must be dropped"
    assert kept == {0, 1, 2, 3, 4, 6, 7}, kept
    assert stats["ops"][0]["rows_after"] == 7


def test_curate_semdedup_requires_embeddings(spark, tmp_path, docs_table):
    from curate import run_curate

    with pytest.raises(ValueError, match="semdedup"):
        run_curate(
            spark,
            _args(input=docs_table, output=str(tmp_path / "o"), ops="semdedup"),
        )


def test_curate_bloomdedup(spark, tmp_path):
    """bloomdedup: increment rows duplicating the base corpus's text
    are dropped via the broadcast filter; new rows survive; the
    --bloom-exact form loses nothing even at a coarse fpp; a saved
    filter (--bloom-path) gives the same answer as building in-op."""
    from curate import run_curate
    from solrizer_spark.operators.bloom import bloom_build, save_bloom

    base_rows = [(i, f"base document number {i} with stable text", "en")
                 for i in range(200)]
    base_path = str(tmp_path / "base")
    spark.createDataFrame(
        base_rows, "doc_id long, text string, lang string"
    ).write.parquet(base_path)

    inc_rows = (
        [(1000 + i, f"base document number {i} with stable text", "en")
         for i in range(50)]  # duplicates of the base
        + [(2000 + i, f"fresh increment document {i} entirely new", "en")
           for i in range(50)]
        + [(3000, None, "en")]
    )
    inc_path = str(tmp_path / "inc")
    spark.createDataFrame(
        inc_rows, "doc_id long, text string, lang string"
    ).write.parquet(inc_path)

    out = str(tmp_path / "out1")
    run_curate(spark, _args(input=inc_path, output=out, ops="bloomdedup",
                            base_path=base_path, bloom_exact=True))
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {2000 + i for i in range(50)} | {3000}

    # saved-filter path: identical outcome without touching the base
    bf = bloom_build(spark.read.parquet(base_path), "text",
                     expected_items=200, fpp=0.001)
    bloom_dir = str(tmp_path / "bloomf")
    save_bloom(spark, bf, bloom_dir)
    out2 = str(tmp_path / "out2")
    run_curate(spark, _args(input=inc_path, output=out2, ops="bloomdedup",
                            bloom_path=bloom_dir))
    kept2 = {r["doc_id"] for r in spark.read.parquet(out2).collect()}
    assert not kept2.intersection({1000 + i for i in range(50)})
    assert {2000 + i for i in range(50)} <= kept2 | {3000}

    with pytest.raises(ValueError, match="bloomdedup"):
        run_curate(spark, _args(input=inc_path, output=str(tmp_path / "o3"),
                                ops="bloomdedup"))


def test_curate_bloomdedup_sharded_index(spark, tmp_path):
    """--bloom-index: the sharded-index form drops base duplicates and
    keeps new rows, same contract as the flat filter."""
    from curate import run_curate
    from solrizer_spark.operators.bloom import bloom_index_build

    base_rows = [(i, f"indexed base doc {i} stable words", "en")
                 for i in range(300)]
    base_df = spark.createDataFrame(
        base_rows, "doc_id long, text string, lang string"
    )
    idx = str(tmp_path / "bloomidx")
    bloom_index_build(base_df, "text", idx, n_shards=4,
                      expected_items=300, fpp=0.001)

    inc_rows = (
        [(1000 + i, f"indexed base doc {i} stable words", "en")
         for i in range(80)]
        + [(2000 + i, f"novel increment doc {i} other words", "en")
           for i in range(80)]
    )
    inc_path = str(tmp_path / "inc")
    spark.createDataFrame(
        inc_rows, "doc_id long, text string, lang string"
    ).write.parquet(inc_path)

    out = str(tmp_path / "out")
    run_curate(spark, _args(input=inc_path, output=out, ops="bloomdedup",
                            bloom_index=idx))
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert not kept.intersection({1000 + i for i in range(80)})
    assert len(kept.intersection({2000 + i for i in range(80)})) >= 78


CHAIN = "linededup,quality,fluency,exactdedup,neardedup,chunk"


def test_curate_stats_single_pass(spark, docs_table, tmp_path):
    """--stats full counts each op on the pass that materializes it:
    the only count() calls curate.py makes are rows_in and rows_out,
    and each rows_after equals a count() of the same op prefix."""
    import os
    import sys
    from unittest import mock

    from pyspark.sql.classic.dataframe import DataFrame

    import curate

    args = _args(input=docs_table, output=str(tmp_path / "out"), ops=CHAIN)
    original = DataFrame.count
    callers = []

    def count(df):
        callers.append(os.path.basename(sys._getframe(1).f_code.co_filename))
        return original(df)

    with mock.patch.object(DataFrame, "count", count):
        stats = curate.run_curate(spark, args)
    assert callers.count("curate.py") == 2

    df = spark.read.parquet(docs_table)
    persisted: list = []
    reference = []
    for op in CHAIN.split(","):
        df = curate.apply_op(df, op, args, args.id_col, args.text_col, persisted)
        reference.append(df.count())
    for frame in persisted:
        frame.unpersist()
    assert [e["rows_after"] for e in stats["ops"]] == reference
    assert stats["rows_in"] == 6 and stats["rows_out"] == reference[-1]
    assert len(set(reference)) > 1  # the chain really filters


def test_curate_stats_empty_from_quality_on(spark, docs_table, tmp_path):
    """quality drops every doc, so each later op runs on an empty
    relation: a filter (quality), the self-trained LM join (fluency),
    a window (exactdedup), LSH + connected components (neardedup) and
    an explode (chunk). Every boundary's observed count still fires."""
    from curate import run_curate

    out = str(tmp_path / "out")
    stats = run_curate(
        spark, _args(input=docs_table, output=out, ops=CHAIN, min_quality=1.5)
    )
    rows_after = [e["rows_after"] for e in stats["ops"]]
    assert rows_after[0] == 6 and rows_after[1:] == [0] * 5
    assert stats["rows_out"] == 0
    assert spark.read.parquet(out).count() == 0


def test_curate_stats_shuffle_partition_independent(spark, docs_table, tmp_path):
    """Output rows and stats do not depend on spark.sql.shuffle.partitions."""
    from curate import run_curate

    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    runs = []
    try:
        for n in ("1", "8"):
            spark.conf.set(key, n)
            out = str(tmp_path / f"out{n}")
            stats = run_curate(spark, _args(input=docs_table, output=out, ops=CHAIN))
            runs.append((sorted(spark.read.parquet(out).collect()), stats))
    finally:
        spark.conf.set(key, saved)
    assert runs[0] == runs[1]
    assert runs[0][0], "chain kept no rows"


def test_curate_job_groups(spark, docs_table, tmp_path):
    """Each op's jobs run in job group curate:<index>:<op>; the group
    is cleared once the op is done."""
    from curate import run_curate

    sc = spark.sparkContext
    run_curate(spark, _args(input=docs_table, output=str(tmp_path / "o"), ops=CHAIN))
    assert sc.statusTracker().getJobIdsForGroup("curate:4:neardedup")
    assert sc.getLocalProperty("spark.jobGroup.id") is None


@pytest.mark.parametrize("stats", ["full", "none"])
def test_curate_failure_releases_pinned_frames(spark, docs_table, tmp_path, stats):
    """An op that raises does not leave the caches and boundary
    checkpoints of the ops before it pinned."""
    from unittest import mock

    import curate

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs())
    real = curate.apply_op

    def apply_op(df, op, *rest):
        if op == "chunk":
            raise RuntimeError("op failed")
        return real(df, op, *rest)

    args = _args(input=docs_table, output=str(tmp_path / "o"),
                 ops="exactdedup,dsir,chunk", stats=stats)
    with mock.patch.object(curate, "apply_op", apply_op):
        with pytest.raises(RuntimeError, match="op failed"):
            curate.run_curate(spark, args)
    assert set(jsc.getPersistentRDDs()) <= before
