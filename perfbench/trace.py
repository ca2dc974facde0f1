"""The traced pass: per-layer numbers, timed from outside each layer's
public functions.

Job workload: a prefix ladder over the extraction plan (scan ->
+ salted repartition -> + no-op Arrow UDF -> + ``extract_stage``), the
field-chain stages as cumulative ``STAGES`` prefixes over persisted
extraction output, the partitioned sink write over persisted docs, and
the metrics/manifest side tables; plus in-process kernel timings over
one Arrow batch of pages.

Curate workload: the untraced call's ``--stats full`` row counts, timed
by wrapping ``DataFrame.count``; then ``apply_op`` per op over a
persisted predecessor, the write and the read-back.

Both: Spark REST stage metrics of the untraced call. A layer a
workload does not run reports 0 and is listed under ``absent``.

Every ladder rung and curate op is timed once, on its first execution,
as the program runs it; kernel timings (us/doc, us/KB) are the least
of a few repeats. The trace runs after the untraced call, in the same
session, so its figures are those of a warmed JVM. What the untraced
call spends beyond them (class loading, code generation and JIT of a
cold session, the parts of the plan no rung isolates) is reported as
``job.unaccounted_s``, and the trace's own wall against the call's as
``trace.overhead_s``.
"""

from __future__ import annotations

import contextlib
import json
import linecache
import os
import re
import sys
import time
import urllib.request
from unittest import mock
from urllib.parse import urlparse

from pyspark.sql import functions as F

from perfbench.spec import CURATE_OPS, PER_LAYER, SELF_TIMES


def timed(fn) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


class SparkRest:
    """Jobs and stages of one application from the Spark UI's REST API."""

    def __init__(self, spark):
        port = urlparse(spark.sparkContext.uiWebUrl).port
        app = spark.sparkContext.applicationId
        self.base = f"http://localhost:{port}/api/v1/applications/{app}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def job_ids(self) -> set[int]:
        return {j["jobId"] for j in self.get("/jobs")}

    def summary(self, before: set[int], heaviest_ratio: bool) -> dict:
        """Counters of the jobs started since ``before``."""
        deadline = time.monotonic() + 10
        while True:  # the UI store is updated by an asynchronous listener
            jobs = [j for j in self.get("/jobs") if j["jobId"] not in before]
            if all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
                break
            time.sleep(0.2)
        ids = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s for s in self.get("/stages")
            if s["stageId"] in ids and s["status"] == "COMPLETE"
        ]
        out = {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(s["numCompleteTasks"] for s in stages),
            "spark.shuffle_write_mb": sum(s.get("shuffleWriteBytes", 0) for s in stages) / 1e6,
            "spark.spill_mb": sum(s.get("diskBytesSpilled", 0) for s in stages) / 1e6,
        }
        if heaviest_ratio and stages:
            # the extraction UDF runs in the call's heaviest stage
            top = max(stages, key=lambda s: s.get("executorRunTime", 0))
            q = self.get(
                f"/stages/{top['stageId']}/{top['attemptId']}/taskSummary?quantiles=0.5,1.0"
            )["executorRunTime"]
            out["extract.task_max_over_median"] = q[1] / q[0] if q[0] else 0.0
        return out


def _hash_all(df):
    """An aggregate that consumes every column, so none is pruned."""
    cols = [c for c, t in df.dtypes if not t.startswith("map")]
    return df.agg(F.bit_xor(F.xxhash64(*cols))).collect()


def _noop_arrow_udf():
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def handoff(html, text):
        return pd.Series([0] * len(html), dtype="int64")

    # real classes, not the strings this module's future import makes
    handoff.__annotations__ = {"html": pd.Series, "text": pd.Series, "return": pd.Series}
    return pandas_udf(handoff, "long")


def _best_time(fn, repeats: int = 3) -> float:
    """Least of ``repeats`` timings: the run least disturbed by other
    work on the host."""
    return min(timed(fn)[0] for _ in range(repeats))


def _each(fn, items) -> None:
    """Call ``fn`` on every item, keeping no results alive (a list of
    results would grow the garbage collector's work with the sample)."""
    for item in items:
        fn(item)


def kernel_layers(pages, large_pages) -> dict:
    """Driver-side kernel timings over one Arrow batch of pages."""
    import pandas as pd

    from solrizer_spark.extraction.charset import decode_html_bytes
    from solrizer_spark.extraction.cscan import run_cscan
    from solrizer_spark.extraction.html_text import classify_blocks, extract_html
    from solrizer_spark.operators.extract import make_extract_fast_udf

    html = pd.Series(pages.column("html").to_pylist(), dtype=object)
    text = pd.Series(pages.column("text").to_pylist(), dtype=object)
    hint = pd.Series([None] * len(html), dtype=object)
    body = make_extract_fast_udf().func
    routes = body(html, text, hint)["route"]
    html_docs = [h for h, r in zip(html, routes) if r == "html"]
    kb = sum(len(h) for h in html_docs) / 1024
    # body and its extract_html share interleaved, so host load drifts
    # hit both alike
    t_body, t_extract = float("inf"), float("inf")
    for _ in range(5):
        t_body = min(t_body, timed(lambda: body(html, text, hint))[0])
        t_extract = min(t_extract, timed(lambda: _each(extract_html, html_docs))[0])
    t_decode = _best_time(lambda: _each(decode_html_bytes, html_docs))
    texts = [decode_html_bytes(h)[0] for h in html_docs]
    t_scan = _best_time(lambda: _each(run_cscan, texts))
    states = [run_cscan(t) for t in texts]
    scanned = [s.blocks for s in states if s is not None]
    t_classify = _best_time(lambda: _each(classify_blocks, scanned))

    large = [p["html"] for p in large_pages if p["html"] and not p["html"].startswith(b"%PDF")]
    large_kb = sum(len(h) for h in large) / 1024
    t_decode_large = _best_time(lambda: _each(decode_html_bytes, large))
    large_texts = [decode_html_bytes(h)[0] for h in large]
    t_scan_large = _best_time(lambda: _each(run_cscan, large_texts))

    n = len(html)
    return {
        "extract.body_us_per_doc": t_body / n * 1e6,
        "extract.glue_us_per_doc": (t_body - t_extract) / n * 1e6,
        "charset.decode_us_per_kb": t_decode / kb * 1e6,
        "cscan.scan_us_per_kb": t_scan / kb * 1e6,
        "charset.decode_us_per_kb_large": t_decode_large / large_kb * 1e6,
        "cscan.scan_us_per_kb_large": t_scan_large / large_kb * 1e6,
        "classify.us_per_doc": t_classify / max(1, len(scanned)) * 1e6,
        "cscan.bail_ratio": (len(states) - len(scanned)) / max(1, len(states)),
    }


def job_layers(spark, wl) -> dict:
    import pyarrow.parquet as pq

    from job import DOC_COLUMNS
    from solrizer_spark.corpus.generator import generate_page
    from solrizer_spark.operators.extract import extract_stage
    from solrizer_spark.operators.manifests import corpus_fingerprint, manifest_from_metrics
    from solrizer_spark.operators.metrics import build_metrics
    from solrizer_spark.operators.repartition import (
        _scan_input_bytes,
        partitions_for_bytes,
        salted_repartition,
        url_bucket,
    )
    from solrizer_spark.plans.pipeline import DEFAULT_CHAIN, STAGES
    from solrizer_spark.session import ARROW_MAX_RECORDS_PER_BATCH
    from solrizer_spark.sources.pages import read_pages, write_table

    m: dict = {}

    def html_sum(df):
        return df.agg(F.sum(F.length("html"))).collect()

    pages = read_pages(spark, wl.inputs["pages"])
    fingerprint = corpus_fingerprint(pages)
    pages = pages.withColumn("partition_key", url_bucket("url", 256, 0))
    n_parts = partitions_for_bytes(
        _scan_input_bytes(pages), spark.sparkContext.defaultParallelism
    )
    # each rung is timed once, on its first execution, as the program
    # runs it; earlier rungs and the untraced call have warmed the JVM
    t_scan, _ = timed(lambda: html_sum(pages))
    rep = salted_repartition(pages, n_parts)
    t_rep, _ = timed(lambda: html_sum(rep))
    counts = [r[1] for r in rep.groupBy(F.spark_partition_id()).count().collect()]
    noop = _noop_arrow_udf()
    t_handoff, _ = timed(
        lambda: rep.select(noop("html", "text").alias("n")).agg(F.sum("n")).collect()
    )
    extracted = extract_stage(rep)
    t_udf, _ = timed(
        lambda: extracted.agg(F.sum(F.length("extracted_text")), F.count("route")).collect()
    )
    m["pages.scan_s"] = t_scan
    m["repartition.shuffle_s"] = t_rep - t_scan
    m["repartition.skew"] = max(counts) / (sum(counts) / n_parts)
    m["extract.handoff_s"] = t_handoff - t_rep
    m["extract.udf_s"] = t_udf - t_handoff

    ext = extracted.persist()
    ext.count()
    prev, _ = timed(lambda: _hash_all(ext))
    df = ext
    for name in DEFAULT_CHAIN[1:]:
        df = STAGES[name](df, {})
        t, _ = timed(lambda: _hash_all(df))
        m[f"chain.{name}_s"] = t - prev
        prev = t

    keep = [c for c in DOC_COLUMNS if c in df.columns]
    keep += [c for c in df.columns if c.endswith("__facet") and c not in keep]
    docs = df.select(*keep).persist()
    docs.count()
    sink = str(wl.work / "trace-sink")
    m["sink.write_s"], _ = timed(lambda: write_table(
        docs, os.path.join(sink, "docs"), mode="overwrite", partition_by=["partition_key"],
        rebalance=True, max_records_per_file=1_000_000,
    ))
    files = [
        os.path.join(d, f)
        for d, _, fs in os.walk(os.path.join(sink, "docs")) for f in fs
        if f.endswith(".parquet")
    ]
    m["sink.files"] = len(files)
    m["sink.bytes_per_input_byte"] = sum(os.path.getsize(f) for f in files) / wl.inputs["html_bytes"]

    def side_tables():
        written = spark.read.parquet(os.path.join(sink, "docs"))
        metrics = build_metrics(written, "trace").persist()
        write_table(metrics, os.path.join(sink, "metrics"), mode="append")
        write_table(
            manifest_from_metrics(metrics, "trace", 256, 0, fingerprint),
            os.path.join(sink, "manifests"), mode="append",
        )
        metrics.unpersist()

    m["side_tables.s"], _ = timed(side_tables)
    docs.unpersist()
    ext.unpersist()
    m["_checks"] = [{"docs_mismatched": wl.check_job_output(sink), "ok": True}]

    batch = pq.read_table(wl.inputs["pages"]).slice(0, ARROW_MAX_RECORDS_PER_BATCH)
    large = [generate_page(i, wl.seed, 64, True)[0] for i in range(256)]
    m.update(kernel_layers(batch, large))
    return m


class CountTimer:
    """Times the ``DataFrame.count()`` calls a program makes, by the
    source line that made them; ``curate.py --stats full`` issues one
    per op plus one for the input."""

    def __init__(self):
        self.calls: list[tuple[str, int, float]] = []

    def __enter__(self) -> "CountTimer":
        from pyspark.sql.classic.dataframe import DataFrame

        original = DataFrame.count
        calls = self.calls

        def count(df):
            caller = sys._getframe(1)
            t0 = time.perf_counter()
            try:
                return original(df)
            finally:
                calls.append((caller.f_code.co_filename, caller.f_lineno,
                              time.perf_counter() - t0))

        self._patch = mock.patch.object(DataFrame, "count", count)
        self._patch.start()
        return self

    def __exit__(self, *exc) -> None:
        self._patch.stop()

    def stats_seconds(self) -> float:
        """Time in the per-op row counts of ``--stats full``."""
        return sum(
            dt for path, line, dt in self.calls
            if os.path.basename(path) == "curate.py"
            and re.search(r"\b(rows_in|rows_after)\b", linecache.getline(path, line))
        )


def call_timer(wl):
    """Instrumentation for the untraced call of a traced run."""
    return CountTimer() if wl.name == "curate_chain" else contextlib.nullcontext()


def curate_layers(spark, wl) -> tuple[dict, dict, dict]:
    from curate import apply_op

    m: dict = {}
    args = wl.curate_namespace()
    df = spark.read.parquet(wl.inputs["docs"])
    persisted: list = []
    rows = {}

    def step(frame, op):
        # ops such as neardedup run Spark jobs while building the plan,
        # so the op's time is the apply_op call plus the forcing count
        out = apply_op(frame, op, args, args.id_col, args.text_col, persisted).persist()
        persisted.append(out)
        return out, out.count()

    for op in CURATE_OPS:
        m[f"curate.{op}_s"], (df, rows[f"curate.{op}.rows_out"]) = timed(lambda: step(df, op))
    out = str(wl.work / "trace-curated")
    m["curate.write_s"], _ = timed(lambda: df.write.mode("overwrite").parquet(out))
    m["curate.verify_s"], _ = timed(lambda: spark.read.parquet(out).count())
    for frame in persisted:
        frame.unpersist()
    return m, rows, wl.check(out)


def run_trace(wl, spark, rest, before: set, wall: float, timer, measured: dict) -> dict:
    """Per-layer metrics of one workload, with the untraced call's
    ``wall`` and the ``measured`` set-up and memory figures as taken by
    the run."""
    is_job = wl.name == "job_small_pages"
    m = dict(measured)
    m.update(rest.summary(before, heaviest_ratio=is_job))
    extra: dict = {"untraced_wall_s": wall}
    t0 = time.perf_counter()
    if is_job:
        m.update(job_layers(spark, wl))
        checks = m.pop("_checks")
    else:
        layers, rows, check = curate_layers(spark, wl)
        m.update(layers, **{"curate.stats_s": timer.stats_seconds()})
        extra.update(rows)
        checks = [check]
    traced_wall = time.perf_counter() - t0
    selfs = SELF_TIMES[wl.name]
    m["job.unaccounted_s"] = wall - sum(m[k] for k in selfs)
    m["trace.overhead_s"] = traced_wall - wall
    extra["traced_wall_s"] = traced_wall
    extra["self_times"] = selfs

    units = {name: unit for name, unit, *_ in PER_LAYER}
    on = {name: workloads for name, *_, workloads in PER_LAYER}
    absent = {
        name: f"{wl.name} does not run this layer"
        for name in units if name not in m and wl.name not in on[name]
    }
    missing = [name for name in units if name not in m and name not in absent]
    if missing:
        raise RuntimeError(f"trace produced no value for {missing}")
    return {
        "metrics": {
            name: {"value": float(m.get(name, 0.0)), "unit": unit}
            for name, unit in units.items()
        },
        "absent": absent,
        "extra": extra,
        "_checks": checks,
    }
