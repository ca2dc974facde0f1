"""What the benchmark measures: workloads, end-to-end metrics and the
per-layer metrics with the end-to-end metric each should move.

``BENCHMARK.json`` at the repository root is rendered from this module
(``python3 perfbench/spec.py > BENCHMARK.json``); a self-test keeps the
two in step.
"""

from __future__ import annotations

import json

WORKLOADS = {
    "job_small_pages": (
        "20k ~0.5 KB pages of all 10 payload classes through run_job: per-row "
        "costs (Arrow hand-off, UDF glue, field chain) and the 256-bucket sink write"
    ),
    "curate_chain": (
        "run_curate --stats full, linededup,quality,fluency,exactdedup,neardedup,chunk, over "
        "1.2k job-sink docs with exact and near copies: shuffle-heavy ops the job never runs"
    ),
}

#: op chain of the ``curate_chain`` workload
CURATE_OPS = [
    "linededup", "quality", "fluency", "exactdedup", "neardedup", "chunk",
]

#: (name, unit, better, bound). The bounds are the largest allowed: on a
#: shared 4-core host the spread (IQR) of one tree's wall over ten runs
#: reached 15% of the median, and its median moved up to 11% between
#: ten-run sets.
END_TO_END = [
    ("wall_s", "s", "lower", 0.25),
    ("docs_per_s", "docs/s", "higher", 0.25),
    ("input_mb_per_s", "MB/s", "higher", 0.25),
    ("setup_s", "s", "lower", 0.25),
]

_JOB = "job_small_pages"
_CUR = "curate_chain"
_ALL = [_JOB, _CUR]

#: (name, unit, better, how it is measured, end-to-end metric it moves,
#: workloads it moves on)
PER_LAYER = [
    ("setup.get_spark_s", "s", "lower", "time the get_spark call", "setup_s", _ALL),
    # whole-tree memory, kept ungated: its run-to-run spread (JVM heap
    # growth) is wider than the largest bound an end-to-end metric may have
    ("memory.peak_rss_mb", "MB", "lower", "peak summed PSS of the benchmark process, its JVM and Python workers during the untraced call, /proc sampled every 0.1 s", "none (ungated)", _ALL),
    ("setup.cscan_load_s", "s", "lower", "time cscan.load() on an empty compile cache", "setup_s", _ALL),
    ("pages.scan_s", "s", "lower", "read_pages forced by sum(length(html))", "wall_s, input_mb_per_s", [_JOB]),
    ("repartition.shuffle_s", "s", "lower", "+ salted_repartition, minus the scan rung", "wall_s, input_mb_per_s", [_JOB]),
    ("repartition.skew", "ratio", "lower", "max/mean rows per salted partition", "wall_s", [_JOB]),
    ("extract.handoff_s", "s", "lower", "+ no-op Arrow UDF over html,text, minus the repartition rung", "wall_s, docs_per_s", [_JOB]),
    ("extract.udf_s", "s", "lower", "+ extract_stage instead of the no-op, minus the hand-off rung", "wall_s, docs_per_s", [_JOB]),
    ("extract.body_us_per_doc", "us/doc", "lower", "in-process make_extract_fast_udf().func over one Arrow batch of pages", "docs_per_s", [_JOB]),
    ("extract.glue_us_per_doc", "us/doc", "lower", "UDF body minus extract_html over the same batch", "docs_per_s", [_JOB]),
    ("charset.decode_us_per_kb", "us/KB", "lower", "decode_html_bytes over the batch's html-route pages", "input_mb_per_s", [_JOB]),
    ("cscan.scan_us_per_kb", "us/KB", "lower", "run_cscan over the same pages", "input_mb_per_s", [_JOB]),
    ("charset.decode_us_per_kb_large", "us/KB", "lower", "decode_html_bytes over 256 size_factor=64 pages", "input_mb_per_s", [_JOB]),
    ("cscan.scan_us_per_kb_large", "us/KB", "lower", "run_cscan over the same large pages", "input_mb_per_s", [_JOB]),
    ("classify.us_per_doc", "us/doc", "lower", "classify_blocks over the scanned batch", "docs_per_s", [_JOB]),
    ("cscan.bail_ratio", "ratio", "lower", "run_cscan -> None over html-route pages", "docs_per_s", [_JOB]),
    ("chain.content_model_s", "s", "lower", "cumulative STAGES prefix over persisted extract_stage output", "wall_s", [_JOB]),
    ("chain.discoverability_s", "s", "lower", "next prefix rung", "wall_s", [_JOB]),
    ("chain.dates_s", "s", "lower", "next prefix rung", "wall_s", [_JOB]),
    ("chain.facets_s", "s", "lower", "next prefix rung", "wall_s", [_JOB]),
    ("chain.aggregate_fields_s", "s", "lower", "next prefix rung", "wall_s", [_JOB]),
    ("chain.doc_s", "s", "lower", "last rung: doc_json stage", "wall_s", [_JOB]),
    ("sink.write_s", "s", "lower", "write_table(partition_by=partition_key, rebalance) over persisted docs", "wall_s, peak_rss_mb", [_JOB]),
    ("sink.files", "count", "lower", "parquet files the sink wrote", "wall_s", [_JOB]),
    ("sink.bytes_per_input_byte", "ratio", "lower", "sink bytes on disk / input html bytes", "wall_s", [_JOB]),
    ("side_tables.s", "s", "lower", "build_metrics + manifest_from_metrics + writes over the written sink", "wall_s", [_JOB]),
] + [
    (f"curate.{op}_s", "s", "lower", "apply_op forced by count over a persisted predecessor", "wall_s", [_CUR])
    for op in CURATE_OPS
] + [
    ("curate.write_s", "s", "lower", "parquet write of the ladder's last frame", "wall_s", [_CUR]),
    ("curate.verify_s", "s", "lower", "read back and count the written output", "wall_s", [_CUR]),
    ("curate.stats_s", "s", "lower", "the --stats full row counts of the untraced call (wall at full minus none), timed by wrapping DataFrame.count", "wall_s", [_CUR]),
    ("spark.jobs", "count", "lower", "Spark REST: jobs of the untraced call", "wall_s", _ALL),
    ("spark.stages", "count", "lower", "Spark REST: completed stages of those jobs", "wall_s", _ALL),
    ("spark.tasks", "count", "lower", "Spark REST: completed tasks of those stages", "wall_s", _ALL),
    ("spark.shuffle_write_mb", "MB", "lower", "Spark REST: shuffle write bytes of those stages", "wall_s", _ALL),
    ("spark.spill_mb", "MB", "lower", "Spark REST: disk spill of those stages", "wall_s, peak_rss_mb", _ALL),
    ("extract.task_max_over_median", "ratio", "lower", "Spark REST: task run time max/median of the extraction stage", "wall_s", [_JOB]),
    ("job.unaccounted_s", "s", "lower", "untraced wall_s minus the sum of the layers' self times", "none (checks the trace)", _ALL),
    ("trace.overhead_s", "s", "lower", "wall of the traced pass (ladders, kernel timings) minus untraced wall_s", "none (checks the trace)", _ALL),
]

#: per-layer self times that add up, with ``job.unaccounted_s``, to
#: the untraced ``wall_s`` of each workload
SELF_TIMES = {
    _JOB: [
        "pages.scan_s", "repartition.shuffle_s", "extract.handoff_s", "extract.udf_s",
        "chain.content_model_s", "chain.discoverability_s", "chain.dates_s",
        "chain.facets_s", "chain.aggregate_fields_s", "chain.doc_s",
        "sink.write_s", "side_tables.s",
    ],
    _CUR: [f"curate.{op}_s" for op in CURATE_OPS]
    + ["curate.write_s", "curate.verify_s", "curate.stats_s"],
}


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 1,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, u, b, bound in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b, *_ in PER_LAYER],
    }


def layer_map() -> list[dict]:
    """The layer -> end-to-end map, as recorded with the baseline."""
    return [
        {"name": n, "unit": u, "how": how, "moves": moves, "on": on}
        for n, u, _, how, moves, on in PER_LAYER
    ]


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))
