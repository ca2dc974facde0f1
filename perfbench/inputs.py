"""Seeded workload inputs.

Every input is a pure function of ``(workload, seed)`` built from
``solrizer_spark.corpus.generator``; the program under test sees only
parquet files. The ``curate_chain`` input is drawn from the job's own
output for a fixed base corpus, which ``perfbench/run.py`` builds with
``job.py`` once per program version and keeps under ``.perfbench/``.
"""

from __future__ import annotations

import json
import os
import random
import zlib
from urllib.parse import urlsplit

import pyarrow as pa
import pyarrow.parquet as pq

from solrizer_spark.corpus.generator import write_corpus

#: pages in the ``job_small_pages`` corpus (~0.5 KB each)
SMALL_PAGES = 20_000
#: generator seed and size of the base corpus whose job output every
#: ``curate_chain`` input is drawn from
BASE_SEED = 0
BASE_PAGES = 3_000
#: docs drawn from the base per seed, before injected copies
CURATE_DOCS = 1_000
#: ``job.py --buckets`` for the base corpus: hive partitions of the docs
#: table. The job's default of 256 would leave ~5 docs per file here,
#: where a sink of a real crawl holds thousands
N_BUCKETS = 16
#: share of drawn docs copied byte for byte under a fresh url
EXACT_SHARE = 0.08
#: share of drawn docs copied with one extra line of text
NEAR_SHARE = 0.08
#: distinct ``curate_chain`` inputs. A seed picks one of them, so that
#: every seed's output has a digest recorded in ``perfbench/digests.json``
#: to be checked against
CURATE_DRAWS = 50


def curate_draw(seed: int) -> int:
    """The ``curate_chain`` input (0 .. CURATE_DRAWS-1) that ``seed`` picks."""
    return seed % CURATE_DRAWS


def write_small_pages(path: str, seed: int, n_pages: int = SMALL_PAGES) -> dict:
    """``job_small_pages``: ~0.5 KB pages over all ten payload classes."""
    dirs = write_corpus(path, n_pages=n_pages, seed=seed, size_factor=1)
    html = pq.read_table(dirs["pages"], columns=["html"]).column("html")
    return {**dirs, "rows": len(html), "html_bytes": sum(len(v) for v in html.to_pylist() if v)}


def write_base_pages(path: str) -> dict:
    """The base corpus ``job.py`` turns into the docs table that
    ``curate_chain`` inputs are drawn from."""
    return write_corpus(path, n_pages=BASE_PAGES, seed=BASE_SEED, size_factor=1)


def _moved(row: dict, url: str) -> dict:
    """``row`` as the job writes it for the same page under ``url``."""
    old = row["url"]
    return {
        **row,
        "url": url,
        "id": url,
        "agg_identifier": [url if v == old else v for v in row["agg_identifier"]],
        "doc": row["doc"].replace(json.dumps(old), json.dumps(url)),
        "partition_key": zlib.crc32(url.encode()) % N_BUCKETS,
    }


def _extended(row: dict, line: str) -> dict:
    """``row`` with one more line of extracted text, in every column
    that carries the text."""
    old = row["extracted_text"]
    new = f"{old}\n{line}"
    doc = json.loads(row["doc"])
    for key, value in doc.items():
        if value == old:
            doc[key] = new
        elif isinstance(value, list):
            doc[key] = [new if v == old else v for v in value]
    return {
        **row,
        "extracted_text": new,
        "agg_text": [new if v == old else v for v in row["agg_text"]],
        "doc": json.dumps(doc, ensure_ascii=False, separators=(",", ":"), sort_keys=True),
        "blocks_kept": row["blocks_kept"] + 1,
    }


def curate_docs_rows(
    base: list[dict], seed: int, n_docs: int = CURATE_DOCS
) -> tuple[list[dict], list[tuple[str, str]]]:
    """A seeded draw of ``n_docs`` rows of the job's docs table, plus
    exact and near copies of disjoint html docs under fresh urls on
    the same host.

    An exact copy is the row the job writes for the same page under
    another url; a near copy also carries one extra line of text,
    unique per copy. Returns ``(rows, exact_pairs)`` where each pair is
    ``(original url, copy url)``."""
    base = sorted(base, key=lambda r: r["url"])
    rng = random.Random(f"perfbench-curate:{seed}")
    rows = [base[i] for i in sorted(rng.sample(range(len(base)), n_docs))]
    texts = [i for i, r in enumerate(rows) if r["route"] == "html" and r["extracted_text"]]
    n_exact = int(n_docs * EXACT_SHARE)
    picked = rng.sample(texts, n_exact + int(n_docs * NEAR_SHARE))
    pairs = []
    for k, i in enumerate(sorted(picked[:n_exact])):
        host = urlsplit(rows[i]["url"]).netloc
        rows.append(_moved(rows[i], f"https://{host}/copy/{k}"))
        pairs.append((rows[i]["url"], rows[-1]["url"]))
    for k, i in enumerate(sorted(picked[n_exact:])):
        host = urlsplit(rows[i]["url"]).netloc
        moved = _moved(rows[i], f"https://{host}/near/{k}")
        rows.append(_extended(moved, f"Mirror note {k}: this copy was made for the archive."))
    return rows, pairs


def write_curate_docs(path: str, seed: int, base: pa.Table) -> dict:
    """``curate_chain``: a docs table in the job sink's layout, every
    column of it, drawn from ``base`` (the job's output for the base
    corpus)."""
    schema = base.schema.set(
        base.schema.get_field_index("partition_key"), pa.field("partition_key", pa.int32())
    )
    base = base.cast(schema)
    rows, pairs = curate_docs_rows(base.to_pylist(), seed)
    table = pa.Table.from_pylist(rows, schema=schema)
    docs = os.path.join(path, "docs")
    pq.write_to_dataset(
        table, docs, partition_cols=["partition_key"], basename_template="part-{i}.parquet"
    )
    texts = table.column("extracted_text").to_pylist()
    return {
        "docs": docs,
        "rows": table.num_rows,
        "text_bytes": sum(len(t.encode("utf-8")) for t in texts if t),
        "exact_pairs": pairs,
    }
