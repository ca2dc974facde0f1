"""Output checks: golden byte identity for the job, dedup and digest
checks for curate. Pure pyarrow, so they run without Spark."""

from __future__ import annotations

import hashlib
import json
import os
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

DIGESTS_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


def read_docs(docs_dir: str) -> pa.Table:
    """The job's docs sink (hive-partitioned parquet) as one table."""
    return pq.read_table(docs_dir, columns=["url", "extracted_text", "parse_failed"])


def job_mismatches(docs: pa.Table, golden: pa.Table) -> list[str]:
    """Urls whose docs rows disagree with the generator's golden table.

    A url fails when it is missing, appears more than once, is not in
    the golden table, has the wrong ``parse_failed`` flag, or (for
    pages that parse) has ``extracted_text`` that is not identical to
    ``expected_text``. Equal Python strings encode to equal UTF-8
    bytes, so string equality is the byte-identity check."""
    expected = {
        url: (text, failed)
        for url, text, failed in zip(
            golden.column("url").to_pylist(),
            golden.column("expected_text").to_pylist(),
            golden.column("expect_parse_failed").to_pylist(),
        )
    }
    seen: Counter = Counter()
    bad: set[str] = set()
    for url, text, failed in zip(
        docs.column("url").to_pylist(),
        docs.column("extracted_text").to_pylist(),
        docs.column("parse_failed").to_pylist(),
    ):
        seen[url] += 1
        want = expected.get(url)
        if want is None or failed != want[1] or (not failed and text != want[0]):
            bad.add(url)
    bad.update(url for url, n in seen.items() if n > 1)
    bad.update(expected.keys() - seen.keys())
    return sorted(bad)


def surviving_pairs(ids: set[str], pairs: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Injected exact-duplicate pairs of which both members survived."""
    return [p for p in pairs if p[0] in ids and p[1] in ids]


def curate_digest(table: pa.Table, id_col: str = "url") -> str:
    """Order-independent digest of the curated ``(id, chunk_index,
    chunk)`` rows."""
    rows = sorted(
        json.dumps(r, ensure_ascii=False)
        for r in zip(
            table.column(id_col).to_pylist(),
            table.column("chunk_index").to_pylist(),
            table.column("chunk").to_pylist(),
        )
    )
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def recorded_digest(seed: int) -> str | None:
    """The curate digest recorded for ``seed``, if any."""
    with open(DIGESTS_FILE, encoding="utf-8") as fh:
        return json.load(fh).get(str(seed))


def curate_verdict(table: pa.Table, exact_pairs: list[tuple[str, str]], seed: int) -> dict:
    """Check one curated output: every injected exact copy is gone
    (``docs_mismatched`` counts the pairs that survived) and the digest
    equals the one recorded for ``seed``. A seed with no recorded
    digest fails: without it nothing would catch wrong chunks, a kept
    near copy or lost docs."""
    ids = set(table.column("url").to_pylist())
    digest = curate_digest(table)
    recorded = recorded_digest(seed)
    return {
        "docs_mismatched": len(surviving_pairs(ids, exact_pairs)),
        "rows_out": table.num_rows,
        "docs_out": len(ids),
        "digest": digest,
        "digest_recorded": recorded,
        "ok": recorded == digest,
        **({} if recorded else {"error": f"no curate digest recorded for seed {seed}"}),
    }
