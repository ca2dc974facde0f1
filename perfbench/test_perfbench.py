"""Self-tests of the benchmark code (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks, inputs, spec
from perfbench.procrss import PeakRss
from solrizer_spark.corpus.generator import generate_page

ROOT = Path(__file__).resolve().parent.parent
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _corpus(tmp_path, name, seed, n=300):
    out = inputs.write_small_pages(str(tmp_path / name), seed, n_pages=n)
    return pq.read_table(out["pages"]), pq.read_table(out["golden"])


def test_small_pages_deterministic_per_seed(tmp_path):
    a_pages, a_gold = _corpus(tmp_path, "a", seed=7)
    b_pages, b_gold = _corpus(tmp_path, "b", seed=7)
    c_pages, _ = _corpus(tmp_path, "c", seed=8)
    assert a_pages.equals(b_pages) and a_gold.equals(b_gold)
    assert not a_pages.equals(c_pages)


def _base_docs(n=400):
    """Docs rows shaped like the job's sink, for the generator's pages."""
    rows = []
    for _, g in (generate_page(i, 11) for i in range(n)):
        url, text = g["url"], g["expected_text"]
        doc = {"_root_": url, "id": url, "identifier": [url, url]}
        if text:
            doc.update(extracted_text__txt=text, text=[text])
        rows.append({
            "url": url, "id": url, "route": "failed" if g["expect_parse_failed"] else "html",
            "extracted_text": text, "agg_text": [text] if text else [],
            "agg_identifier": [url, url], "blocks_kept": 1, "partition_key": 0,
            "doc": json.dumps(doc, separators=(",", ":"), sort_keys=True),
        })
    return rows


def test_curate_docs_deterministic_per_seed():
    base = _base_docs()
    a = inputs.curate_docs_rows(base, 3, n_docs=200)
    b = inputs.curate_docs_rows(base[::-1], 3, n_docs=200)
    c = inputs.curate_docs_rows(base, 4, n_docs=200)
    assert a == b
    assert a[0] != c[0]
    rows, pairs = a
    assert len(pairs) == int(200 * inputs.EXACT_SHARE)
    assert len(rows) == 200 + len(pairs) + int(200 * inputs.NEAR_SHARE)
    by_url = {r["url"]: r for r in rows}
    for orig, copy in pairs:
        o, c = by_url[orig], by_url[copy]
        assert c["extracted_text"] == o["extracted_text"] and c["agg_text"] == o["agg_text"]
        assert c["doc"] == o["doc"].replace(json.dumps(orig), json.dumps(copy))
        assert orig not in c["doc"] and c["agg_identifier"] == [copy, copy]
    near = [r for r in rows if "/near/" in r["url"]]
    assert near and all(r["extracted_text"].endswith("for the archive.") for r in near)
    assert all(json.loads(r["doc"])["text"] == r["agg_text"] for r in near)


def _docs_from_golden(golden: pa.Table) -> pa.Table:
    return pa.table({
        "url": golden.column("url"),
        "extracted_text": golden.column("expected_text"),
        "parse_failed": golden.column("expect_parse_failed"),
    })


def test_job_check_passes_exact_output(tmp_path):
    _, golden = _corpus(tmp_path, "g", seed=1)
    assert checks.job_mismatches(_docs_from_golden(golden), golden) == []


def test_job_check_catches_one_flipped_byte(tmp_path):
    _, golden = _corpus(tmp_path, "g", seed=1)
    rows = _docs_from_golden(golden).to_pylist()
    i = next(k for k, r in enumerate(rows) if r["extracted_text"])
    text = rows[i]["extracted_text"].encode("utf-8")
    flipped = bytes([text[0] ^ 0x01]) + text[1:]
    rows[i]["extracted_text"] = flipped.decode("utf-8")
    docs = pa.Table.from_pylist(rows)
    assert checks.job_mismatches(docs, golden) == [rows[i]["url"]]


def test_job_check_catches_dropped_and_repeated_url(tmp_path):
    _, golden = _corpus(tmp_path, "g", seed=1)
    docs = _docs_from_golden(golden)
    dropped = docs.slice(1)
    assert checks.job_mismatches(dropped, golden) == [docs.column("url")[0].as_py()]
    repeated = pa.concat_tables([docs, docs.slice(0, 1)])
    assert checks.job_mismatches(repeated, golden) == [docs.column("url")[0].as_py()]


def _curated():
    return pa.table({
        "url": ["a", "b", "c"],
        "chunk_index": [0, 0, 1],
        "chunk": ["x y", "z", "w"],
    })


def test_curate_checks():
    table = _curated()
    shuffled = table.take([2, 0, 1])
    assert checks.curate_digest(table) == checks.curate_digest(shuffled)
    flipped = table.set_column(2, "chunk", pa.array(["x y", "y", "w"]))
    assert checks.curate_digest(flipped) != checks.curate_digest(table)
    assert checks.surviving_pairs({"a", "b"}, [("a", "b"), ("c", "d")]) == [("a", "b")]


def test_curate_verdict_needs_the_recorded_digest(monkeypatch):
    table = _curated()
    recorded = {"5": checks.curate_digest(table)}
    monkeypatch.setattr(checks, "recorded_digest", lambda seed: recorded.get(str(seed)))
    assert checks.curate_verdict(table, [("a", "z")], 5)["ok"]
    assert checks.curate_verdict(table, [("a", "b")], 5)["docs_mismatched"] == 1
    assert not checks.curate_verdict(table.slice(1), [], 5)["ok"]
    unknown = checks.curate_verdict(table, [], 6)
    assert not unknown["ok"] and "no curate digest" in unknown["error"]


def test_unrecorded_draw_fails():
    recorded = json.loads(Path(checks.DIGESTS_FILE).read_text())
    draw = max(int(k) for k in recorded) + 1
    assert checks.recorded_digest(draw) is None
    assert not checks.curate_verdict(_curated(), [], draw)["ok"]


def test_every_seed_picks_a_recorded_draw():
    recorded = json.loads(Path(checks.DIGESTS_FILE).read_text())
    assert set(recorded) == {str(d) for d in range(inputs.CURATE_DRAWS)}
    for seed in (0, 49, 50, 2056809445, 2**63 + 7, -3):
        draw = inputs.curate_draw(seed)
        assert 0 <= draw < inputs.CURATE_DRAWS and checks.recorded_digest(draw)
    assert inputs.curate_draw(2056809445) == inputs.curate_draw(2056809445)


def test_metric_names_and_units():
    names = [m[0] for m in spec.END_TO_END] + [m[0] for m in spec.PER_LAYER]
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert len(names) == len(set(names))
    units = [m[1] for m in spec.END_TO_END] + [m[1] for m in spec.PER_LAYER]
    assert all(UNIT.match(u) for u in units)
    assert "setup_s" in [m[0] for m in spec.END_TO_END]
    for key in spec.SELF_TIMES.values():
        assert set(key) <= set(names)
    assert all(NAME.match(w) and len(why) <= 200 for w, why in spec.WORKLOADS.items())


def test_benchmark_json_matches_spec():
    on_disk = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert on_disk == spec.benchmark_json()


def test_peak_rss_sees_children():
    code = "import time; b = bytearray(80_000_000); b[::4096] = b'x' * len(b[::4096]); time.sleep(1.5)"
    with PeakRss(interval_s=0.05) as rss:
        subprocess.run([sys.executable, "-c", code], check=True, timeout=60)
    assert rss.peak_bytes > 80_000_000
