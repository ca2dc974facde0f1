"""Single-process HTML-kernel micro-bench: µs/doc + MB/s per backend.

Usage: python tools/kernel_bench.py [n_per_cell] [size_factor...]

Pure-Python timing of ``extract_html`` over the deterministic corpus
generator — isolates kernel CPU from Spark overheads so backend swaps
(c vs fused vs stdlib) can be compared apples-to-apples. Best-of-4
per backend (this VM's CPU allocation is bursty; see
BENCH/BASELINE.md).
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")

from solrizer_spark.corpus.generator import generate_page
from solrizer_spark.extraction.html_text import _BACKENDS, extract_html


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200
    factors = [int(a) for a in sys.argv[2:]] or [1, 16]
    htmls = [
        h
        for seed in (42, 7, 9)
        for f in factors
        for i in range(n)
        if (h := generate_page(i, seed=seed, size_factor=f)[0]["html"])
    ]
    total_bytes = sum(len(h) for h in htmls)
    out = {"n_docs": len(htmls), "avg_bytes": total_bytes // len(htmls), "backends": {}}
    for name in _BACKENDS:
        if name == "c":
            from solrizer_spark.extraction import cscan

            if not cscan.load():
                out["backends"][name] = {"skipped": "no C toolchain"}
                continue
        for h in htmls[:50]:
            extract_html(h, backend=name)
        best = float("inf")
        for _ in range(4):
            t0 = time.perf_counter()
            for h in htmls:
                extract_html(h, backend=name)
            best = min(best, time.perf_counter() - t0)
        out["backends"][name] = {
            "us_per_doc": round(best / len(htmls) * 1e6, 1),
            "mb_per_sec": round(total_bytes / best / 1e6, 1),
        }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
