"""Summarise the runs kept in ``.perfbench/results/`` into a baseline.

    python3 perfbench/baseline.py > perfbench/baseline.json

End-to-end metrics: median and quartiles over the untraced runs of each
workload. Per-layer metrics: median over its traced runs.
"""

from __future__ import annotations

import json
import os
import platform
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.spec import END_TO_END, layer_map  # noqa: E402


def _summary(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
    return {"median": q2, "q1": q1, "q3": q3, "runs": len(values)}


def main() -> None:
    runs = [
        json.loads(p.read_text())
        for p in sorted((ROOT / ".perfbench" / "results").glob("*.json"))
    ]
    workloads: dict = {}
    for wl in sorted({r["workload"] for r in runs}):
        plain = [r for r in runs if r["workload"] == wl and not r["trace"]]
        traced = [r for r in runs if r["workload"] == wl and r["trace"]]
        workloads[wl] = {
            "seeds": sorted(r["seed"] for r in plain),
            "end_to_end": {
                name: {**_summary([r["end_to_end"][name]["value"] for r in plain]), "unit": unit}
                for name, unit, *_ in END_TO_END
            },
            "all_correct": all(r["result"]["correct"] for r in plain + traced),
            "per_layer_traced_seeds": sorted(r["seed"] for r in traced),
            "per_layer": {
                name: {
                    "median": statistics.median(r["layers"]["metrics"][name]["value"] for r in traced),
                    "unit": traced[0]["layers"]["metrics"][name]["unit"],
                }
                for name in (traced[0]["layers"]["metrics"] if traced else {})
            },
            "absent": traced[0]["layers"]["absent"] if traced else {},
        }
    print(json.dumps({
        "note": (
            "First baseline of this benchmark, at local[<cores>] on the machine below. "
            "BENCH_r01-r06 were recorded at 32 cores with bench.py; they are history, "
            "not a baseline for this benchmark."
        ),
        "machine": {
            "cores": len(os.sched_getaffinity(0)),
            "memory_gb": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 1),
            "python": platform.python_version(),
        },
        "workloads": workloads,
        "layer_map": layer_map(),
    }, indent=2))


if __name__ == "__main__":
    main()
