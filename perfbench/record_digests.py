#!/usr/bin/env python3
"""Record the ``curate_chain`` output digest of each input draw.

    python3 perfbench/record_digests.py 0 49

Run from the repository root. Builds the input of each draw
``first``..``last`` as a benchmark run does, runs ``curate.py`` over it
in one session (``--stats none``, which writes the same output), and
rewrites ``perfbench/digests.json`` with their digests. A benchmark
run's seed picks draw ``seed % inputs.CURATE_DRAWS``, so record every
draw from 0 to ``CURATE_DRAWS - 1``; a run whose draw has no digest
fails its check. Record again only when a change to the program is
meant to change curate's output, and review which digests moved.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main() -> int:
    sys.path.insert(0, str(ROOT))
    import os

    import curate
    import pyarrow.parquet as pq

    from perfbench import checks, run

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("first", type=int)
    ap.add_argument("last", type=int)
    args = ap.parse_args()

    os.chdir(ROOT)
    cores = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench" / "work" / f"record-{os.getpid()}"
    run.prepare_env(work, cores)
    digests = {}
    spark, _ = run.setup(run.APP_NAMES["curate_chain"], cores, False)
    try:
        for seed in range(args.first, args.last + 1):
            wl = run.Workload("curate_chain", seed, work / str(seed), cores)
            wl.make_inputs()
            wl.prepare(spark)
            out = str(wl.work / "out")
            argv = wl.argv(out)
            argv[argv.index("--stats") + 1] = "none"
            run.call_main(curate, argv, spark)
            digests[str(seed)] = checks.curate_digest(pq.read_table(out))
            print(seed, digests[str(seed)], flush=True)
            shutil.rmtree(wl.work, ignore_errors=True)
    finally:
        run.shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    Path(checks.DIGESTS_FILE).write_text(json.dumps(digests, indent=2) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
