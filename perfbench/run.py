#!/usr/bin/env python3
"""End-to-end benchmark of ``job.py`` and ``curate.py``.

    python3 perfbench/run.py --workload job_small_pages --seed 1 \
        --seconds 1 --trace 0

Run from the repository root. One run:

1. generates the workload's inputs from ``--seed`` (untimed);
2. sets up the way ``job.py`` / ``curate.py`` do: ``get_spark`` at
   ``local[<cores>]`` (session start and Python worker warm-up) plus
   ``cscan.load()`` on an empty kernel compile cache -> ``setup_s``;
3. calls the program's ``main()`` with the command line a user would
   type, in this process, until ``--seconds`` of timed calls have
   passed (at least one call; on this tree one call always exceeds a
   second, so ``--seconds 1`` makes every run one cold call, like one
   ``spark-submit``) -> ``wall_s``, ``docs_per_s``, ``input_mb_per_s``,
   and the ungated ``peak_rss_mb``;
4. checks every call's output.

The ``curate_chain`` input is drawn, untimed, between steps 2 and 3:
the seed picks one of ``inputs.CURATE_DRAWS`` seeded draws of docs,
with exact and near copies injected, from the docs table ``job.py``
wrote for a fixed base corpus. That table is built with ``job.py`` in
the run's session the first time a version of the program runs,
checked against the generator's golden text, and kept in
``.perfbench/cache/``.

With ``--trace 1`` the same untraced call is followed by the per-layer
trace (``perfbench/trace.py``) and the run reports per-layer metrics.

Every file the run writes stays under ``.perfbench/`` in the checkout;
the full result of each run is kept in ``.perfbench/results/``. The
last line of standard output is the JSON result.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path
from unittest import mock

ROOT = Path(__file__).resolve().parent.parent
PROGRAM = ("job.py", "curate.py", "solrizer_spark")
APP_NAMES = {"job_small_pages": "solrizer-spark-job", "curate_chain": "solrizer-curate"}


class HeldSession:
    """The benchmark's session, handed to ``main()`` in place of a new
    one; ``stop()`` is left to the benchmark."""

    def __init__(self, spark):
        self._spark = spark

    def stop(self) -> None:
        pass

    def __getattr__(self, name):
        return getattr(self._spark, name)


def call_main(module, argv: list[str], spark) -> dict:
    """Run ``module.main()`` with ``argv``; return its JSON stats line."""
    out = io.StringIO()
    with (
        mock.patch.object(module, "get_spark", lambda **_: HeldSession(spark)),
        mock.patch.object(sys, "argv", argv),
        contextlib.redirect_stdout(out),
    ):
        module.main()
    return json.loads(out.getvalue().strip().splitlines()[-1])


def prepare_env(work: Path, cores: int) -> None:
    """Keep Spark, the JVM, Python workers and the kernel cache inside
    ``work``; make the checkout importable by the workers."""
    for sub in ("spark-local", "tmp", "cscan"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ.update(
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(work / "tmp"),
        SOLRIZER_CSCAN_DIR=str(work / "cscan"),
        SPARK_GRAFT_CPUS=str(cores),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    )
    tempfile.tempdir = None


def setup(app_name: str, cores: int, traced: bool):
    """Session start plus kernel load, timed separately."""
    from solrizer_spark.extraction import cscan
    from solrizer_spark.session import get_spark

    conf = {"spark.ui.enabled": "true"} if traced else None
    t0 = time.perf_counter()
    spark = get_spark(app_name=app_name, cpus=cores, extra_conf=conf)
    t1 = time.perf_counter()
    cscan.load()
    t2 = time.perf_counter()
    return spark, {"setup.get_spark_s": t1 - t0, "setup.cscan_load_s": t2 - t1}


def shutdown(spark) -> None:
    """Stop the session, end the JVM and wait for every child process."""
    from pyspark import SparkContext

    from perfbench.procrss import tree

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(tree(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in tree(os.getpid()):
        if pid != os.getpid():
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, 9)
            with contextlib.suppress(ChildProcessError):
                os.waitpid(pid, 0)


def program_key() -> str:
    """Digest of the program's sources and the base corpus's size."""
    import hashlib

    from perfbench import inputs

    h = hashlib.sha256(f"{inputs.BASE_SEED}:{inputs.BASE_PAGES}:{inputs.N_BUCKETS}".encode())
    for path in [ROOT / "job.py", *sorted((ROOT / "solrizer_spark").rglob("*.py"))]:
        h.update(str(path.relative_to(ROOT)).encode())
        h.update(path.read_bytes())
    return h.hexdigest()[:16]


def base_docs(spark, work: Path, cores: int) -> str:
    """The job's docs table for the base corpus; built with ``job.py``
    and checked against the generator's golden table on first use."""
    import job
    import pyarrow.parquet as pq

    from perfbench import inputs
    from perfbench.checks import job_mismatches, read_docs

    cached = ROOT / ".perfbench" / "cache" / f"curate-base-{program_key()}"
    if not cached.exists():
        corpus = inputs.write_base_pages(str(work / "base-corpus"))
        out = work / "base-out"
        call_main(job, ["job.py", "--input", corpus["pages"], "--output", str(out),
                        "--buckets", str(inputs.N_BUCKETS), "--cpus", str(cores)], spark)
        bad = job_mismatches(read_docs(str(out / "docs")), pq.read_table(corpus["golden"]))
        if bad:
            raise RuntimeError(f"job output for the base corpus is wrong for {bad[:3]}")
        cached.parent.mkdir(parents=True, exist_ok=True)
        os.replace(out / "docs", cached)
    return str(cached)


class Workload:
    """Inputs, the timed call and its checks for one workload."""

    def __init__(self, name: str, seed: int, work: Path, cores: int):
        self.name, self.seed, self.work, self.cores = name, seed, work, cores
        self.calls = 0

    def make_inputs(self) -> dict:
        """The workload's seeded inputs, as far as they need no Spark."""
        from perfbench import inputs

        if self.name == "job_small_pages":
            self.inputs = inputs.write_small_pages(str(self.work / "corpus"), self.seed)
        else:
            self.inputs = {}
        return self.inputs

    def prepare(self, spark) -> None:
        """Untimed: for ``curate_chain``, draw the seed's docs table from
        the job's output for the base corpus, running ``job.py`` over
        that corpus first if this program version has no cached output."""
        if self.name != "curate_chain":
            return
        import pyarrow.parquet as pq

        from perfbench import inputs

        base = base_docs(spark, self.work, self.cores)
        self.draw = inputs.curate_draw(self.seed)
        self.inputs.update(
            inputs.write_curate_docs(str(self.work / "corpus"), self.draw, pq.read_table(base)),
            draw=self.draw,
        )

    def check_job_output(self, out: str) -> int:
        import pyarrow.parquet as pq

        from perfbench.checks import job_mismatches, read_docs

        golden = pq.read_table(self.inputs["golden"])
        return len(job_mismatches(read_docs(os.path.join(out, "docs")), golden))

    def size(self) -> dict:
        """Input docs and payload bytes the throughput metrics divide by."""
        if self.name == "job_small_pages":
            return {"docs_in": self.inputs["rows"], "payload_bytes": self.inputs["html_bytes"]}
        return {"docs_in": self.inputs["rows"], "payload_bytes": self.inputs["text_bytes"]}

    def argv(self, out: str) -> list[str]:
        if self.name == "job_small_pages":
            return ["job.py", "--input", self.inputs["pages"], "--output", out,
                    "--cpus", str(self.cores)]
        from perfbench.spec import CURATE_OPS

        return ["curate.py", "--input", self.inputs["docs"], "--output", out,
                "--ops", ",".join(CURATE_OPS), "--stats", "full", "--cpus", str(self.cores)]

    def curate_namespace(self):
        """The argument namespace ``curate.main()`` builds for the call."""
        import curate

        seen = {}

        def capture(spark, args):
            seen["args"] = args
            return {}

        with mock.patch.object(curate, "run_curate", capture):
            call_main(curate, self.argv(str(self.work / "unused")), None)
        return seen["args"]

    def call(self, spark) -> tuple[float, dict, str]:
        """One timed call of the program; returns (wall, stats, output dir)."""
        import curate
        import job

        self.calls += 1
        out = str(self.work / f"out-{self.calls}")
        module = job if self.name == "job_small_pages" else curate
        t0 = time.perf_counter()
        result = call_main(module, self.argv(out), spark)
        return time.perf_counter() - t0, result, out

    def check(self, out: str) -> dict:
        """``docs_mismatched`` plus, for curate, the digest verdict."""
        if self.name == "job_small_pages":
            return {"docs_mismatched": self.check_job_output(out), "ok": True}
        import pyarrow.parquet as pq

        from perfbench.checks import curate_verdict

        return curate_verdict(pq.read_table(out), self.inputs["exact_pairs"], self.draw)


def percentile_label(n: int) -> str:
    """Highest percentile with at least ten samples beyond it, else max."""
    for p in (99, 90):
        if n * (100 - p) / 100 >= 10:
            return f"p{p}"
    return "max"


def run(args) -> dict:
    from perfbench.procrss import PeakRss
    from perfbench.spec import END_TO_END

    cores = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench" / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work, cores)
    wl = Workload(args.workload, args.seed, work, cores)
    report: dict = {"workload": args.workload, "seed": args.seed, "cores": cores,
                    "trace": args.trace, "inputs": {}}
    try:
        inp = wl.make_inputs()
        with PeakRss() as rss:
            spark, setup_times = setup(APP_NAMES[args.workload], cores, args.trace)
            try:
                t0 = time.perf_counter()
                wl.prepare(spark)
                report["prepare_s"] = time.perf_counter() - t0
                report["inputs"] = {k: v for k, v in inp.items() if k != "exact_pairs"}
                report["inputs"].update(wl.size())
                rss.reset()
                walls, checks = [], []
                t_start = time.perf_counter()
                if args.trace:
                    from perfbench import trace

                    rest = trace.SparkRest(spark)
                    before = rest.job_ids()
                    with trace.call_timer(wl) as timer:
                        wall, stats, out = wl.call(spark)
                    walls.append(wall)
                    checks.append(wl.check(out))
                while not walls or time.perf_counter() - t_start < args.seconds:
                    wall, stats, out = wl.call(spark)
                    walls.append(wall)
                    checks.append(wl.check(out))
                peak = rss.peak_bytes
                report["program_stats"] = stats
                if args.trace:
                    measured = {**setup_times, "memory.peak_rss_mb": peak / 1e6}
                    report["layers"] = trace.run_trace(
                        wl, spark, rest, before, walls[0], timer, measured
                    )
                    checks += report["layers"].pop("_checks")
            finally:
                shutdown(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wall = statistics.median(walls)
    docs_in = report["inputs"]["docs_in"]
    mismatched = sum(c["docs_mismatched"] for c in checks)
    failed = sum(1 for c in checks if c["docs_mismatched"] or not c["ok"])
    report["checks"] = checks
    report["wall"] = {"median_s": wall, percentile_label(len(walls)) + "_s": max(walls),
                      "count": len(walls), "samples_s": walls}
    end_to_end = {
        "wall_s": (wall, "s"),
        "docs_per_s": (docs_in / wall, "docs/s"),
        "input_mb_per_s": (report["inputs"]["payload_bytes"] / 1e6 / wall, "MB/s"),
        "peak_rss_mb": (peak / 1e6, "MB"),
        "setup_s": (sum(setup_times.values()), "s"),
        "docs_mismatched": (mismatched, "count"),
        "runs_failed": (failed, f"count/{len(checks)}"),
    }
    report["end_to_end"] = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()}
    gated = [name for name, *_ in END_TO_END]
    report["result"] = {
        "correct": failed == 0,
        "attempted": len(checks),
        "failed": failed,
        "metrics": report["layers"]["metrics"] if args.trace else {
            k: report["end_to_end"][k] for k in gated
        },
    }
    return report


def main() -> int:
    sys.path.insert(0, str(ROOT))
    from perfbench.spec import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=1.0,
                    help="minimum timed span; calls repeat until it is reached")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    missing = [p for p in PROGRAM if not (ROOT / p).exists()]
    if missing:
        print(f"perfbench: program files missing from {ROOT}: {missing}", file=sys.stderr)
        return 2
    os.chdir(ROOT)
    report = run(args)
    results = ROOT / ".perfbench" / "results"
    results.mkdir(parents=True, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    (results / name).write_text(json.dumps(report, indent=2, default=str))
    for k, m in report["end_to_end"].items():
        print(f"{k:>16} {m['value']:>14.4f} {m['unit']}")
    w = report["wall"]
    print(f"{'wall samples':>16} {w['count']:>14d}")
    if args.trace:
        for k, m in sorted(report["layers"]["metrics"].items()):
            print(f"{k:>32} {m['value']:>14.4f} {m['unit']}")
        for k, why in sorted(report["layers"]["absent"].items()):
            print(f"{k:>32} absent: {why}")
    print(json.dumps(report["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
