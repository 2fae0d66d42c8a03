"""Repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload ingest_merge --seed 1 --seconds 20 --trace 0

Run from the repository root. The run builds its inputs from
``--seed``, measures the workload, checks the program's outputs and
prints, as its last stdout line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the ``end_to_end`` metrics of
``BENCHMARK.json`` when ``--trace 0``, its ``per_layer`` metrics when
``--trace 1``. Times are host-corrected (``perfbench/hostclock.py``):
CPU time the host stole from the VM is taken out. The line before it is
a JSON object describing the run (host, versions, input sizes, sample
counts, load average, stolen CPU time, and the raw wall-time value of
each end-to-end metric).

Everything the run writes goes under ``.perfbench/`` in the
repository root; the private working directory is removed at exit. The
traced run also leaves its spans in ``.perfbench/spans-*.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
OUT = ROOT / ".perfbench"
STAGINGS = 3  # set-up repeats per run; setup_s takes their median


class Run:
    """State of one benchmark run, passed to the workload."""

    def __init__(self, args, work: Path, tracer):
        from perfbench.hostclock import HostClock

        self.seed = args.seed
        self.seconds = args.seconds
        self.size = args.size
        self.work = work
        self.tracer = tracer
        self.trace = tracer.enabled
        self.spark = None
        self.clock = HostClock()
        self.metrics: dict[str, float] = {}
        self.walls: dict[str, float] = {}  # end-to-end metrics as raw wall times
        self.attempted = 0
        self.failed = 0
        self.info: dict = {}

    def setup(self, stage) -> None:
        """Start the session once, then run the workload's ``stage()``
        STAGINGS times; ``setup_s`` = session start + median staging."""
        from go_http_data_pipeline_spark.session import get_spark

        t0 = self.clock.mark()
        with self.tracer.span("session.start"):
            self.spark = get_spark(
                "perfbench",
                extra_conf={
                    "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                    "spark.ui.showConsoleProgress": "false",
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work / 'tmp'}",
                },
            )
            self.spark.sparkContext.setLogLevel("ERROR")
        t1 = self.clock.mark()
        start, start_wall = self.clock.length(t0, t1), t1 - t0
        stagings, staging_walls = [], []
        for _ in range(STAGINGS):
            t0 = self.clock.mark()
            with self.tracer.span("staging"):
                stage()
            t1 = self.clock.mark()
            stagings.append(self.clock.length(t0, t1))
            staging_walls.append(t1 - t0)
        self.metrics["session.start_s"] = start
        self.metrics["setup_s"] = start + statistics.median(stagings)
        self.walls["setup_s"] = start_wall + statistics.median(staging_walls)


def _isolate(work: Path) -> None:
    """Private temp dirs for this run; workers import the package from
    the repository root. Must run before pyspark starts the JVM, which
    passes this environment on to its Python workers."""
    for sub in ("tmp", "local"):
        (work / sub).mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def _stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)


def _source_digest() -> str:
    h = hashlib.sha256()
    for p in sorted((ROOT / "go_http_data_pipeline_spark").rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this Python driver plus its JVM."""
    from pyspark import SparkContext

    pids = [os.getpid()]
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        pids.append(proc.pid)
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            kb += next(int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM:"))
    return kb / 1024


def main(argv=None) -> int:
    from perfbench import ingest, passes
    from perfbench.trace import Tracer

    workloads = {"ingest_merge": ingest.run, "batch_queries": passes.run}
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--size", choices=("full", "tiny"), default="full",
        help="tiny: a few thousand records and sf0.001, for the benchmark's own tests",
    )
    args = ap.parse_args(argv)

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    import go_http_data_pipeline_spark  # noqa: F401  (fail fast without the package)

    work = OUT / f"run-{args.workload}-{os.getpid()}"
    run = Run(args, work, Tracer(bool(args.trace)))
    load_before = os.getloadavg()
    try:
        _isolate(work)
        workloads[args.workload](run)
        run.clock.mark()
        run.metrics["peak_rss_mb"] = _peak_rss_mb()
        spark_version = run.spark.version
    finally:
        _stop_spark(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    if run.trace:
        run.tracer.write(str(OUT / f"spans-{args.workload}-{args.seed}.json"))

    metrics = {}
    for m in wanted:
        if m["name"] in run.metrics:
            value = run.metrics[m["name"]]
        elif args.trace:
            value = 0.0  # a layer this workload bypasses did no work
        else:
            raise SystemExit(f"workload {args.workload} did not measure {m['name']}")
        metrics[m["name"]] = {"value": float(value), "unit": m["unit"]}
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "size": args.size,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "spark_version": spark_version,
        "commit": _commit(),
        "source_sha256": _source_digest(),
        "loadavg_before": load_before,
        "loadavg_after": os.getloadavg(),
        "cpu_steal_s": run.clock.stolen(),
        "wall_s": run.walls,
        "peak_rss_mb": run.metrics["peak_rss_mb"],
        **run.info,
    }
    print(json.dumps(info))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    sys.exit(main())
