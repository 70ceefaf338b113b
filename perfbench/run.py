"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload dag_city --seed 1 --seconds 10 --trace 0

Run it from the repository root.  Everything it writes goes under
``.perfbench_work/`` (removed at exit) and, with ``--trace 1``, the span
log under ``.perfbench_out/``.  See perfbench/README.md.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.stats import exact, median  # noqa: E402

# Spark parallelism: local[N] with N the host's cores, at most 4
CORES = min(4, os.cpu_count() or 1)
WORKLOADS = ["dag_city", "catalog_mix"]


def log(msg: str) -> None:
    """Progress on standard error, stamped with seconds since start."""
    print(f"[perfbench {time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def spark_session(work: Path):
    """A local session whose scratch space is under ``work``."""
    import tempfile

    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    tempfile.tempdir = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # every JVM (the launcher and the Spark driver): temp files under ``work``,
    # and no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    from service_alerts_connector_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # keep every stage of a run readable in the status store
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit (it exits when its
    standard input closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def timed_ops(w, args, tracer) -> tuple[list, list]:
    """Run ops for ``--seconds`` (at least one).  A traced run alternates
    untraced and traced ops, so the difference of their medians is the
    tracing overhead; end-to-end metrics come from untraced ops only."""
    plain, traced = [], []
    start = time.perf_counter()
    while (
        not plain
        or (args.trace and not traced)
        or time.perf_counter() - start < args.seconds
    ):
        tracer.detail = bool(args.trace) and len(plain) > len(traced)
        (traced if tracer.detail else plain).append(w.op())
        log(f"op {len(plain) + len(traced)} done" + (" (traced)" if tracer.detail else ""))
    tracer.detail = False
    return plain, traced


def run_dag(spark, work, args, tracer) -> dict:
    from perfbench.dag import DagWorkload

    w = DagWorkload(spark, work, args.seed, tracer)
    w.setup(traced=bool(args.trace), log=log)
    setup_s = time.perf_counter() - T0
    log("set-up done")
    drains, traced = timed_ops(w, args, tracer)
    ops, failed, msgs = w.check(drains + traced)
    batches = w.batches(drains)
    out = {
        "attempted": ops,
        "failed": failed,
        "messages": msgs,
        "setup_s": setup_s,
        "batch_p50_s": median([b.end - b.start for b in batches]),
        "batch_jobs": exact([b.jobs for b in batches], "jobs per micro-batch"),
        "pass_p50_s": median([d.s for d in drains]),
        "pass_jobs": exact([d.jobs for d in drains], "jobs per drain"),
        "pass_build_jobs": exact(
            [w.build_jobs(d) for d in drains], "build jobs per drain"
        ),
    }
    if args.trace:
        out["layers"] = w.layer_metrics(traced)
        out["layers"]["trace.overhead_s"] = (
            median([b.end - b.start for b in w.batches(traced)])
            - out["batch_p50_s"]
        )
    return out


def run_catalog(spark, work, args, tracer) -> dict:
    from perfbench.catalog_mix import CatalogWorkload

    w = CatalogWorkload(spark, work, args.seed, tracer)
    wrong = w.setup(log=log)
    setup_s = time.perf_counter() - T0
    log("set-up done")
    passes, traced = timed_ops(w, args, tracer)
    failed, msgs = w.check(passes + traced)
    if wrong:
        failed = len(passes) + len(traced)
        msgs = [f"oracle mismatch: {wrong}"] + msgs
    scans = [[q for q in p.queries if q.group == "scan"] for p in passes]
    out = {
        "attempted": len(passes) + len(traced),
        "failed": failed,
        "messages": msgs,
        "setup_s": setup_s,
        "batch_p50_s": median([sum(q.s for q in b) for b in scans]),
        "batch_jobs": exact([sum(q.jobs for q in b) for b in scans], "jobs per batch"),
        "pass_p50_s": median([p.s for p in passes]),
        "pass_jobs": exact([p.jobs for p in passes], "jobs per pass"),
        "pass_build_jobs": exact([p.build_jobs for p in passes], "build jobs per pass"),
    }
    if args.trace:
        out["layers"] = w.layer_metrics(traced)
        out["layers"]["trace.overhead_s"] = (
            median([p.s for p in traced]) - out["pass_p50_s"]
        )
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())

    # fails here, before any output, when the program is not beside us
    import service_alerts_connector_spark  # noqa: F401
    from perfbench.trace import Counters, Tracer

    work = Path.cwd() / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    spark = None
    try:
        spark = spark_session(work)
        log("spark session up")
        tracer = Tracer(Counters(spark))
        run = run_catalog if args.workload == "catalog_mix" else run_dag
        res = run(spark, work, args, tracer)
        if args.trace:
            out = Path.cwd() / ".perfbench_out"
            out.mkdir(exist_ok=True)
            tracer.dump(out / f"spans-{args.workload}-{args.seed}.jsonl")
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    for m in res["messages"]:
        print(m, file=sys.stderr)
    if args.trace:
        metrics = {
            m["name"]: {"value": res["layers"].get(m["name"], 0), "unit": m["unit"]}
            for m in bench["per_layer"]
        }
        metrics["error_rate"]["value"] = res["failed"] / res["attempted"]
    else:
        metrics = {
            m["name"]: {"value": res[m["name"]], "unit": m["unit"]}
            for m in bench["end_to_end"]
        }
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
