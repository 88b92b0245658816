"""Repo benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload heavy_checkpointed --seed 1 --seconds 3 --trace 0

Run from the repository root. With ``--trace 0`` the run reports the
end-to-end metrics; with ``--trace 1`` a traced run reports the per-layer
metrics (see perfbench/README.md). The last stdout line is the result
object; the line before it is the full record, stamped with the host.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
WORK = os.path.join(HERE, ".work")
END_TO_END = {"setup_s": "s", "docs_per_s": "1/s", "ok_ratio": "ratio", "peak_rss_mb": "MB"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def spark_conf(work: str, event_log: bool) -> dict:
    import host

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": host.driver_memory(),
        "spark.local.dir": os.path.join(work, "spark-local"),
        # no hsperfdata file under the system temp dir: a run writes only
        # inside the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": str(event_log).lower(),
    }
    if event_log:
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
        conf["spark.eventLog.compress"] = "false"
    return conf


def set_up(work: str, event_log: bool = False):
    """Session creation plus one warm-up job: every Python worker imports
    pandas and the program and decodes a few fixed docs, which loads the
    font and CMap data the kernel reads lazily. Returns (spark, seconds)."""
    import host
    from docling_parse_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{host.nproc()}]",
                      extra_conf=spark_conf(work, event_log))
    spark.sparkContext.setLogLevel("ERROR")

    def warm(batches):
        import pandas  # noqa: F401  (mapInPandas stages import it)

        from docling_parse_spark import corpus, document

        for i in range(4):
            doc = corpus.generate_doc(i, seed=0, heavy_frac=0.0)
            document.decode_document(doc["doc_id"], doc["spans"])
        yield from batches

    spark.range(64, numPartitions=host.nproc()).mapInArrow(warm, "id long").count()
    return spark, time.perf_counter() - t0


def tear_down(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc.stdin.close()
        proc.wait(timeout=60)


def after_pass(spark, leaks: list, problems: list) -> None:
    """Count state the pass left behind, clear it, and fail the run's check
    if clearing did not remove it."""
    import host

    leaked = host.leaked_persists(spark)
    leaks.append(leaked)
    if leaked:
        host.clear_persists(spark)
        left = host.leaked_persists(spark)
        if left:
            problems.append(f"{left} persisted RDDs / cached relations remain after clearing")


def measure(spark, wl, seconds: float, leaks: list, problems: list) -> list:
    """Passes until ``seconds`` have elapsed, at least one. A run is one job
    on a fresh session, as a user's batch job is, so the first pass also
    pays Spark's code generation and JIT warm-up for its plan. One pass of
    each workload outlasts the run's ``seconds`` on a 4-core host, keeping a
    run near 35 s, of which the JVM start takes about 15 s. A pass that
    raises or fails its check ends the run."""
    passes = []
    t_end = time.perf_counter() + seconds
    while not passes or time.perf_counter() < t_end:
        k = len(passes) + 1
        try:
            r = wl.run_pass(spark, k)
        except Exception as e:  # a pass that raises fails all its docs
            traceback.print_exc(file=sys.stderr)
            from workloads import PassResult

            r = PassResult(float("nan"), wl.docs, wl.docs, wl.docs,
                           [f"pass {k} raised {type(e).__name__}: {e}"])
        if r.problems:
            r.failed = r.unexpected = r.docs
        passes.append(r)
        problems += r.problems
        after_pass(spark, leaks, problems)
        if r.problems:
            break
    return passes


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    try:
        sys.path.insert(0, ROOT)
        import docling_parse_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not here ({e}); run from the repo root",
              file=sys.stderr)
        return 2
    import host
    import inputs
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "eventlog", "spark-local"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Python workers import the program from the checkout, whatever the cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # spark-submit's launcher JVM, like the driver JVM (spark_conf), must
    # not write its hsperfdata file under the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    try:
        return run(args, work, host, inputs, workloads)
    except Exception as e:  # the program broke the run: report, not crash
        traceback.print_exc(file=sys.stderr)
        import trace_run

        names = trace_run.METRICS if args.trace else END_TO_END
        emit({"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "problems": [f"run raised {type(e).__name__}: {e}"]},
             False, 1, 1, {k: (0.0, u) for k, u in names.items()})
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work, host, inputs, workloads) -> int:
    probe_before = host.contention_probe_ms()
    input_dir, meta, input_s, cached = inputs.get_input(CACHE, args.workload, args.seed)
    wl = workloads.WORKLOADS[args.workload](input_dir, meta, work, args.seed)
    if args.trace:
        import trace_run

        return trace_run.run(args, work, wl, probe_before, input_s, cached)

    spark, setup_s = set_up(work)
    stamp = host.host_stamp(spark)
    problems: list = []
    leaks: list = []
    try:
        problems += wl.prepare(spark)
        # RSS of the driver JVM plus its Python workers: the JVM's process tree
        jvm = host.jvm_pid()
        with host.PeakSampler(lambda: host.tree_rss_bytes(jvm), 0.1) as rss:
            passes = measure(spark, wl, args.seconds, leaks, problems)
        if not problems:
            problems += wl.run_checks(spark)
            after_pass(spark, leaks, problems)
    finally:
        tear_down(spark)
    probe_after = host.contention_probe_ms()

    attempted = sum(p.docs for p in passes)
    failed = sum(p.failed for p in passes)
    if problems:
        failed = attempted
    seconds = sum(p.seconds for p in passes)
    values = {
        "setup_s": setup_s,
        "docs_per_s": attempted / seconds if seconds == seconds else 0.0,
        "ok_ratio": (attempted - failed) / attempted,
        "peak_rss_mb": rss.peak / (1 << 20),
    }
    metrics = {k: (values[k], u) for k, u in END_TO_END.items()}
    record = {
        "workload": args.workload, "seed": args.seed, "trace": 0,
        "host": stamp, "probe_ms": [probe_before, probe_after],
        "inputs": {"s": input_s, "cached": cached, "digest": meta["input_digest"]},
        "setup_s": setup_s, "passes_s": [p.seconds for p in passes],
        "docs_per_pass": wl.docs, "fail_ratio": failed / attempted,
        "leaked_persists": sum(leaks), "problems": problems,
    }
    emit(record, not problems, attempted, sum(p.unexpected for p in passes)
         if not problems else attempted, metrics)
    return 0


def emit(record: dict, correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    record["metrics"] = {k: v for k, (v, _) in metrics.items()}
    os.makedirs(os.path.join(HERE, ".records"), exist_ok=True)
    with open(os.path.join(HERE, ".records", "records.jsonl"), "a") as f:
        f.write(json.dumps(record, sort_keys=True) + "\n")
    print(json.dumps(record, sort_keys=True))
    print(json.dumps({
        "correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    sys.exit(main())
