"""The traced run: per-layer numbers for one workload.

Nothing inside the program is instrumented. Layer numbers come from
(1) jobs that run a growing prefix of the extract plan (scan, + route,
+ shuffle, + decode, + reassemble), each timed from here, so a layer's time
is the difference of two prefixes; (2) Spark's own task metrics from the
event log of this run, grouped by the job description set before each job;
(3) a sequential sample of the workload's own work units through
``document.decode_unit`` in this process, with the merge-stage functions of
``pdf.page`` wrapped by timers; (4) the checkpoint pass run again with its
parquet sink replaced by Spark's noop sink. The traced job time is reconciled as the layer times plus an
explicit ``trace.unattributed_s`` remainder, and ``trace.overhead_s`` is the
traced pass time minus the untraced pass time measured in the same run.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time
from contextlib import contextmanager

from pyspark.sql import functions as F

import host
import run as runner

TRACED_PASSES = 1
KERNEL_SAMPLE_UNITS = 240
HEAVY_SPAN_THRESHOLD = 24  # extract_spans' default routing threshold

# every per-layer metric; a layer the workload does not reach reports 0
METRICS = {
    "route.s": "s", "route.rows_out": "count", "route.split_share": "ratio",
    "shuffle.s": "s", "shuffle.write_bytes": "B", "shuffle.read_bytes": "B",
    "shuffle.records": "count", "shuffle.task_skew": "ratio",
    "decode.s": "s", "decode.cpu_s": "s", "decode.unattributed_core_s": "s",
    "kernel.docs_per_s_core": "1/s", "kernel.units": "count", "kernel.cells": "count",
    "kernel.resources_s": "s", "kernel.tokenize_s": "s", "kernel.interpret_s": "s",
    "kernel.merge_s": "s", "kernel.annots_s": "s", "kernel.html_s": "s",
    "kernel.fonts_cache_hit_ratio": "ratio",
    "merge.dedup_s": "s", "merge.sanitize_s": "s", "merge.words_s": "s",
    "merge.cells_in": "count", "merge.cells_out": "count",
    "reassemble.s": "s", "reassemble.spans_out": "count",
    "checkpoint.bucket_s_p50": "s", "checkpoint.bucket_s_max": "s",
    "checkpoint.commits": "count", "checkpoint.cached_bytes_peak": "B",
    "sink.s": "s", "sink.bytes_per_doc": "B",
    "ingest.s": "s", "ingest.parse_ms_plain": "ms", "ingest.parse_ms_aes": "ms",
    "ingest.failed_files": "count",
    "curation.s": "s", "minhash.s": "s", "minhash.pairs": "count",
    "minhash.task_skew": "ratio", "simhash.s": "s", "simhash.pairs": "count",
    "lsh_topk.s": "s", "lsh_topk.shuffle_records": "count",
    "spark.tasks": "count", "spark.task_failures": "count", "spark.gc_s": "s",
    "spark.spill_bytes": "B", "spark.leaked_persists": "count",
    "scan.s": "s", "trace.job_s": "s", "trace.unattributed_s": "s",
    "trace.overhead_s": "s", "fail_ratio": "ratio", "setup.cold_s": "s",
    "inputs.s": "s",
}


# -- Spark event log -----------------------------------------------------

@contextmanager
def job(spark, label: str):
    spark.sparkContext.setJobDescription(label)
    try:
        yield
    finally:
        spark.sparkContext.setJobDescription(None)


class EventLog:
    """Task metrics from a finished application's event log, per stage and
    per job description."""

    def __init__(self, log_dir: str):
        # a file per application, or a directory of rolled files (v2)
        files = sorted(os.path.join(d, f) for d, _, names in os.walk(log_dir)
                       for f in names if f.startswith("events_") or d == log_dir)
        self.stage_label: dict[int, str] = {}
        self.tasks: list[dict] = []
        for path in files:
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        label = (ev.get("Properties") or {}).get("spark.job.description")
                        for sid in ev.get("Stage IDs", []):
                            self.stage_label.setdefault(sid, label)
                    elif kind == "SparkListenerTaskEnd":
                        self.tasks.append(self._task(ev))

    @staticmethod
    def _task(ev: dict) -> dict:
        m = ev.get("Task Metrics") or {}
        info = ev.get("Task Info") or {}
        rd = m.get("Shuffle Read Metrics") or {}
        wr = m.get("Shuffle Write Metrics") or {}
        return {
            "stage": ev["Stage ID"],
            "ok": (ev.get("Task End Reason") or {}).get("Reason") == "Success",
            "dur_s": (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0,
            "run_s": m.get("Executor Run Time", 0) / 1000.0,
            "gc_s": m.get("JVM GC Time", 0) / 1000.0,
            "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            "read_bytes": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
            "write_bytes": wr.get("Shuffle Bytes Written", 0),
            "write_records": wr.get("Shuffle Records Written", 0),
        }

    def of(self, label: str | None = None) -> list[dict]:
        if label is None:
            return self.tasks
        return [t for t in self.tasks if self.stage_label.get(t["stage"]) == label]

    @staticmethod
    def by_stage(tasks: list[dict]) -> dict[int, list[dict]]:
        out: dict[int, list[dict]] = {}
        for t in tasks:
            out.setdefault(t["stage"], []).append(t)
        return out

    @staticmethod
    def skew(tasks: list[dict]) -> float:
        """Slowest task over the median task, in the stage that ran longest."""
        stages = EventLog.by_stage(tasks)
        if not stages:
            return 0.0
        big = max(stages.values(), key=lambda ts: sum(t["run_s"] for t in ts))
        durs = [t["dur_s"] for t in big]
        med = statistics.median(durs)
        return max(durs) / med if med > 0 else 0.0


# -- process-tree CPU ----------------------------------------------------

def tree_cpu_s(root: int) -> float:
    """User+system CPU of ``root`` and its descendants, reaped children
    included."""
    tick = os.sysconf("SC_CLK_TCK")
    kids = host.children()
    total = 0
    stack = [root]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])
        except OSError:
            pass
        stack.extend(kids.get(pid, ()))
    return total / tick


def timed_job(spark, label: str, action) -> tuple[float, float, object]:
    """(wall s, process-tree CPU s, result) of one labelled action."""
    pid = host.jvm_pid()
    c0 = tree_cpu_s(pid)
    t0 = time.perf_counter()
    with job(spark, label):
        out = action()
    return time.perf_counter() - t0, tree_cpu_s(pid) - c0, out


# -- extract prefix chain ------------------------------------------------

def extract_prefixes(spark, src, decode) -> dict:
    """Run scan, +route, +shuffle, +decode, +reassemble as separate jobs.
    Mirrors ``extract.extract_spans``' plan; update it with that plan."""
    from docling_parse_spark.extract import reassemble, route_units

    n = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def noop(df):
        return lambda: df.write.format("noop").mode("overwrite").save()

    routed = route_units(src, HEAVY_SPAN_THRESHOLD)
    shuffled = routed.repartition(n, "doc_id", "page")
    decoded = decode(shuffled)
    chain = [
        ("scan", noop(src)),
        ("route", lambda: routed.agg(F.count(F.lit(1)), F.sum(
            (F.col("unit_kind") != "__doc__").cast("long"))).collect()[0]),
        ("shuffle", noop(shuffled)),
        ("decode", noop(decoded)),
        ("reassemble", lambda: reassemble(decoded).agg(
            F.sum(F.size("spans"))).collect()[0][0]),
    ]
    # the first round pays each new plan's code generation; the second,
    # labelled one is measured
    for name, action in chain:
        timed_job(spark, f"warm-{name}", action)
    return {name: timed_job(spark, name, action) for name, action in chain}


def prefix_metrics(res: dict, log: EventLog) -> dict:
    t = {k: v[0] for k, v in res.items()}
    rows, split = res["route"][2]
    p2 = log.of("shuffle")
    p3 = log.of("decode")
    decode_stage = [x for x in p3 if x["read_bytes"] > 0]
    return {
        "route.s": t["route"] - t["scan"],
        "route.rows_out": rows,
        "route.split_share": (split or 0) / rows if rows else 0.0,
        "shuffle.s": t["shuffle"] - t["route"],
        "shuffle.write_bytes": sum(x["write_bytes"] for x in p2),
        "shuffle.read_bytes": sum(x["read_bytes"] for x in p2),
        "shuffle.records": sum(x["write_records"] for x in p2),
        "shuffle.task_skew": EventLog.skew(decode_stage),
        "decode.s": t["decode"] - t["shuffle"],
        "decode.cpu_s": res["decode"][1] - res["shuffle"][1],
        "decode_stage_run_s": sum(x["run_s"] for x in decode_stage),
        "reassemble.s": t["reassemble"] - t["decode"],
        "reassemble.spans_out": res["reassemble"][2] or 0,
    }


# -- sequential kernel sample --------------------------------------------

class CountingCache(dict):
    """``fonts_cache`` that counts lookups and hits."""

    lookups = 0
    hits = 0

    def __contains__(self, key):
        found = super().__contains__(key)
        self.lookups += 1
        self.hits += found
        return found


@contextmanager
def merge_timers(acc: dict):
    """Wrap the merge-stage functions ``pdf.page`` calls, timing each."""
    from docling_parse_spark.pdf import page

    originals = {}

    def wrap(name, key, count_in=False, count_out=False):
        fn = getattr(page, name)
        originals[name] = fn

        def timed(cells, *a, **kw):
            if count_in:
                acc["merge.cells_in"] += len(cells)
            t0 = time.perf_counter()
            out = fn(cells, *a, **kw)
            acc[key] += time.perf_counter() - t0
            if count_out:
                acc["merge.cells_out"] += len(out)
            return out

        setattr(page, name, timed)

    wrap("remove_duplicate_cells", "merge.dedup_s", count_in=True)
    wrap("sanitize_text", "merge.sanitize_s")
    wrap("create_word_cells", "merge.words_s", count_out=True)
    try:
        yield
    finally:
        for name, fn in originals.items():
            setattr(page, name, fn)


def workload_units(docs: list[dict]) -> list[dict]:
    """The work units ``extract_spans`` decodes: light docs fused with
    in-process resources, heavy docs split to serialized page units."""
    from docling_parse_spark.document import doc_to_units

    units = []
    for d in docs:
        spans = d["spans"] or []
        units += doc_to_units(d["doc_id"], spans,
                              serialize=len(spans) > HEAVY_SPAN_THRESHOLD)
    return units


def kernel_sample(docs: list[dict], n_docs_total: int, units_total: int,
                  seed: int) -> dict:
    from docling_parse_spark.document import decode_unit
    from docling_parse_spark.pdf.page import DecodeConfig

    units = workload_units(docs)
    rng = random.Random(f"kernel:{seed}")
    sample = rng.sample(units, min(KERNEL_SAMPLE_UNITS, len(units)))
    acc = {k: 0.0 for k in ("merge.dedup_s", "merge.sanitize_s", "merge.words_s",
                            "merge.cells_in", "merge.cells_out")}
    stages = dict.fromkeys(("resources", "tokenize", "interpret", "merge", "annots",
                            "html"), 0.0)
    cache = CountingCache()
    cfg = DecodeConfig()
    cells = 0
    t0 = time.perf_counter()
    with merge_timers(acc):
        for u in sample:
            ur = decode_unit(u["unit_kind"], u["payload"], u["page"], u["resources"],
                             cfg, cache)
            cells += ur.cells_emitted
            for k, ms in (ur.timings or {}).items():
                stages[k] = stages.get(k, 0.0) + ms / 1000.0
    wall = time.perf_counter() - t0
    per_unit = wall / len(sample)
    core_s = per_unit * units_total
    out = {
        "kernel.docs_per_s_core": n_docs_total / core_s,
        "kernel.units": len(sample),
        "kernel.cells": cells,
        "kernel.fonts_cache_hit_ratio": cache.hits / cache.lookups if cache.lookups else 0.0,
        "kernel_core_s": core_s,
    }
    out.update({f"kernel.{k}_s": v for k, v in stages.items()})
    out.update(acc)
    return out


# -- workload-specific traced layers -------------------------------------

def persisted_bytes(spark) -> int:
    """Bytes held by persisted RDDs, in memory and on disk."""
    return sum(i.memSize() + i.diskSize()
               for i in spark.sparkContext._jsc.sc().getRDDStorageInfo())


@contextmanager
def noop_parquet():
    """Replace the parquet sink with Spark's noop sink (same plan, no I/O)."""
    from pyspark.sql.readwriter import DataFrameWriter

    original = DataFrameWriter.parquet

    def noop(self, path, *a, **kw):
        self.format("noop").mode("overwrite").save()

    DataFrameWriter.parquet = noop
    try:
        yield
    finally:
        DataFrameWriter.parquet = original


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def load_docs(wl) -> list[dict]:
    import pyarrow.parquet as pq

    return pq.read_table(os.path.join(wl.input_dir, "docs")).to_pylist()


def pdf_docs(wl, rng: random.Random, n: int = 40) -> tuple[list[dict], dict]:
    """Parsed docs for a sample of files plus per-file parse times (ms)."""
    from docling_parse_spark.pdf.file import parse_pdf_spans

    pairs = sorted(wl.meta["expected_spans_md5"])
    docs, ms = [], {"plain": [], "aes": []}
    for i in rng.sample(pairs, min(n // 2, len(pairs))):
        for kind in ("plain", "aes"):
            name = f"{kind}-{i}.pdf"
            with open(os.path.join(wl.files_dir, name), "rb") as f:
                data = f.read()
            t0 = time.perf_counter()
            spans = parse_pdf_spans(data, name)
            ms[kind].append((time.perf_counter() - t0) * 1000.0)
            docs.append({"doc_id": name, "spans": spans})
    return docs, ms


def run(args, work: str, wl, probe_before: float, input_s: float, cached: bool) -> int:
    spark, cold_s = runner.set_up(work)
    problems: list = []
    leaks: list = []
    m = dict.fromkeys(METRICS, 0.0)
    try:
        problems += wl.prepare(spark)
        untraced = runner.measure(spark, wl, 0, leaks, problems)
        # one more untraced pass on the warm JVM: the traced pass below also
        # runs on it, so their difference is the tracing overhead
        warm = wl.run_pass(spark, len(untraced) + 1)
        problems += warm.problems
        runner.after_pass(spark, leaks, problems)
        spark.stop()
        spark, _ = runner.set_up(work, event_log=True)
        stamp = host.host_stamp(spark)
        passes = traced_passes(spark, wl, m, leaks, problems)
        if not problems:
            problems += wl.run_checks(spark)
        job_s = statistics.median(p.seconds for p in passes)
        prefixes = trace_layers(spark, wl, args.seed, m, job_s, leaks, problems)
    finally:
        runner.tear_down(spark)
    log = EventLog(os.path.join(work, "eventlog"))
    probe_after = host.contention_probe_ms()

    if prefixes:
        pm = prefix_metrics(prefixes, log)
        m["decode.unattributed_core_s"] = pm.pop("decode_stage_run_s") - m.pop("kernel_core_s")
        m["ingest.s" if wl.name == "pdf_files" else "scan.s"] = prefixes["scan"][0]
        m.update(pm)
    if wl.name == "curate_dedup":
        m["minhash.task_skew"] = EventLog.skew(log.of("minhash"))
        m["lsh_topk.shuffle_records"] = sum(t["write_records"] for t in log.of("lsh_topk"))
    tasks = log.of()
    m["spark.tasks"] = len(tasks)
    m["spark.task_failures"] = sum(not t["ok"] for t in tasks)
    m["spark.gc_s"] = sum(t["gc_s"] for t in tasks)
    m["spark.spill_bytes"] = sum(t["spill"] for t in tasks)
    m["spark.leaked_persists"] = sum(leaks)

    layers_s = layers_sum(wl.name, m)
    m["trace.job_s"] = job_s
    m["trace.unattributed_s"] = job_s - layers_s
    m["trace.overhead_s"] = job_s - warm.seconds
    every = untraced + [warm] + passes
    attempted = sum(p.docs for p in every)
    failed = attempted if problems else sum(p.failed for p in every)
    m["fail_ratio"] = failed / attempted
    m["setup.cold_s"] = cold_s
    m["inputs.s"] = input_s
    record = {
        "workload": args.workload, "seed": args.seed, "trace": 1, "host": stamp,
        "probe_ms": [probe_before, probe_after],
        "inputs": {"s": input_s, "cached": cached, "digest": wl.meta["input_digest"]},
        "untraced_passes_s": [p.seconds for p in untraced + [warm]],
        "traced_passes_s": [p.seconds for p in passes],
        "reconciliation": {"job_s": job_s, "layers_s": layers_s,
                           "unattributed_s": m["trace.unattributed_s"]},
        "problems": problems,
    }
    unexpected = attempted if problems else sum(p.unexpected for p in every)
    runner.emit(record, not problems, attempted, unexpected,
                {k: (float(m[k]), u) for k, u in METRICS.items()})
    return 0


def layers_sum(name: str, m: dict) -> float:
    if name == "curate_dedup":
        return m["curation.s"] + m["minhash.s"] + m["simhash.s"] + m["lsh_topk.s"]
    return (m["scan.s"] + m["ingest.s"] + m["route.s"] + m["shuffle.s"] + m["decode.s"]
            + m["reassemble.s"] + m["sink.s"])


def traced_passes(spark, wl, m: dict, leaks: list, problems: list) -> list:
    """The workload's own pass with the event log on, plus the layer
    numbers only a pass shows (step times, the checkpoint's buckets)."""
    passes, extra = [], {}

    def keep(name, value):
        extra.setdefault(name, []).append(value)

    for k in range(1, TRACED_PASSES + 1):
        if wl.name == "curate_dedup":
            timings: dict = {}
            r = wl.run_pass(spark, k, timings=timings)
            for name, s in timings.items():
                keep(f"{name}.s", s)
            keep("simhash.pairs", wl.last_out["simhash_pairs"])
        elif wl.name == "heavy_checkpointed":
            with job(spark, "pass"), host.PeakSampler(
                    lambda: persisted_bytes(spark), 0.2) as st:
                r = wl.run_pass(spark, 100 + k)
            keep("checkpoint.cached_bytes_peak", st.peak)
            out = wl.out_dir(100 + k)
            with open(os.path.join(out, "_commits.jsonl")) as f:
                walls = [json.loads(line)["wall_sec"] for line in f if line.strip()]
            keep("checkpoint.bucket_s_p50", statistics.median(walls))
            keep("checkpoint.bucket_s_max", max(walls))
            keep("checkpoint.commits", len(walls))
            keep("sink.bytes_per_doc", (dir_bytes(os.path.join(out, "spans"))
                                        + dir_bytes(os.path.join(out, "metrics"))) / wl.docs)
        else:
            with job(spark, "pass"):
                r = wl.run_pass(spark, k)
        passes.append(r)
        problems += r.problems
        runner.after_pass(spark, leaks, problems)
    m.update({k: statistics.median(v) for k, v in extra.items()})
    return passes


def trace_layers(spark, wl, seed: int, m: dict, job_s: float, leaks: list,
                 problems: list) -> dict | None:
    """Prefix jobs and the kernel sample of the extract workloads."""
    if wl.name == "curate_dedup":
        m["minhash.pairs"] = count_minhash_pairs(spark, wl)
        return None
    from docling_parse_spark.extract import decode_routed, decode_slim

    if wl.name == "pdf_files":
        src = wl.ingest(spark)
        docs, parse_ms = pdf_docs(wl, random.Random(f"trace:{seed}"))
        m["ingest.parse_ms_plain"] = statistics.median(parse_ms["plain"])
        m["ingest.parse_ms_aes"] = statistics.median(parse_ms["aes"])
        m["ingest.failed_files"] = len(wl.failed_files)
        units_total = wl.docs - len(wl.meta["truncated"])
    else:
        src = wl.docs_df(spark)
        docs = load_docs(wl)
        units_total = wl.meta["units"]
    # the checkpoint path decodes with metrics on, i.e. through decode_routed
    decode = decode_routed if wl.name == "heavy_checkpointed" else decode_slim
    prefixes = extract_prefixes(spark, src, decode)
    runner.after_pass(spark, leaks, problems)
    if wl.name == "heavy_checkpointed":
        with noop_parquet():
            nosink_s = wl.checkpoint(spark, 200)
        runner.after_pass(spark, leaks, problems)
        m["sink.s"] = job_s - nosink_s
    m.update(kernel_sample(docs, wl.docs, units_total, seed))
    return prefixes


def count_minhash_pairs(spark, wl) -> int:
    from docling_parse_spark.operators.dedup import minhash_lsh_pairs

    with job(spark, "minhash-pairs"):
        return minhash_lsh_pairs(wl.docs_df(spark)).count()
