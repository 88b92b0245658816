"""Resumable per-partition checkpoints with lineage + metrics (north rule).

The corpus is split into ``buckets`` by ``pmod(xxhash64(doc_id), B)``; each
bucket runs as ONE Spark job that decodes, writes its spans and reports its
accounting through an ``Observation`` on the decoded units; the driver then
writes the bucket's one-row metrics file and appends a commit record. A
resumed run skips committed buckets — the failure domain is one bucket, and a
re-run of a committed bucket is a no-op (idempotent by construction:
deterministic input slice + overwrite write).

This is the batch analog the north rule asks for (Structured Streaming's
checkpoint dir is the built-in equivalent; SURVEY.md §4). The commit log is a
human-readable JSONL so lineage survives any storage layer.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, functions as F

from docling_parse_spark.extract import STAGE_KEYS, accounting_aggs, decoded_units, reassemble
from docling_parse_spark.pdf.page import DecodeConfig

COMMIT_LOG = "_commits.jsonl"

# the one-row-per-bucket metrics file (FIXTURES.md §3, extract.accounting_aggs
# names); an explicit schema so every bucket, empty or not, reads back alike
_COUNTS = ("pages_parsed", "cells_emitted", "decode_failures")
_MS_TOTALS = tuple(f"{k}_ms_total" for k in ("decode",) + STAGE_KEYS)
METRICS_SCHEMA = pa.schema(
    [("partition_id", pa.int32()), ("doc_id_min", pa.string()), ("doc_id_max", pa.string())]
    + [(c, pa.int64()) for c in _COUNTS]
    + [(c, pa.float64()) for c in _MS_TOTALS]
    + [("lineage", pa.string())]
)


def _observed(obs: Observation) -> dict:
    """The bucket's accounting row. An empty bucket has no row: AQE prunes
    the observed subtree once its input shuffle turns out empty, the JVM
    then reports an empty row, and ``Observation.get`` cannot convert it —
    so that case is detected up front and reported as zeros."""
    if obs._jo.getRow().length() == 0:
        return {"doc_id_min": None, "doc_id_max": None,
                **dict.fromkeys(_COUNTS, 0), **dict.fromkeys(_MS_TOTALS, 0.0)}
    return obs.get


def input_signature_of(docs_df: DataFrame) -> str | None:
    """Snapshot signature of a file-backed input: count + md5 of the sorted
    scan file list (ADVICE r01 / VERDICT r02 #8). None for non-file sources
    (in-memory test frames) — callers can still pass an explicit signature."""
    files = sorted(docs_df.inputFiles())
    if not files:
        return None
    import hashlib

    digest = hashlib.md5("\n".join(files).encode("utf-8")).hexdigest()
    return f"files:{len(files)}:{digest}"


def committed_buckets(out_dir: str) -> dict[int, dict]:
    path = os.path.join(out_dir, COMMIT_LOG)
    done: dict[int, dict] = {}
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    rec = json.loads(line)
                    done[rec["bucket"]] = rec
    return done


def _append_commit(out_dir: str, rec: dict) -> None:
    with open(os.path.join(out_dir, COMMIT_LOG), "a") as f:
        f.write(json.dumps(rec, sort_keys=True) + "\n")


def run_with_checkpoint(
    docs_df: DataFrame,
    out_dir: str,
    buckets: int = 8,
    config: DecodeConfig | None = None,
    run_id: str = "run",
    num_partitions: int | None = None,
    input_signature: str | None = None,
) -> dict:
    """Extract docs_df -> ``out_dir/spans/bucket=N`` parquet, resumably.

    Each commit line records the bucket count and the input snapshot
    signature (auto-derived from the scan's file list for file-backed
    inputs; pass ``input_signature`` explicitly for in-memory frames);
    resuming against a log written under a different ``buckets`` value or a
    different input raises instead of silently skipping incompatible or
    mismatched ``pmod(B)`` slices.

    Returns a summary dict {buckets_run, buckets_skipped, docs, spans}.
    """
    os.makedirs(out_dir, exist_ok=True)
    if input_signature is None:
        input_signature = input_signature_of(docs_df)
    done = committed_buckets(out_dir)
    for b, rec in done.items():
        # a record MISSING the buckets key is treated as a mismatch, not
        # as "assume compatible": the legacy/hand-edited-log case is
        # exactly what this guard exists for (round-4 review — the old
        # rec.get('buckets', buckets) default silently passed any B)
        if rec.get("buckets") != buckets:
            raise ValueError(
                f"commit log {out_dir}/{COMMIT_LOG} was written with "
                f"buckets={rec.get('buckets')} (bucket {b}); resuming with "
                f"buckets={buckets} would skip incompatible pmod slices"
            )
        prev_sig = rec.get("input_signature")
        if input_signature is not None and prev_sig is not None and prev_sig != input_signature:
            raise ValueError(
                f"commit log {out_dir}/{COMMIT_LOG} was written for input "
                f"{prev_sig!r}; current input is {input_signature!r}"
            )
    bucketed = docs_df.withColumn("bucket", F.pmod(F.xxhash64("doc_id"), F.lit(buckets)))
    ran, skipped = [], []
    for b in range(buckets):
        if b in done:
            skipped.append(b)
            continue
        t0 = time.time()
        slice_df = bucketed.filter(F.col("bucket") == b).drop("bucket")
        lineage = f"{run_id}/bucket={b}"
        obs = Observation()
        decoded = decoded_units(slice_df, config=config, num_partitions=num_partitions)
        reassemble(decoded.observe(obs, *accounting_aggs())).write.mode(
            "overwrite"
        ).parquet(os.path.join(out_dir, "spans", f"bucket={b}"))
        m = _observed(obs)
        metrics_dir = os.path.join(out_dir, "metrics", f"bucket={b}")
        shutil.rmtree(metrics_dir, ignore_errors=True)
        os.makedirs(metrics_dir)
        pq.write_table(
            pa.Table.from_pylist([{**m, "partition_id": b, "lineage": lineage}],
                                 schema=METRICS_SCHEMA),
            os.path.join(metrics_dir, "part-00000.parquet"),
        )
        _append_commit(
            out_dir,
            {
                "bucket": b,
                "buckets": buckets,
                "input_signature": input_signature,
                "run_id": run_id,
                "lineage": lineage,
                **{c: int(m[c]) for c in _COUNTS},
                "wall_sec": round(time.time() - t0, 3),
                "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            },
        )
        ran.append(b)
    return {"buckets_run": ran, "buckets_skipped": skipped, "out_dir": out_dir}
