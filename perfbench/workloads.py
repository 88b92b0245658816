"""The workloads: one pass each through the program's public entry
points, with the output checks that every pass and every run must pass.

A pass returns its wall time, the docs it attempted, the docs that ended
failed and any check problems. Failed means a unit or file that carries a
failure, or a doc missing from the output; a pass that raises or fails its
output check counts all of its docs as failed. ``unexpected`` counts the
failures that are not planted (the truncated files of ``pdf_files`` are
planted: they must fail, and one that does not is a check problem).
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

import inputs


@dataclass
class PassResult:
    seconds: float
    docs: int
    failed: int = 0
    unexpected: int = 0
    problems: list = field(default_factory=list)


def _canon(spans_col: str = "spans"):
    """Spark twin of ``inputs.spans_string``."""
    nul = F.lit("\x00")
    return F.concat_ws("\x1f", F.transform(spans_col, lambda s: F.concat_ws(
        "\x1e", F.coalesce(s["kind"], nul), F.coalesce(s["text"], nul),
        F.coalesce(s["media_ref"], nul), s["offset"].cast("string"))))


def _key48(text_col):
    return F.conv(F.substring(F.md5(text_col), 1, inputs.KEY48), 16, 10).cast("long")


def digest_row(spans_df: DataFrame, sample_ids: list):
    """One action over an extract output: docs, distinct docs, digest (sum of
    per-doc keys: order-independent), docs with non-dense offsets, and the
    output rows of ``sample_ids``."""
    dense = F.forall(F.transform("spans", lambda s, i: s["offset"] == i), lambda ok: ok)
    sample = F.when(F.col("doc_id").isin(sample_ids), F.struct("doc_id", "spans"))
    return spans_df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("doc_id").alias("docs"),
        F.sum(_key48(F.concat(F.col("doc_id"), F.lit("\x1d"), _canon()))).alias("digest"),
        F.sum(F.when(dense, 0).otherwise(1)).alias("sparse"),
        F.collect_list(sample).alias("sample"),
    ).collect()[0]


def check_digest(row, meta: dict, what: str) -> list[str]:
    n, digest = meta["expected_digest"]
    problems = []
    if row["rows"] != n or row["docs"] != n:
        problems.append(f"{what}: {row['rows']} rows / {row['docs']} docs, expected {n}")
    if row["sparse"]:
        problems.append(f"{what}: {row['sparse']} docs with non-dense offsets")
    if row["digest"] != digest:
        problems.append(f"{what}: digest {row['digest']} != oracle {digest}")
    return problems


class Workload:
    name = ""

    def __init__(self, input_dir: str, meta: dict, work_dir: str, seed: int):
        self.input_dir = input_dir
        self.meta = meta
        self.work_dir = work_dir
        self.seed = seed
        self.docs = meta["docs"]

    def docs_df(self, spark) -> DataFrame:
        return spark.read.parquet(os.path.join(self.input_dir, "docs"))

    def prepare(self, spark) -> list[str]:
        """Work made once per run before the timed passes; returns problems."""
        return []

    def run_pass(self, spark, k: int) -> PassResult:
        raise NotImplementedError

    def run_checks(self, spark) -> list[str]:
        """Checks made once per run, after the timed passes."""
        return []


class DocsWorkload(Workload):
    """A docs-table workload checked against the sequential oracle: the
    digest of every doc, and a seeded sample (heavy docs included) span by
    span against ``document.decode_document``."""

    SAMPLE = 12

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        import pyarrow.parquet as pq

        table = pq.read_table(os.path.join(self.input_dir, "docs"))
        ids = table.column("doc_id").to_pylist()
        rng = random.Random(f"sample:{self.seed}")
        heavy = self.meta["heavy_docs"]
        pick = rng.sample(heavy, min(3, len(heavy)))
        pick += rng.sample(sorted(set(ids) - set(pick)), self.SAMPLE - len(pick))
        self.sample_ids = sorted(pick)
        keep = set(pick)
        self.sample_src = {r["doc_id"]: r["spans"] for r in table.to_pylist()
                           if r["doc_id"] in keep}

    def check_sample(self, sample: dict) -> list[str]:
        """``sample``: doc_id -> output spans as dicts."""
        from docling_parse_spark.document import decode_document

        return [f"sample doc {d} differs from decode_document"
                for d in self.sample_ids
                if sample.get(d) != decode_document(d, self.sample_src[d])]


class MixedCorpus(DocsWorkload):
    """``extract_spans`` (metrics off) fully materialized into the digest."""

    name = "mixed_corpus"

    def run_pass(self, spark, k: int) -> PassResult:
        from docling_parse_spark.extract import extract_spans

        t0 = time.perf_counter()
        row = digest_row(extract_spans(self.docs_df(spark)), self.sample_ids)
        dt = time.perf_counter() - t0
        self.last_row = row
        problems = check_digest(row, self.meta, "spans")
        missing = max(0, self.docs - row["docs"])
        return PassResult(dt, self.docs, missing, missing, problems)

    def run_checks(self, spark) -> list[str]:
        return self.check_sample({r["doc_id"]: [x.asDict() for x in r["spans"]]
                                  for r in self.last_row["sample"]})


class HeavyCheckpointed(DocsWorkload):
    """``run_with_checkpoint`` into parquet plus its commit log; each pass
    writes a fresh output directory, so every bucket runs."""

    name = "heavy_checkpointed"
    buckets = 2

    def out_dir(self, k: int) -> str:
        return os.path.join(self.work_dir, f"checkpoint-{k}")

    def checkpoint(self, spark, k: int) -> float:
        from docling_parse_spark.checkpoint import run_with_checkpoint

        out = self.out_dir(k)
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.perf_counter()
        run_with_checkpoint(self.docs_df(spark), out, buckets=self.buckets,
                            run_id=f"pass{k}")
        return time.perf_counter() - t0

    def run_pass(self, spark, k: int) -> PassResult:
        from docling_parse_spark.checkpoint import committed_buckets

        dt = self.checkpoint(spark, k)
        self.last_out = out = self.out_dir(k)
        commits = committed_buckets(out)
        problems = []
        with open(os.path.join(out, "_commits.jsonl")) as f:
            lines = [line for line in f if line.strip()]
        if sorted(commits) != list(range(self.buckets)) or len(lines) != self.buckets:
            problems.append(f"{len(lines)} commits for buckets {sorted(commits)}, "
                            f"expected one per bucket of {self.buckets}")
        failed = sum(r.get("decode_failures", 0) for r in commits.values())
        return PassResult(dt, self.docs, failed, failed, problems)

    def run_checks(self, spark) -> list[str]:
        """The last pass's parquet, read back here: the digest, dense
        offsets and the sample."""
        import pyarrow.parquet as pq

        rows = pq.read_table(os.path.join(self.last_out, "spans"),
                             columns=["doc_id", "spans"]).to_pylist()
        row = {
            "rows": len(rows),
            "docs": len({r["doc_id"] for r in rows}),
            "digest": sum(inputs.doc_key(r["doc_id"], r["spans"]) for r in rows),
            "sparse": sum(any(s["offset"] != i for i, s in enumerate(r["spans"]))
                          for r in rows),
        }
        sample = {r["doc_id"]: r["spans"] for r in rows if r["doc_id"] in self.sample_src}
        return check_digest(row, self.meta, "parquet read-back") + self.check_sample(sample)


class PdfFiles(Workload):
    """``ingest_pdf_files`` -> ``extract_spans`` over plain files, their
    AES-256 twins and planted truncated files."""

    name = "pdf_files"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.files_dir = os.path.join(self.input_dir, "files")
        self.failed_files: set = set()

    def ingest(self, spark) -> DataFrame:
        from docling_parse_spark.pdf.file import ingest_pdf_files

        return ingest_pdf_files(spark, self.files_dir)

    def run_pass(self, spark, k: int) -> PassResult:
        from docling_parse_spark.extract import extract_spans

        t0 = time.perf_counter()
        spans = extract_spans(self.ingest(spark))
        rows = spans.select("doc_id", F.md5(_canon()).alias("md5")).collect()
        dt = time.perf_counter() - t0
        got = {os.path.basename(r["doc_id"]): r["md5"] for r in rows}
        problems = []
        if len(rows) != self.docs or len(got) != self.docs:
            problems.append(f"{len(rows)} output rows for {self.docs} files")
        want = self.meta["expected_spans_md5"]
        for i, md5 in want.items():
            for name in (f"plain-{i}.pdf", f"aes-{i}.pdf"):
                if got.get(name) != md5:
                    problems.append(f"{name}: spans differ from the plain oracle")
        for name in self.meta["truncated"]:
            if got.get(name) != self.meta["empty_spans_md5"]:
                problems.append(f"{name}: truncated file produced spans")
        missing = self.docs - len(got)
        failed = len(self.failed_files) + missing
        unexpected = len(self.failed_files - set(self.meta["truncated"])) + missing
        return PassResult(dt, self.docs, failed, unexpected, problems[:10])

    def prepare(self, spark) -> list[str]:
        """Per-file failures are read once per run from the ingest table's
        error column (the extract output carries no error column)."""
        rows = self.ingest(spark).filter(F.col("error").isNotNull()).select("doc_id").collect()
        self.failed_files = {os.path.basename(r[0]) for r in rows}
        if self.failed_files != set(self.meta["truncated"]):
            return [f"files with an error {sorted(self.failed_files)[:5]}... != planted "
                    f"truncated {sorted(self.meta['truncated'])[:5]}..."]
        return []


class CurateDedup(Workload):
    """``curation_pipeline``, minhash pairs + ``dedup_survivors``, simhash
    pairs and ``lsh_topk`` over a (doc_id, source, text) table and vectors."""

    name = "curate_dedup"

    def vectors(self, spark) -> DataFrame:
        return spark.read.parquet(os.path.join(self.input_dir, "vectors"))

    def steps(self, spark) -> dict:
        """Step name -> callable running that step to completion."""
        from docling_parse_spark.operators.dedup import (
            dedup_survivors, minhash_lsh_pairs, simhash_pairs)
        from docling_parse_spark.operators.similarity import lsh_topk
        from docling_parse_spark.pipeline import curation_pipeline

        docs = self.docs_df(spark)
        out: dict = {}

        def curation():
            out["curation"] = curation_pipeline(docs).agg(
                F.count(F.lit(1)), F.sum("n_tokens"), F.countDistinct("shard_id")).collect()[0]

        def minhash():
            survivors = dedup_survivors(docs, minhash_lsh_pairs(docs))
            out["survivor_ids"] = {r[0] for r in survivors.select("doc_id").collect()}

        def simhash():
            out["simhash_pairs"] = simhash_pairs(docs).count()

        def topk():
            vec = self.vectors(spark)
            queries = vec.filter(F.col("vec_id") < self.meta["queries"])
            out["topk"] = lsh_topk(vec, queries, k=5, n_planes=32, bands=16,
                                   dim=self.meta["dim"]).collect()

        return {"curation": curation, "minhash": minhash, "simhash": simhash,
                "lsh_topk": topk}, out

    def check(self, out: dict) -> list[str]:
        problems = []
        # a twin leaves the survivors only through a found pair with its
        # original (every other doc_id is lower than the twin's)
        twins = [tuple(t) for t in self.meta["twins"]]
        kept = [t[1] for t in twins if t[1] in out["survivor_ids"]]
        if kept:
            problems.append(f"{len(kept)} planted twins survived dedup, e.g. {kept[0]}")
        lost = [t[0] for t in twins if t[0] not in out["survivor_ids"]]
        if lost:
            problems.append(f"{len(lost)} originals of planted twins removed")
        top1 = {r["query_id"]: r["neighbor_id"] for r in out["topk"] if r["rank"] == 1}
        for q, target in self.meta["query_neighbors"].items():
            if top1.get(int(q)) != target:
                problems.append(f"lsh_topk query {q}: top-1 {top1.get(int(q))} != {target}")
        if out["curation"][0] == 0:
            problems.append("curation_pipeline kept no docs")
        return problems

    def run_pass(self, spark, k: int, timings: dict | None = None) -> PassResult:
        """``timings``, when given, receives each step's seconds, and each
        step's Spark jobs are described by the step name."""
        steps, out = self.steps(spark)
        t0 = time.perf_counter()
        for name, step in steps.items():
            s0 = time.perf_counter()
            if timings is None:
                step()
                continue
            spark.sparkContext.setJobDescription(name)
            try:
                step()
            finally:
                spark.sparkContext.setJobDescription(None)
            timings[name] = time.perf_counter() - s0
        dt = time.perf_counter() - t0
        self.last_out = out
        return PassResult(dt, self.docs, 0, 0, self.check(out))


WORKLOADS = {w.name: w for w in (MixedCorpus, HeavyCheckpointed, PdfFiles, CurateDedup)}
