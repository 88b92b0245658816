"""Streaming extraction: continuously ingest docs-table files, emit spans.

``stream_extract`` uses ``foreachBatch`` so each micro-batch runs the exact
batch pipeline (same kernels, same reassembly) — streaming and batch stay
semantically identical by construction, and Structured Streaming's
checkpoint/WAL provides the at-least-once resume that ``checkpoint.py``
provides for pure batch runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from docling_parse_spark.extract import extract_spans
from docling_parse_spark.pdf.page import DecodeConfig
from docling_parse_spark.schemas import SPANS_TABLE_SCHEMA


def _write_batch_idempotent(df: DataFrame, output_dir: str, batch_id: int) -> None:
    """Write one micro-batch into a FLAT parquet directory under
    deterministic batch-scoped file names (``batch<id>-<seq>.parquet``).

    foreachBatch alone is at-least-once: a crash between the write and the
    checkpoint commit replays the batch. Replay here deletes the previous
    attempt's files for this batch id and re-emits the same names, so the
    sink converges to exactly-once OUTPUT — without the ``batch=<id>``
    partition layout an earlier revision used, which (r6 review) added a
    spurious ``batch`` column to the read schema and broke partition
    discovery on output dirs that predate it. The staging dir starts with
    ``_`` so readers ignore a half-written batch."""
    spark = df.sparkSession
    tmp = f"{output_dir}/_staging-batch-{batch_id}"
    df.write.mode("overwrite").parquet(tmp)
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(output_dir).getFileSystem(spark._jsc.hadoopConfiguration())
    prior = fs.globStatus(hpath(f"{output_dir}/batch{batch_id:09d}-*.parquet"))
    for st in prior or []:
        fs.delete(st.getPath(), False)
    parts = sorted(
        (st.getPath() for st in fs.globStatus(hpath(f"{tmp}/part-*")) or []),
        key=lambda p: p.getName(),
    )
    for i, p in enumerate(parts):
        fs.rename(p, hpath(f"{output_dir}/batch{batch_id:09d}-{i:05d}.parquet"))
    fs.delete(hpath(tmp), True)


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    config: DecodeConfig | None = None,
    num_partitions: int | None = None,
    trigger_available_now: bool = True,
):
    """readStream(parquet docs table) -> extract -> idempotent flat
    parquet spans sink (schema-identical to batch ``extract_spans``).

    Returns the StreamingQuery (caller awaits termination)."""
    stream = (
        spark.readStream.schema(SPANS_TABLE_SCHEMA)
        .option("maxFilesPerTrigger", 8)  # bounded micro-batches = backpressure
        .parquet(input_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = extract_spans(batch_df, config=config, num_partitions=num_partitions)
        # idempotent flat sink: replayed batches converge to exactly-once
        # output, and the read schema stays identical to batch extract_spans
        _write_batch_idempotent(out, output_dir, batch_id)

    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def curate_stream(docs: DataFrame, min_tokens: int = 5, min_quality: float = 0.6) -> DataFrame:
    """Stateless curation over a STREAMING docs frame: PII redaction +
    quality scoring + filter, as plain narrow transformations — no
    foreachBatch needed, so the stage composes with any streaming source/
    sink and adds zero state. Delegates to the SAME
    ``pipeline.redact_score_filter`` the batch curation_pipeline runs, so
    streaming and batch curation cannot drift. (Stateful stages — exact
    dedup across micro-batches — live in streaming.stateful; per-source
    caps and shard packing are batch semantics and belong in a downstream
    batch compact.)"""
    from docling_parse_spark.pipeline import redact_score_filter

    return redact_score_filter(docs, min_tokens, min_quality)


def stream_ingest_pdf_files(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    glob: str = "*.pdf",
    max_files_per_trigger: int = 64,
    extract: bool = False,
    trigger_available_now: bool = True,
    password=None,
):
    """Watch a directory for NEW raw PDF files and emit north-rule docs
    rows (or, with ``extract=True``, fully extracted span rows) — the
    streaming twin of ``pdf.file.ingest_pdf_files``, sharing its
    ``pdf_files_to_docs`` kernel so batch and streaming ingestion are
    semantically identical by construction. The file source tracks
    processed files in the checkpoint (at-least-once replay on crash),
    and each micro-batch lands through the deterministic flat sink
    (``_write_batch_idempotent``), so replayed batches converge to
    exactly-once OUTPUT rather than duplicating rows (foreachBatch alone
    is only at-least-once). ``maxFilesPerTrigger`` bounds micro-batch
    memory (whole PDFs ride the rows).

    With ``extract=True`` the per-file failure accounting is NOT
    dropped: failed files land as (doc_id, error) rows under
    ``<output_dir>_errors``.

    Read the result with ``spark.read.parquet(output_dir)`` — the schema
    is exactly the batch kernel's. Returns the StreamingQuery (caller
    awaits termination)."""
    from docling_parse_spark.pdf.file import pdf_files_to_docs

    stream = (
        spark.readStream.format("binaryFile")
        # streaming sources require an explicit schema; this is
        # binaryFile's fixed one
        .schema("path string, modificationTime timestamp, "
                "length long, content binary")
        .option("pathGlobFilter", glob)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(input_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        docs = pdf_files_to_docs(batch_df, password=password)
        if extract:
            # two writes consume the parse output — persist or every PDF
            # in the batch is parsed twice
            docs = docs.persist()
            try:
                _write_batch_idempotent(
                    docs.filter(F.col("error").isNotNull()).select(
                        "doc_id", "error"),
                    f"{output_dir}_errors", batch_id,
                )
                _write_batch_idempotent(
                    extract_spans(docs.drop("error")), output_dir, batch_id)
            finally:
                docs.unpersist()
        else:
            _write_batch_idempotent(docs, output_dir, batch_id)

    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
