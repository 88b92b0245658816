"""Structured Streaming tests: streaming == batch, idempotent replay, streamable curation."""

import pytest

from docling_parse_spark.corpus import corpus_to_spark_rows, generate_corpus
from docling_parse_spark.document import decode_document
from docling_parse_spark.schemas import SPANS_TABLE_SCHEMA
from docling_parse_spark.streaming.pipeline import stream_extract


def test_stream_extract_matches_oracle(spark, tmp_path):
    corpus = generate_corpus(20, seed=11)
    docs_df = spark.createDataFrame(corpus_to_spark_rows(corpus), schema=SPANS_TABLE_SCHEMA)
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    docs_df.repartition(4).write.parquet(in_dir)

    q = stream_extract(spark, in_dir, out_dir, ckpt, num_partitions=4)
    q.awaitTermination(120)

    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in spark.read.parquet(out_dir).collect()
    }
    expected = {
        d["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in decode_document(d["doc_id"], d["spans"])
        ]
        for d in corpus
    }
    assert got == expected


def test_stream_resume_no_duplicates(spark, tmp_path):
    """Restarting the stream with the same checkpoint reprocesses nothing."""
    corpus = generate_corpus(8, seed=3)
    docs_df = spark.createDataFrame(corpus_to_spark_rows(corpus), schema=SPANS_TABLE_SCHEMA)
    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    docs_df.write.parquet(in_dir)
    stream_extract(spark, in_dir, out_dir, ckpt, num_partitions=2).awaitTermination(120)
    n1 = spark.read.parquet(out_dir).count()
    stream_extract(spark, in_dir, out_dir, ckpt, num_partitions=2).awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == n1 == 8


def test_stream_crash_replay_no_duplicate_spans(spark, tmp_path):
    """Simulate the at-least-once crash window: the batch's output was
    written but the checkpoint commit was lost (delete commits/0), so the
    restarted stream REPLAYS batch 0. The per-batch overwrite sink must
    converge to exactly-once output — zero duplicate spans."""
    import os

    corpus = generate_corpus(8, seed=7)
    docs_df = spark.createDataFrame(corpus_to_spark_rows(corpus), schema=SPANS_TABLE_SCHEMA)
    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    docs_df.write.parquet(in_dir)
    stream_extract(spark, in_dir, out_dir, ckpt, num_partitions=2).awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == 8
    # lose the commit marker: output exists, checkpoint says batch 0 never
    # finished -> restart replays it against the already-written output
    os.remove(os.path.join(ckpt, "commits", "0"))
    crc = os.path.join(ckpt, "commits", ".0.crc")
    if os.path.exists(crc):  # checksum sidecar blocks the commit rewrite
        os.remove(crc)
    stream_extract(spark, in_dir, out_dir, ckpt, num_partitions=2).awaitTermination(120)
    out = spark.read.parquet(out_dir)
    assert out.count() == 8
    assert out.select("doc_id").distinct().count() == 8
    # r6 review: the sink must not smuggle a `batch` partition column into
    # the read schema — streamed spans stay schema-identical to batch output
    assert out.columns == ["doc_id", "spans"]


def test_stream_sink_coexists_with_legacy_flat_output(spark, tmp_path):
    """r6 review: upgrading in place must keep reading an output dir that
    already holds flat part-*.parquet files from the old append sink —
    the idempotent sink writes flat files too, so both generations mix."""
    corpus = generate_corpus(6, seed=5)
    docs_df = spark.createDataFrame(corpus_to_spark_rows(corpus), schema=SPANS_TABLE_SCHEMA)
    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    docs_df.write.parquet(in_dir)
    # legacy generation: a flat append-sink write of 2 pre-existing docs
    from docling_parse_spark.extract import extract_spans

    legacy = spark.createDataFrame(
        corpus_to_spark_rows(generate_corpus(2, seed=99)), schema=SPANS_TABLE_SCHEMA)
    extract_spans(legacy).write.mode("append").parquet(out_dir)
    stream_extract(spark, in_dir, out_dir, ckpt, num_partitions=2).awaitTermination(120)
    out = spark.read.parquet(out_dir)
    assert out.count() == 8 and out.columns == ["doc_id", "spans"]


def test_curate_stream_runs_on_streaming_frame(spark, tmp_path):
    """curate_stream is genuinely streamable (narrow ops only) and its
    micro-batch output equals the batch result on the same rows."""
    from pyspark.sql import functions as F

    from docling_parse_spark.streaming.pipeline import curate_stream

    rows = [
        (1, "s", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "s", "mail bob@x.io alpha beta gamma delta epsilon zeta eta theta"),
        (3, "s", "too short"),
    ]
    schema = "doc_id long, source string, text string"
    batch_df = spark.createDataFrame(rows, schema)
    in_dir = str(tmp_path / "in")
    batch_df.write.parquet(in_dir)

    stream = spark.readStream.schema(schema).parquet(in_dir)
    curated = curate_stream(stream)
    assert curated.isStreaming
    q = (
        curated.writeStream.format("memory").queryName("curated_t")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {r["doc_id"]: r["text"] for r in spark.sql("SELECT * FROM curated_t").collect()}
    expect = {r["doc_id"]: r["text"] for r in curate_stream(batch_df).collect()}
    assert got == expect
    assert set(got) == {1, 2} and "[EMAIL]" in got[2]
