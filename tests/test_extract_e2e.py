"""End-to-end pipeline tests: the north-rule invariant.

Distributed result == sequential oracle, exactly, per doc_id, as ordered
``(kind, text, media_ref, offset)`` arrays — the analog of the reference's
index-aligned golden comparison (tests/test_parse.py:177-244) and its
threaded == sequential invariant (tests/test_threaded_parse.py:278).
"""

import pytest

from docling_parse_spark.corpus import corpus_to_spark_rows, generate_corpus
from docling_parse_spark.document import decode_document
from docling_parse_spark.extract import extract_spans
from docling_parse_spark.schemas import SPANS_TABLE_SCHEMA

N_DOCS = 60


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(N_DOCS, seed=42)


@pytest.fixture(scope="module")
def oracle_result(corpus):
    return {
        d["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in decode_document(d["doc_id"], d["spans"])
        ]
        for d in corpus
    }


def spark_result(spark, corpus, num_partitions):
    docs_df = spark.createDataFrame(corpus_to_spark_rows(corpus), schema=SPANS_TABLE_SCHEMA)
    out = extract_spans(docs_df, num_partitions=num_partitions)
    rows = out.collect()
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in rows
    }


def test_spark_matches_oracle(spark, corpus, oracle_result):
    got = spark_result(spark, corpus, num_partitions=8)
    assert set(got) == set(oracle_result)
    for doc_id in oracle_result:
        assert got[doc_id] == oracle_result[doc_id], f"span mismatch in {doc_id}"


def test_partitioning_invariance(spark, corpus, oracle_result):
    """Same output at different parallelism — the reference's
    threaded==sequential test, Spark edition."""
    for n in (1, 3, 16):
        got = spark_result(spark, corpus, num_partitions=n)
        assert got == oracle_result, f"mismatch at num_partitions={n}"


def test_metrics(spark, corpus):
    docs_df = spark.createDataFrame(corpus_to_spark_rows(corpus), schema=SPANS_TABLE_SCHEMA)
    spans, metrics = extract_spans(docs_df, with_metrics=True, lineage="test-run")
    m = metrics.collect()
    total_pages = sum(r["pages_parsed"] for r in m)
    n_units = sum(
        1 for d in corpus for s in d["spans"] if s["kind"] in ("pdf_ops", "html")
    )
    assert total_pages == n_units
    assert sum(r["decode_failures"] for r in m) == 0
    assert sum(r["cells_emitted"] for r in m) > 0
    assert all(r["lineage"] == "test-run" for r in m)


def test_page_range_scan(spark, corpus, oracle_result):
    """page_numbers subset: only the first decodable unit per doc decodes —
    the reference's page-range scheduling analog."""
    docs_df = spark.createDataFrame(corpus_to_spark_rows(corpus), schema=SPANS_TABLE_SCHEMA)
    out = extract_spans(docs_df, num_partitions=4, page_numbers=[0])
    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"]) for s in r["spans"]]
        for r in out.collect()
    }
    # every doc's page-0 output is a prefix of its full output
    for doc_id, full in oracle_result.items():
        sub = got[doc_id]
        assert sub == [(k, t, r) for (k, t, r, _) in full][: len(sub)]
        assert len(sub) <= len(full)
    # at least one multi-page doc was actually truncated
    assert any(len(got[d]) < len(oracle_result[d]) for d in got)


def test_output_schema(spark, corpus):
    docs_df = spark.createDataFrame(corpus_to_spark_rows(corpus), schema=SPANS_TABLE_SCHEMA)
    out = extract_spans(docs_df)
    assert [f.name for f in out.schema.fields] == ["doc_id", "spans"]
    span_type = out.schema["spans"].dataType.elementType
    assert [f.name for f in span_type.fields] == ["kind", "text", "media_ref", "offset"]


def test_form_xobject_in_document_pipeline():
    """pdf_form spans reach the interpreter's recursive Do path end-to-end
    (reference stream.h:374-503): form text appears in the output spans."""
    import json

    from docling_parse_spark.corpus import FONT_HELV
    from docling_parse_spark.document import decode_document

    spans = [
        {"kind": "pdf_font", "text": json.dumps(FONT_HELV), "media_ref": None, "offset": 0},
        {"kind": "pdf_form",
         "text": json.dumps({"name": "Fm0",
                             "ops": "BT /F1 10 Tf 0 0 Td (inner) Tj ET",
                             "matrix": [1, 0, 0, 1, 5, 5]}),
         "media_ref": None, "offset": 1},
        {"kind": "pdf_form",
         "text": json.dumps({"name": "Fm1",
                             "ops": "q 2 0 0 2 0 0 cm /Fm0 Do Q",
                             "matrix": [1, 0, 0, 1, 0, 50]}),
         "media_ref": None, "offset": 2},
        {"kind": "pdf_ops",
         "text": "BT /F1 10 Tf 72 700 Td (outer) Tj ET "
                 "q 1 0 0 1 100 100 cm /Fm0 Do Q /Fm1 Do",
         "media_ref": None, "offset": 3},
    ]
    out = decode_document("d", spans)
    texts = [s["text"] for s in out if s["kind"] == "text"]
    assert "outer" in texts
    assert texts.count("inner") == 2  # direct Do + nested through Fm1


def test_null_spans_row_flows_as_empty_doc(spark):
    """Round-4 review: a NULL spans array (nullable in the schema) must
    surface as an empty doc, not a TypeError task kill."""
    from docling_parse_spark.extract import extract_doc_meta, extract_spans
    from docling_parse_spark.schemas import SPANS_TABLE_SCHEMA

    docs = spark.createDataFrame([("doc-null", None)], schema=SPANS_TABLE_SCHEMA)
    out = extract_spans(docs, num_partitions=2).collect()
    assert len(out) == 1 and out[0]["doc_id"] == "doc-null" and out[0]["spans"] == []
    meta = extract_doc_meta(docs).collect()
    assert len(meta) == 1


def test_extract_cells_survives_malformed_font_blob(spark):
    """Round-4 review: a doc whose pdf_font span is invalid JSON must cost
    that page its cells, not the whole job."""
    from docling_parse_spark.extract import extract_cells
    from docling_parse_spark.schemas import SPANS_TABLE_SCHEMA

    good_font = ('{"font_key": "F0", "base_font": "Helvetica", "subtype": "Type1",'
                 ' "encoding": "WinAnsiEncoding", "first_char": 32,'
                 ' "widths": [500.0]}')
    rows = [
        ("doc-bad", [
            {"kind": "pdf_font", "text": "{not json", "media_ref": None, "offset": 0},
            {"kind": "pdf_ops", "text": "BT /F0 10 Tf (A) Tj ET", "media_ref": None, "offset": 1},
        ]),
        ("doc-good", [
            {"kind": "pdf_font", "text": good_font, "media_ref": None, "offset": 0},
            {"kind": "pdf_ops", "text": "BT /F0 10 Tf (B) Tj ET", "media_ref": None, "offset": 1},
        ]),
    ]
    docs = spark.createDataFrame(rows, schema=SPANS_TABLE_SCHEMA)
    cells = extract_cells(docs, num_partitions=2).collect()
    assert {r["doc_id"] for r in cells} == {"doc-good"}  # bad doc skipped, job alive


def test_hostile_nested_json_resource_is_per_doc_failure(spark):
    """Round-4 review: RecursionError from absurdly nested JSON in a
    resource span must not escape the routing layer."""
    from docling_parse_spark.document import decode_document

    bomb = "[" * 3000 + "]" * 3000
    spans = [
        {"kind": "pdf_form", "text": bomb, "media_ref": None, "offset": 0},
        {"kind": "pdf_outline", "text": bomb, "media_ref": None, "offset": 1},
        {"kind": "html", "text": "<p>alpha beta gamma delta epsilon zeta</p>",
         "media_ref": None, "offset": 2},
    ]
    out = decode_document("doc-bomb", spans)  # must not raise
    assert any(s["kind"] == "text" for s in out)


def test_doc_level_content_filters_reach_decode(spark):
    """Round-4 review: content_filters declared in the pdf_page descriptor
    must reach decode_unit — the doc-level path for /Filter transport."""
    import base64
    import json as _json
    import zlib

    from docling_parse_spark.document import decode_document

    font = _json.dumps({"font_key": "F0", "base_font": "Helvetica",
                        "subtype": "Type1", "encoding": "WinAnsiEncoding",
                        "first_char": 32, "widths": [500.0] * 95})
    stream = b"BT /F0 12 Tf 10 700 Td (doc level filtered) Tj ET"
    enc = (base64.a85encode(zlib.compress(stream)) + b"~>").decode("ascii")
    desc = _json.dumps({"page": 0, "media_box": [0, 0, 612, 792], "rotate": 0,
                        "content_filters": ["/ASCII85Decode", "/FlateDecode"]})
    spans = [
        {"kind": "pdf_font", "text": font, "media_ref": None, "offset": 0},
        {"kind": "pdf_page", "text": desc, "media_ref": None, "offset": 1},
        {"kind": "pdf_ops", "text": enc, "media_ref": None, "offset": 2},
    ]
    bare = [
        {"kind": "pdf_font", "text": font, "media_ref": None, "offset": 0},
        {"kind": "pdf_page", "text": _json.dumps({"page": 0, "media_box": [0, 0, 612, 792], "rotate": 0}),
         "media_ref": None, "offset": 1},
        {"kind": "pdf_ops", "text": stream.decode("ascii"), "media_ref": None, "offset": 2},
    ]
    assert decode_document("d", spans) == decode_document("d", bare)


def test_reassemble_refuses_int32_offset_overflow():
    """A batch whose span total exceeds int32 raises instead of wrapping
    the list offsets."""
    import numpy as np

    from docling_parse_spark.extract import int32_offsets

    assert int32_offsets(np.array([0, 3, 2**31 - 1])).to_pylist() == [0, 3, 2**31 - 1]
    with pytest.raises(ValueError, match="int32 list-offset limit"):
        int32_offsets(np.array([0, 5, 2**31]))
