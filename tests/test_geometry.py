"""Geometry operators: kernel tests (pure) + relational tests (Spark)."""

import pytest

from docling_parse_spark.operators.geometry import merge_overlapping_boxes, shape_lines


def test_merge_overlapping_boxes():
    boxes = [(0, 0, 10, 10), (5, 5, 15, 15), (100, 100, 110, 110)]
    comps = merge_overlapping_boxes(boxes)
    assert sorted(comps) == [(0, 0, 15, 15), (100, 100, 110, 110)]


def test_merge_chain():
    # a-b overlap, b-c overlap, a-c don't: still one component
    boxes = [(0, 0, 10, 10), (8, 0, 20, 10), (18, 0, 30, 10)]
    assert merge_overlapping_boxes(boxes) == [(0, 0, 30, 10)]


def test_shape_lines_kernel():
    import json

    from docling_parse_spark.pdf.fonts import font_from_json
    from docling_parse_spark.pdf.interpreter import PageInterpreter
    from docling_parse_spark.pdf.tokenizer import tokenize

    it = PageInterpreter({})
    it.run(tokenize(b"1 w 0 G 72 100 m 272 100 l S 150 50 m 150 350 l S 0 0 m 50 50 l S"))
    h = shape_lines(it.shapes, horizontal=True, vertical=False)
    v = shape_lines(it.shapes, horizontal=False, vertical=True)
    assert h == [(72.0, 100.0, 272.0, 100.0)]
    assert v == [(150.0, 50.0, 150.0, 350.0)]


@pytest.fixture(scope="module")
def cells_df(spark):
    from docling_parse_spark.corpus import corpus_to_spark_rows, generate_corpus
    from docling_parse_spark.extract import extract_cells
    from docling_parse_spark.schemas import SPANS_TABLE_SCHEMA

    docs = spark.createDataFrame(
        corpus_to_spark_rows(generate_corpus(12, seed=5)), schema=SPANS_TABLE_SCHEMA
    )
    return extract_cells(docs, num_partitions=4).cache()


@pytest.mark.parametrize("encrypted", [False, True])
def test_extract_cells_matches_fixture(spark, encrypted):
    """The cells table over the fixture corpus equals fixtures/mini_cells.parquet
    row for row, at two partition counts; the encrypted twins decode to the
    same cells as the plain ones the fixture pins."""
    import os

    import pandas as pd

    from docling_parse_spark.corpus import (
        corpus_to_spark_rows,
        generate_corpus,
        generate_pdf_file_docs,
    )
    from docling_parse_spark.extract import extract_cells
    from docling_parse_spark.schemas import SPANS_TABLE_SCHEMA

    cols = ["doc_id", "page", "cell_idx", "text", "x0", "y0", "x1", "y1", "rendering_mode"]
    key = ["doc_id", "page", "cell_idx"]
    fixture = os.path.join(os.path.dirname(os.path.dirname(__file__)), "fixtures", "mini_cells.parquet")
    expected = pd.read_parquet(fixture)[cols].sort_values(key).reset_index(drop=True)
    docs = spark.createDataFrame(
        corpus_to_spark_rows(generate_corpus(60, seed=42) + generate_pdf_file_docs(encrypted=encrypted)),
        schema=SPANS_TABLE_SCHEMA,
    )
    for n in (3, 8):
        got = (
            extract_cells(docs, num_partitions=n).select(*cols).toPandas()
            .sort_values(key).reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got, expected, check_exact=True)


def test_extract_cells_schema_and_content(cells_df):
    rows = cells_df.collect()
    assert len(rows) > 0
    r = rows[0]
    assert r["x1"] >= r["x0"] and r["y1"] >= r["y0"]
    assert cells_df.filter("text = ''").count() == 0


def test_intersects_with(spark, cells_df):
    from docling_parse_spark.operators.geometry import intersects_with

    # full-page bbox: every page with cells intersects
    out = intersects_with(cells_df, 0, 0, 10000, 10000)
    assert out.filter("NOT intersects").count() == 0
    # empty corner bbox: nothing intersects
    out2 = intersects_with(cells_df, -500, -500, -400, -400)
    assert out2.filter("intersects").count() == 0


def test_connected_components(spark, cells_df):
    from docling_parse_spark.operators.geometry import connected_bbox_components

    comps = connected_bbox_components(cells_df, tol=0.5)
    n_cells = cells_df.count()
    n_comps = comps.count()
    assert 0 < n_comps <= n_cells
    # every component envelope has positive area-ish extent
    assert comps.filter("x1 < x0 OR y1 < y0").count() == 0
