"""The distributed extraction pipeline: docs table -> spans table + metrics.

Plan shape (SURVEY.md §7, Catalyst-friendly — scan → narrow UDF → shuffle →
UDF → groupBy/sort_array → sink):

1. ``route_units``: ``mapInPandas`` single-scan skew routing, the only
   router. Light docs pass through whole (one ``__doc__`` row, decoded
   fused); heavier docs split into self-contained work units at PDF-page
   granularity — the skew/salting step. A 6400-page doc becomes 6400
   independent units instead of one straggler task (reference analog: the
   page-level task queue, src/pybind/docling_threaded_base.h:104-105).
   ``SPLIT_ALL`` as the threshold splits every doc.
2. ``repartition(n, doc_id, page)``: hash shuffle spreads units uniformly
   across executors regardless of document skew.
3. ``decode``: ONE ``mapInArrow`` pass runs the pure-Python kernels per unit
   (``document.decode_unit``, the same call the sequential oracle makes),
   emitting ONE row per unit: the unit's ordered span ARRAY plus flat
   accounting columns (``DECODED_DDL``). The reassembly shuffle then
   moves O(pages) rows, not O(spans) rows (~90× fewer rows for the same
   bytes; measured ~1.4× end-to-end at local[32]).
4. ``reassemble``: ``groupBy(doc_id).agg(sort_array(collect_list(struct(page,
   spans))))`` — deterministic content order from the (page) key, never from
   partition arrival order — then one Arrow pass flattens and stamps dense
   offsets.

Metrics (pages_parsed / cells_emitted / decode_failures / stage times) are a
plain aggregate (``accounting_aggs``) over the accounting columns of the same
decoded rows: per partition in ``metrics_table``, or as an ``Observation`` on
the decode in checkpoint.py. Nothing is persisted.
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from docling_parse_spark.document import decode_unit, doc_to_units
from docling_parse_spark.pdf.page import DecodeConfig

# per-stage timing keys, one ``<key>_ms`` column each (reference pdf_timings
# parity, src/parse/utils/pdf_timings.h:32-99: decode_resources,
# decode_contents [tokenize+interpret], decode_annots, create_word/line_cells
# ≙ merge); null when the stage did not run for the unit
STAGE_KEYS = ("resources", "tokenize", "interpret", "merge", "annots", "html")

# one row per decoded unit: its span array, then the unit's accounting —
# cells emitted, failure flag, UnitResult.error (null when OK), wall ms of
# decode_unit and one ms column per stage
DECODED_DDL = (
    "doc_id string, page int, "
    "unit_spans array<struct<kind:string,text:string,media_ref:string>>, "
    "cells int, failed boolean, error string, decode_ms double, "
    + ", ".join(f"{k}_ms double" for k in STAGE_KEYS)
)

# routed rows: either a whole light doc (unit_kind='__doc__', doc_spans set)
# or one heavy-doc page unit (payload/resources set) — union schema so the
# light/heavy split needs only ONE scan of the input (VERDICT r01 §perf).
# ``page`` is the deterministic content-order key: reassembly sorts on it,
# never on partition arrival order (the reference re-sorts threaded
# completion-order results the same way: docling_parse/pdf_parser.py:1583-1602).
ROUTED_DDL = (
    "doc_id string, page int, unit_kind string, payload string, resources string, "
    "doc_spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)

SPLIT_ALL = -1  # route_units threshold that splits every doc into its units


def route_units(docs_df: DataFrame, heavy_span_threshold: int) -> DataFrame:
    """Single-scan skew routing (cheap string work, no decode): light docs
    pass through whole (one row, spans attached) so their decode stays fused;
    docs over ``heavy_span_threshold`` input spans are split to page units so
    one mega-doc never serializes a task (SURVEY.md §7.4 #4)."""

    def route(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
                # Arrow delivers array<struct> elements as plain dicts with
                # exactly the doc_spans schema keys — pass them through;
                # routing itself needs only the span count. A NULL spans
                # array is an empty doc, not a crash (round-4 review).
                if spans is None:
                    spans = []
                if len(spans) <= heavy_span_threshold:
                    rows.append(
                        {"doc_id": doc_id, "page": 0, "unit_kind": "__doc__",
                         "payload": None, "resources": None, "doc_spans": list(spans)}
                    )
                else:
                    for unit in doc_to_units(doc_id, spans):
                        unit = dict(unit)
                        unit["doc_spans"] = None
                        rows.append(unit)
            yield pd.DataFrame(
                rows, columns=["doc_id", "page", "unit_kind", "payload", "resources", "doc_spans"]
            )

    return docs_df.mapInPandas(route, schema=ROUTED_DDL)


def decode(routed_df: DataFrame, config: DecodeConfig | None = None) -> DataFrame:
    """The one decode pass over ``route_units`` rows, Arrow-native
    (``mapInArrow``): '__doc__' rows run the fused per-doc loop, unit rows
    decode individually. One output row per decoded unit (``DECODED_DDL``).

    Input columns convert to Python lists once per batch; output spans
    accumulate as flat kind/text/ref lists + offsets assembled with
    ``pa.StructArray``/``pa.ListArray.from_arrays`` — one vectorized C
    construction per batch, no per-row struct conversion (guide §4.2). The
    flat accounting columns cost a few list appends per unit. Failed units
    contribute an empty span array and their ``error``."""
    cfg_dict = (config or DecodeConfig()).__dict__.copy()

    def run(batches):
        import pyarrow as pa

        span_t = pa.struct(
            [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string())]
        )
        span_fields = [span_t.field(i) for i in range(3)]
        out_schema = pa.schema(
            [("doc_id", pa.string()), ("page", pa.int32()),
             ("unit_spans", pa.list_(span_t)), ("cells", pa.int32()),
             ("failed", pa.bool_()), ("error", pa.string()),
             ("decode_ms", pa.float64())]
            + [(f"{k}_ms", pa.float64()) for k in STAGE_KEYS]
        )
        config_local = DecodeConfig(**cfg_dict)
        fonts_cache: dict = {}
        clock = time.perf_counter
        for batch in batches:
            doc_ids = batch.column("doc_id").to_pylist()
            pages = batch.column("page").to_pylist()
            kinds_in = batch.column("unit_kind").to_pylist()
            payloads = batch.column("payload").to_pylist()
            resources = batch.column("resources").to_pylist()
            doc_spans = batch.column("doc_spans").to_pylist()
            o_doc: list = []
            o_page: list = []
            offsets = [0]
            f_kind: list = []
            f_text: list = []
            f_ref: list = []
            cells: list = []
            failed: list = []
            errors: list = []
            ms: list = []
            stage_ms: list = [[] for _ in STAGE_KEYS]
            for i, doc_id in enumerate(doc_ids):
                unit_kind = kinds_in[i]
                if unit_kind == "__doc__":
                    # fused light doc: in-process hand-off, resources stay
                    # dicts (no JSON dumps+loads per page)
                    units = doc_to_units(doc_id, doc_spans[i], serialize=False)
                else:
                    units = [{"unit_kind": unit_kind, "payload": payloads[i],
                              "page": pages[i], "resources": resources[i]}]
                for unit in units:
                    t0 = clock()
                    ur = decode_unit(
                        unit["unit_kind"], unit["payload"], unit["page"],
                        unit["resources"], config_local, fonts_cache,
                    )
                    ms.append((clock() - t0) * 1000.0)
                    for _, k, t, r in ur.spans:
                        f_kind.append(k)
                        f_text.append(t)
                        f_ref.append(r)
                    offsets.append(len(f_kind))
                    o_doc.append(doc_id)
                    o_page.append(unit["page"])
                    cells.append(ur.cells_emitted)
                    failed.append(ur.failed)
                    errors.append(ur.error or None)
                    timings = ur.timings or {}
                    for key, col in zip(STAGE_KEYS, stage_ms):
                        col.append(timings.get(key))
            struct_arr = pa.StructArray.from_arrays(
                [pa.array(f_kind, pa.string()), pa.array(f_text, pa.string()),
                 pa.array(f_ref, pa.string())],
                fields=span_fields,
            )
            yield pa.RecordBatch.from_arrays(
                [pa.array(o_doc, pa.string()), pa.array(o_page, pa.int32()),
                 pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), struct_arr),
                 pa.array(cells, pa.int32()), pa.array(failed, pa.bool_()),
                 pa.array(errors, pa.string()), pa.array(ms, pa.float64())]
                + [pa.array(col, pa.float64()) for col in stage_ms],
                schema=out_schema,
            )

    return routed_df.mapInArrow(run, schema=DECODED_DDL)


# Former names of the decode pass, kept as aliases because the benchmark's
# traced run (perfbench/trace_run.py) imports them to time the decode layer.
decode_routed = decode_slim = decode


def extract_cells(docs_df: DataFrame, config: DecodeConfig | None = None,
                  num_partitions: int | None = None) -> DataFrame:
    """Cell-level output table (FIXTURES.md §6 golden record): one row per
    positioned output cell with axis bbox + font + provenance — the substrate
    for the geometry operators (operators/geometry.py)."""
    from docling_parse_spark.operators.geometry import CELLS_DDL
    from docling_parse_spark.pdf.page import build_fonts, decode_page, parse_page_descriptor

    spark = docs_df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    units = (
        route_units(docs_df, SPLIT_ALL)
        .filter(F.col("unit_kind") == "pdf")
        .select("doc_id", "page", "payload", "resources")
        .repartition(n, "doc_id", "page")
    )
    cfg_dict = (config or DecodeConfig()).__dict__.copy()

    def decode_cells(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import json as _json

        from docling_parse_spark.document import build_forms

        cfg = DecodeConfig(**cfg_dict)
        fonts_cache: dict = {}
        for pdf in batches:
            rows = []
            for doc_id, page, payload, resources in zip(
                pdf["doc_id"], pdf["page"], pdf["payload"], pdf["resources"]
            ):
                # same failure posture as decode_unit (round-4 review: a
                # malformed pdf_font blob raised out of build_fonts here
                # and killed the task): a failed page yields zero cells,
                # matching decode_page's own internal-failure behavior
                try:
                    res = _json.loads(resources) if resources else {}
                    key = tuple(res.get("fonts", []))
                    if key not in fonts_cache:
                        fonts_cache[key] = build_fonts(res.get("fonts", []))
                    content = (payload or "").encode("utf-8", "surrogateescape")
                    if res.get("content_filters"):
                        from docling_parse_spark.pdf.filters import apply_filters

                        content = apply_filters(
                            content, res["content_filters"], res.get("content_parms")
                        )
                    pr = decode_page(
                        content,
                        fonts_cache[key],
                        images=res.get("media") or {},
                        forms=build_forms(res.get("forms"), fonts_cache),
                        colorspaces=res.get("colorspaces") or {},
                        page_desc=parse_page_descriptor(res.get("page_desc")),
                        config=cfg,
                    )
                except Exception:
                    continue
                for i, c in enumerate(pr.cells):
                    rows.append(
                        (doc_id, int(page), i, c.text, c.x0, c.y0, c.x1, c.y1,
                         c.font_key, c.font_name, c.rendering_mode,
                         c.left_to_right, c.block_count, c.instr_count)
                    )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "page", "cell_idx", "text", "x0", "y0", "x1", "y1",
                         "font_key", "font_name", "rendering_mode",
                         "left_to_right", "block_count", "instr_count"],
            )

    return units.mapInPandas(decode_cells, schema=CELLS_DDL)


DOC_META_DDL = (
    "doc_id string, title string, author string, subject string, "
    "keywords string, created string, modified string, "
    "outline array<struct<level:int,title:string,page:int>>, "
    "n_fields int, field_names array<string>"
)


def extract_doc_meta(docs_df: DataFrame) -> DataFrame:
    """Doc-level metadata table: XMP-style info + flattened outline (TOC) +
    AcroForm field summary (reference document.h:140-181,
    pdf_parser.py:796-899). Narrow mapInPandas — no shuffle, one row per doc."""
    from docling_parse_spark.document import doc_meta

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
                m = doc_meta(spans if spans is not None else [])
                meta = m["meta"]
                rows.append((
                    doc_id, meta["title"], meta["author"], meta["subject"],
                    meta["keywords"], meta["created"], meta["modified"],
                    [{"level": l, "title": t, "page": p} for l, t, p in m["outline"]],
                    len(m["fields"]), m["fields"],
                ))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "title", "author", "subject", "keywords",
                         "created", "modified", "outline", "n_fields", "field_names"],
            )

    return docs_df.mapInPandas(run, schema=DOC_META_DDL)


def int32_offsets(bounds):
    """List offsets as the int32 array Spark's Arrow list type requires;
    raises instead of wrapping when a batch's span total exceeds int32."""
    import pyarrow as pa

    if int(bounds[-1]) >= 2**31:
        raise ValueError(
            f"reassemble: an Arrow batch of {len(bounds) - 1} docs holds "
            f"{int(bounds[-1])} spans, over the int32 list-offset limit; "
            "lower spark.sql.execution.arrow.maxRecordsPerBatch"
        )
    return pa.array(bounds, pa.int32())


def reassemble(decoded_df: DataFrame) -> DataFrame:
    """Per-unit span arrays -> north-rule spans table with dense per-doc
    offsets from deterministic content order (sort on the page key, flatten,
    index-stamp; failed units contribute an empty array but keep the doc in
    the output).

    The grouping + page-sort stay JVM-side (one exchange +
    ObjectHashAggregate); the flatten + offset stamping is one vectorized
    Arrow pass: flatten is an offsets-array operation on the existing
    buffers and the dense offsets are one arange minus a repeat (guide
    §4.2's re-slice-don't-rebuild property). Span order and offset values
    are deterministic by construction: pages arrive sorted by the page key
    from sort_array, flatten preserves order, and the stamped offset is the
    span's position in that order."""
    pages = F.sort_array(F.collect_list(F.struct("page", "unit_spans")))
    grouped = decoded_df.groupBy("doc_id").agg(pages.alias("pages"))

    def stamp(batches):
        import numpy as _np
        import pyarrow as pa

        out_schema = None
        for batch in batches:
            doc = batch.column("doc_id")
            pages_col = batch.column("pages")
            if out_schema is None:
                span_t = pa.struct(
                    [("kind", pa.string()), ("text", pa.string()),
                     ("media_ref", pa.string()), ("offset", pa.int32())]
                )
                out_schema = pa.schema(
                    [("doc_id", pa.string()), ("spans", pa.list_(span_t))]
                )
                span_fields = [span_t.field(i) for i in range(4)]
            n = batch.num_rows
            units = pages_col.flatten()  # struct<page, unit_spans>, doc order kept
            unit_spans = units.field("unit_spans")
            spans_flat = unit_spans.flatten()  # struct3, global span order
            # spans per doc = sum of its units' span counts (pure offsets math)
            units_per_doc = pa.compute.list_value_length(pages_col).to_numpy(
                zero_copy_only=False
            )
            spans_per_unit = pa.compute.list_value_length(unit_spans).to_numpy(
                zero_copy_only=False
            )
            # NULL unit_spans cannot occur (decode always emits an array),
            # but degrade deterministically if one did
            spans_per_unit = _np.nan_to_num(spans_per_unit).astype(_np.int64)
            unit_bounds = _np.zeros(n + 1, dtype=_np.int64)
            _np.cumsum(_np.nan_to_num(units_per_doc).astype(_np.int64),
                       out=unit_bounds[1:])
            span_cum = _np.zeros(len(spans_per_unit) + 1, dtype=_np.int64)
            _np.cumsum(spans_per_unit, out=span_cum[1:])
            doc_bounds = span_cum[unit_bounds]  # span start per doc boundary
            list_offsets = int32_offsets(doc_bounds)
            spans_per_doc = doc_bounds[1:] - doc_bounds[:-1]
            total = int(doc_bounds[-1])
            # dense per-doc offsets: global position minus the doc's start
            off = _np.arange(total, dtype=_np.int32) - _np.repeat(
                doc_bounds[:-1], spans_per_doc
            ).astype(_np.int32)
            stamped = pa.StructArray.from_arrays(
                [
                    spans_flat.field("kind"),
                    spans_flat.field("text"),
                    spans_flat.field("media_ref"),
                    pa.array(off, pa.int32()),
                ],
                fields=span_fields,
            )
            spans_arr = pa.ListArray.from_arrays(list_offsets, stamped)
            yield pa.RecordBatch.from_arrays([doc, spans_arr], schema=out_schema)

    return grouped.mapInArrow(
        stamp,
        schema=(
            "doc_id string, spans array<struct<"
            "kind:string,text:string,media_ref:string,offset:int>>"
        ),
    )


def accounting_aggs() -> list[Column]:
    """Aggregates of the decode's accounting columns under the metrics-table
    names (FIXTURES.md §3). Plain sums over any set of decoded rows: a
    partition (``metrics_table``) or a checkpoint bucket's Observation.
    Empty input yields zero counts and null doc-id bounds."""
    return [
        F.min("doc_id").alias("doc_id_min"),
        F.max("doc_id").alias("doc_id_max"),
        F.count(F.lit(1)).alias("pages_parsed"),
        F.coalesce(F.sum("cells"), F.lit(0)).cast("long").alias("cells_emitted"),
        F.coalesce(F.sum(F.col("failed").cast("long")), F.lit(0)).alias("decode_failures"),
        *[
            F.round(F.coalesce(F.sum(f"{k}_ms"), F.lit(0.0)), 3).alias(f"{k}_ms_total")
            for k in ("decode",) + STAGE_KEYS
        ],
    ]


def metrics_table(decoded_df: DataFrame, lineage: str = "") -> DataFrame:
    """Per-partition extraction metrics (FIXTURES.md §3) — the analog of the
    reference's per-page timings/metrics maps (utils/pdf_timings.h:32-99)."""
    return (
        decoded_df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(*accounting_aggs())
        .withColumn("lineage", F.lit(lineage))
    )


def decoded_units(
    docs_df: DataFrame,
    config: DecodeConfig | None = None,
    num_partitions: int | None = None,
    heavy_span_threshold: int = 24,
    page_numbers: list[int] | None = None,
) -> DataFrame:
    """docs table -> routed, shuffled and decoded units (``DECODED_DDL``),
    the input of ``reassemble`` and of the accounting aggregates."""
    spark = docs_df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    if page_numbers is None:
        routed = route_units(docs_df, heavy_span_threshold)
    else:
        # unit subset: decode only the nth decodable units per doc (the pdf
        # page number for pdf docs); filtering happens BEFORE any decode
        from pyspark.sql import Window

        w = Window.partitionBy("doc_id").orderBy("page")
        routed = (
            route_units(docs_df, SPLIT_ALL)
            .withColumn("unit_no", F.row_number().over(w) - 1)
            .filter(F.col("unit_no").isin([int(p) for p in page_numbers]))
            .drop("unit_no")
        )
    return decode(routed.repartition(n, "doc_id", "page"), config)


def extract_spans(
    docs_df: DataFrame,
    config: DecodeConfig | None = None,
    num_partitions: int | None = None,
    with_metrics: bool = False,
    lineage: str = "",
    heavy_span_threshold: int = 24,
    page_numbers: list[int] | None = None,
):
    """End-to-end: docs table -> (spans table[, metrics table]).

    ``page_numbers`` restricts decoding to a unit subset per doc (the
    reference's page-range scheduling, document.h:372-384) — a pushed-down
    filter on the unit key, so skipped pages are never decoded.

    Two-path skew handling in ONE scan: a cheap routing pass keeps docs with
    <= ``heavy_span_threshold`` input spans whole (fused decode) and splits
    heavier docs to page-granularity units; a single hash repartition then
    spreads all rows before the decode pass — one mega-doc can never
    serialize a task, and the input is read exactly once. The repartition
    doubles as the parallelism widener (small parquet scans coalesce to a
    few partitions under maxPartitionBytes, which would serialize the
    compute-heavy decode). ``num_partitions`` sizes it (default: session
    ``spark.sql.shuffle.partitions``).

    ``with_metrics=True`` also returns ``metrics_table`` over the same
    decoded frame. Nothing is cached, so each frame decodes when consumed;
    for one decode, observe ``decoded_units`` instead (checkpoint.py)."""
    decoded = decoded_units(
        docs_df, config, num_partitions, heavy_span_threshold, page_numbers
    )
    spans = reassemble(decoded)
    if not with_metrics:
        return spans
    return spans, metrics_table(decoded, lineage)
