"""Document-level decode: interleaved input spans -> ordered output spans.

One document's input spans (north-rule shape, FIXTURES.md §1) are routed by
``kind``:

* ``pdf_ops``  — one raw page content stream per span; ``offset`` = page no.
* ``pdf_font`` — JSON font descriptor (doc-level resource, like the
  reference's parent-chained resource maps, page_fonts.h:14-43).
* ``pdf_page`` — optional JSON page descriptor ``{page, media_box, rotate}``.
* ``media``    — image placeholder; ``media_ref`` = ``{doc_id}/p{page}/{name}``
  so the interpreter can resolve ``/Name Do`` placements without payload
  bytes (mirrors BitmapResource placeholders, pdf_parser.py:577-594).
* ``pdf_annot`` — JSON annotation descriptor ``{page, subtype: link|widget,
  rect, uri?, field?, ap_ops?}`` — the /Annots analog (reference decodes
  /Link + /A /URI hyperlinks and /Tx /Btn /Ch /Sig widgets incl. the AP
  appearance-stream sub-decode, page.h:1158-1753). Annotations are decoded
  AFTER the page's content (the reference's stage order) and emit
  ``hyperlink`` / ``widget`` spans; an AP stream is sub-decoded with the
  doc's fonts and its text appended to the widget span.
* ``html``     — raw HTML document for the boilerplate-strip branch.

This module is deliberately Spark-free: ``decode_unit`` processes ONE work
unit (one PDF page or one HTML payload) and is called from both the
sequential oracle (``decode_document``) and the distributed pipeline
(``extract.py`` runs it inside ``mapInPandas`` after page-granularity
splitting). Equality of the two paths is the core pytest invariant —
the analog of the reference's threaded == sequential test
(tests/test_threaded_parse.py:278).
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass
from time import perf_counter as _clock

from docling_parse_spark.web.boilerplate import extract_html_spans
from docling_parse_spark.pdf.fonts import Font
from docling_parse_spark.pdf.page import (
    DecodeConfig,
    build_fonts,
    decode_page,
    parse_page_descriptor,
)

_MEDIA_REF_RE = re.compile(r"/p(\d+)/([^/]+)$")


@dataclass
class UnitResult:
    spans: list  # [(seq, kind, text, media_ref)]
    cells_emitted: int = 0
    failed: bool = False
    error: str = ""
    # per-stage wall ms (reference pdf_timings parity: decode_resources ≙
    # fonts, decode_contents ≙ tokenize+interpret, decode_annots ≙ annots,
    # create_*_cells ≙ merge); html units carry a single 'html' bucket
    timings: dict = None


def parse_media_ref(media_ref: str) -> tuple[int, str] | None:
    """'{doc_id}/p{page}/{name}' -> (page, name)."""
    m = _MEDIA_REF_RE.search(media_ref or "")
    if not m:
        return None
    return int(m.group(1)), m.group(2)


def build_doc_resources(spans: list[dict]) -> dict:
    """Collect doc-level resources: fonts, form XObjects, page descriptors,
    media maps. Forms are doc-level like fonts (the reference parent-chains
    resource maps across nested forms, page_fonts.h:14-43, stream.h:403-406)."""
    font_blobs = [s["text"] for s in spans if s["kind"] == "pdf_font" and s.get("text")]
    page_descs: dict[int, str] = {}
    media_by_page: dict[int, dict[str, str]] = {}
    annots_by_page: dict[int, list[str]] = {}
    forms: dict[str, dict] = {}
    acroform_fonts: list[str] = []
    for s in spans:
        if s["kind"] == "pdf_acroform_dr" and s.get("text"):
            # AcroForm /DR font resources: JSON array of font descriptor blobs
            try:
                dr = json.loads(s["text"])
                if isinstance(dr, list):
                    acroform_fonts.extend(json.dumps(f) if isinstance(f, dict) else str(f) for f in dr)
            except Exception:  # incl. RecursionError from hostile nesting (r4 review)
                pass
        elif s["kind"] == "pdf_form" and s.get("text"):
            # {"name", "ops" (raw content stream), "matrix" [6],
            #  "filters"?: declared transport for binary streams (raw-PDF
            #  ingest ships non-UTF8 form bodies as ASCII85 — same contract
            #  as the pdf_page descriptor's content_filters)}
            try:
                f = json.loads(s["text"])
                if isinstance(f, dict) and f.get("name"):
                    forms[str(f["name"])] = {
                        "ops": f.get("ops") or "",
                        "matrix": f.get("matrix"),
                        "filters": f.get("filters"),
                    }
            except Exception:  # incl. RecursionError from hostile nesting (r4 review)
                pass
        elif s["kind"] == "pdf_page" and s.get("text"):
            try:
                desc = json.loads(s["text"])
                if isinstance(desc, dict):
                    page_descs[int(desc.get("page", s.get("offset", 0)))] = s["text"]
            except Exception:  # incl. RecursionError from hostile nesting (r4 review)
                pass
        elif s["kind"] == "media" and s.get("media_ref"):
            parsed = parse_media_ref(s["media_ref"])
            if parsed:
                pg, name = parsed
                media_by_page.setdefault(pg, {})[name] = s["media_ref"]
        elif s["kind"] == "pdf_annot" and s.get("text"):
            try:
                pg = int(json.loads(s["text"]).get("page", 0))
            except Exception:  # incl. RecursionError from hostile nesting (r4 review)
                continue
            annots_by_page.setdefault(pg, []).append(s["text"])
    return {
        "fonts": font_blobs,
        "forms": forms,
        "acroform_fonts": acroform_fonts,
        "page_descs": page_descs,
        "media_by_page": media_by_page,
        "annots_by_page": annots_by_page,
    }


def decode_unit(
    unit_kind: str,
    payload: str | None,
    page: int,
    resources_json: str | None,
    config: DecodeConfig | None = None,
    fonts_cache: dict | None = None,
) -> UnitResult:
    """Decode one work unit (a PDF page or an HTML document).

    ``resources_json`` carries {fonts: [json...], page_desc: json|null,
    media: {name: ref}} for PDF units — either as the serialized JSON string
    (the Arrow-shipped unit rows) or as the already-parsed dict (the fused
    in-process path from ``doc_to_units(serialize=False)``, which skips a
    dumps+loads round trip per page; both forms decode identically because
    the dict came from the same construction the JSON string serializes).
    ``fonts_cache`` memoizes parsed Font objects per resources blob within a
    batch (fonts repeat across a doc's pages — the reference loads them once
    per document too)."""
    config = config or DecodeConfig()
    if unit_kind == "empty":
        return UnitResult(spans=[])
    if unit_kind == "html":
        t0 = _clock()
        try:
            spans = extract_html_spans(payload or "")
        except Exception as e:
            return UnitResult(spans=[], failed=True, error=f"{type(e).__name__}: {e}")
        return UnitResult(
            spans=[(i, k, t, r) for i, (k, t, r) in enumerate(spans)],
            timings={"html": (_clock() - t0) * 1000.0},
        )

    timings: dict[str, float] = {}
    t0 = _clock()
    if isinstance(resources_json, dict):
        res = resources_json
    else:
        res = json.loads(resources_json) if resources_json else {}
    fonts: dict[str, Font]
    fonts_key = tuple(res.get("fonts", []))
    if fonts_cache is not None and fonts_key in fonts_cache:
        fonts = fonts_cache[fonts_key]
    else:
        try:
            fonts = build_fonts(res.get("fonts", []))
        except Exception as e:
            return UnitResult(spans=[], failed=True, error=f"font: {type(e).__name__}: {e}")
        if fonts_cache is not None:
            fonts_cache[fonts_key] = fonts
    page_desc = parse_page_descriptor(res.get("page_desc"))
    forms = build_forms(res.get("forms"), fonts_cache)
    content = (payload or "").encode("utf-8", "surrogateescape")
    # /Filter transport on the content stream itself (real PDFs Flate
    # their streams; the reference gets this from qpdf — pdf/filters.py
    # is the from-spec layer). Declared per unit by the descriptor:
    # content_filters: ["FlateDecode", ...], content_parms: [{...}, ...].
    if res.get("content_filters"):
        from docling_parse_spark.pdf.filters import apply_filters

        try:
            content = apply_filters(
                content, res["content_filters"], res.get("content_parms")
            )
        except Exception as e:
            # malformed transport OR a malformed descriptor (wrong-typed
            # filters/parms) = per-unit failure accounting, like any
            # corrupt stream (never a task-killing raise — same posture as
            # the font path above)
            return UnitResult(
                spans=[], failed=True, error=f"filter: {type(e).__name__}: {e}",
                timings=timings,
            )
    timings["resources"] = (_clock() - t0) * 1000.0  # json + fonts + forms (cache-hit ≈ 0)
    pr = decode_page(
        content,
        fonts,
        images=res.get("media") or {},
        forms=forms,
        # ColorSpace resources: name -> component count (/ICCBased /N
        # pre-resolved by the descriptor, reference page_colorspace.h)
        colorspaces=res.get("colorspaces") or {},
        page_desc=page_desc,
        config=config,
    )
    timings.update(pr.timings)
    if pr.failed:
        return UnitResult(spans=[], cells_emitted=0, failed=True, error=pr.error,
                          timings=timings)
    out = list(pr.spans)
    # stage 4: annotations decode AFTER content (reference: decode_page runs
    # decode_annots after decode_contents, page.h:803-909)
    t0 = _clock()
    annots = res.get("annots") or []
    dr_fonts = None
    if annots and res.get("acroform_fonts"):
        dr_key = ("__dr__", tuple(res["acroform_fonts"]))
        if fonts_cache is not None and dr_key in fonts_cache:
            dr_fonts = fonts_cache[dr_key]
        else:
            try:
                dr_fonts = build_fonts(res["acroform_fonts"])
            except Exception:
                dr_fonts = {}
            if fonts_cache is not None:
                fonts_cache[dr_key] = dr_fonts
    for blob in annots:
        out.extend(decode_annotation(blob, fonts, config, acroform_fonts=dr_fonts))
    if annots:
        timings["annots"] = (_clock() - t0) * 1000.0
    return UnitResult(
        spans=[(i, k, t, r) for i, (k, t, r) in enumerate(out)],
        cells_emitted=pr.cells_emitted,
        timings=timings,
    )


def doc_meta(spans: list[dict]) -> dict:
    """Document-level metadata record (reference: XMP meta + outline tree +
    AcroForm dict, document.h:140-181, docling_parse/pdf_parser.py:796-899).

    * ``pdf_meta`` span: JSON {title, author, subject, keywords, created,
      modified} (the XMP/docinfo analog).
    * ``pdf_outline`` span: JSON nested tree [{title, page, children: [...]}]
      -> flattened preorder (level, title, page) rows (Spark has no recursive
      struct type; preorder + level is lossless).
    * AcroForm summary derived from widget annotations (field names).
    """
    meta = {"title": None, "author": None, "subject": None,
            "keywords": None, "created": None, "modified": None}
    outline: list[tuple[int, str, int]] = []
    fields: list[str] = []
    for s in spans:
        if s["kind"] == "pdf_meta" and s.get("text"):
            try:
                d = json.loads(s["text"])
                if isinstance(d, dict):
                    for k in meta:
                        if d.get(k) is not None:
                            meta[k] = str(d[k])
            except Exception:  # incl. RecursionError from hostile nesting (r4 review)
                pass
        elif s["kind"] == "pdf_outline" and s.get("text"):
            try:
                tree = json.loads(s["text"])
            except Exception:  # incl. RecursionError from hostile nesting (r4 review)
                continue

            def walk(nodes, level):
                for n in nodes if isinstance(nodes, list) else []:
                    if not isinstance(n, dict):
                        continue
                    outline.append((level, str(n.get("title") or ""), int(n.get("page") or 0)))
                    walk(n.get("children") or [], level + 1)

            walk(tree, 0)
        elif s["kind"] == "pdf_annot" and s.get("text"):
            try:
                a = json.loads(s["text"])
            except Exception:  # incl. RecursionError from hostile nesting (r4 review)
                continue
            if isinstance(a, dict) and a.get("subtype") == "widget" and a.get("field"):
                fields.append(str(a["field"]))
    return {"meta": meta, "outline": outline, "fields": fields}


def build_forms(raw_forms: dict | None, cache: dict | None = None) -> dict | None:
    """Tokenize form XObject content streams once per resources blob
    (`{name: {ops: raw_stream, matrix}}` -> interpreter-ready instruction
    lists — the reference parses nested streams on Do, stream.h:374-503)."""
    if not raw_forms:
        return None
    key = ("__forms__", json.dumps(raw_forms, sort_keys=True))
    if cache is not None and key in cache:
        return cache[key]
    from docling_parse_spark.pdf.tokenizer import tokenize

    built = {}
    for name, f in raw_forms.items():
        try:
            raw = (f.get("ops") or "").encode("utf-8", "surrogateescape")
            if f.get("filters"):
                # declared transport (e.g. ASCII85 wrapping a binary form
                # body from raw-PDF ingest) — mirrors decode_unit's
                # content_filters handling
                from docling_parse_spark.pdf.filters import apply_filters

                raw = apply_filters(raw, f["filters"], f.get("parms"))
            ops = tokenize(raw)
        except Exception:
            ops = []
        built[name] = {"ops": ops, "matrix": f.get("matrix")}
    if cache is not None:
        cache[key] = built
    return built


def decode_annotation(
    blob: str, fonts: dict, config: DecodeConfig, acroform_fonts: dict | None = None
) -> list[tuple]:
    """One /Annots entry -> spans. Hyperlinks carry the URI in ``media_ref``
    (an external pointer, like media); widgets carry the field name in
    ``text`` and append their AP appearance-stream text.

    AP font fallback chain (reference page.h:1653-1663): the AP stream's own
    resources (``ap_fonts`` on the descriptor) win, then the AcroForm /DR
    fonts (doc-level ``pdf_acroform_dr`` span), then the page's fonts."""
    try:
        a = json.loads(blob)
    except Exception:  # incl. RecursionError from hostile nesting (r4 review)
        return []
    if not isinstance(a, dict):
        return []
    subtype = a.get("subtype", "link")
    if subtype == "link":
        uri = a.get("uri") or ""
        return [("hyperlink", None, uri)] if uri else []
    field = a.get("field") or ""
    spans: list[tuple] = [("widget", field, None)]
    # filled-in field value (/V, inherited — reference page.h:1434-1447
    # carries it as the widget's text); corpus annots never set it, so
    # existing outputs are unchanged
    if a.get("value"):
        spans.append(("widget_value", str(a["value"]), None))
    ap = a.get("ap_ops")
    if ap:
        chain = dict(fonts)
        chain.update(acroform_fonts or {})
        if a.get("ap_fonts"):
            try:
                chain.update(build_fonts(a["ap_fonts"]))
            except Exception:
                pass
        ap_bytes = ap.encode("utf-8", "surrogateescape")
        if a.get("ap_filters"):
            # declared transport for binary AP streams (raw-PDF ingest
            # ships them ASCII85-wrapped; same contract as content_filters)
            from docling_parse_spark.pdf.filters import apply_filters

            try:
                ap_bytes = apply_filters(ap_bytes, a["ap_filters"], a.get("ap_parms"))
            except Exception:
                return spans
        ap_res = decode_page(ap_bytes, chain, config=config)
        if not ap_res.failed:
            spans.extend(("widget_text", t, r) for (k, t, r) in ap_res.spans if k == "text")
    return spans


def doc_to_units(doc_id: str, spans: list[dict], serialize: bool = True) -> list[dict]:
    """Split one document into independent work units — page granularity for
    PDF (the salting unit; mirrors the reference's page-level task queue,
    docling_threaded_base.h:104-105), whole payload for HTML.

    ``page`` on the unit is the span's ordinal position within the doc
    (unique, order-preserving reassembly key). The PDF *page number* — which
    keys page descriptors and media maps — is the count of ``pdf_ops`` spans
    seen so far, in input-offset order.

    ``serialize=False`` keeps each unit's resources as the built dict instead
    of a JSON string — for in-process consumers (``decode_document``, the
    fused light-doc path in ``extract.decode``) that hand the unit straight to
    ``decode_unit``, skipping a dumps+loads round trip per page. Units that
    cross the Arrow boundary (``extract.route_units``) need the default string
    form (the routed schema declares ``resources string``)."""
    # a NULL spans array (nullable in the table schema) is an empty doc,
    # not a task-killing TypeError (round-4 review)
    spans = spans if spans is not None else []
    resources = build_doc_resources(spans)
    units = []
    pdf_page_no = 0
    ordered = sorted(spans, key=lambda x: x.get("offset") or 0)
    for idx, s in enumerate(ordered):
        if s["kind"] == "pdf_ops":
            res = {
                "fonts": resources["fonts"],
                "forms": resources["forms"],
                "acroform_fonts": resources["acroform_fonts"],
                "page_desc": resources["page_descs"].get(pdf_page_no),
                "media": resources["media_by_page"].get(pdf_page_no, {}),
                "annots": resources["annots_by_page"].get(pdf_page_no, []),
            }
            # a pdf_page descriptor may also declare content-stream
            # transport filters and ColorSpace resources for its page —
            # this is how document-level inputs reach decode_unit's
            # /Filter and /ICCBased handling (round-4 review: the unit
            # keys existed but nothing doc-level could set them)
            desc_json = res["page_desc"]
            if desc_json:
                try:
                    desc = json.loads(desc_json)
                    for k in ("content_filters", "content_parms", "colorspaces"):
                        if isinstance(desc, dict) and desc.get(k) is not None:
                            res[k] = desc[k]
                    # page-scoped font blobs (e.g. a raw-PDF page whose
                    # resource key names a different font than another
                    # page's): appended AFTER the doc-level list so they
                    # win for this unit only (build_fonts keys by
                    # font_key, last blob wins)
                    if isinstance(desc, dict) and desc.get("fonts"):
                        res["fonts"] = list(res["fonts"]) + [
                            f if isinstance(f, str) else json.dumps(f)
                            for f in desc["fonts"]
                        ]
                    # page-scoped form XObjects (a raw-PDF page whose
                    # resource key names a DIFFERENT form than another
                    # page's) — merged over the doc-level map so they win
                    # for this unit only, like page-scoped fonts
                    if isinstance(desc, dict) and desc.get("forms"):
                        merged = dict(res["forms"] or {})
                        for fo in desc["forms"]:
                            if isinstance(fo, str):
                                try:
                                    fo = json.loads(fo)
                                except Exception:
                                    continue
                            if isinstance(fo, dict) and fo.get("name"):
                                merged[str(fo["name"])] = {
                                    "ops": fo.get("ops") or "",
                                    "matrix": fo.get("matrix"),
                                    "filters": fo.get("filters"),
                                }
                        res["forms"] = merged
                except Exception:
                    pass
            units.append(
                {
                    "doc_id": doc_id,
                    "page": idx,
                    "unit_kind": "pdf",
                    "payload": s.get("text") or "",
                    "resources": json.dumps(res, sort_keys=True) if serialize else res,
                }
            )
            pdf_page_no += 1
        elif s["kind"] == "html":
            units.append(
                {
                    "doc_id": doc_id,
                    "page": idx,
                    "unit_kind": "html",
                    "payload": s.get("text") or "",
                    "resources": None,
                }
            )
    if not units:
        # doc with no decodable payloads still flows through (docs in == docs
        # out; it surfaces with an empty spans array)
        units.append(
            {"doc_id": doc_id, "page": 0, "unit_kind": "empty", "payload": "", "resources": None}
        )
    return units


def decode_document(
    doc_id: str, spans: list[dict], config: DecodeConfig | None = None
) -> list[dict]:
    """Sequential oracle: decode a whole document in-process, returning the
    output span array with dense offsets — definitionally equal to the
    distributed pipeline's reassembled result."""
    out = []
    for unit in doc_to_units(doc_id, spans, serialize=False):
        ur = decode_unit(
            unit["unit_kind"], unit["payload"], unit["page"], unit["resources"], config
        )
        for seq, kind, text, ref in ur.spans:
            out.append((unit["page"], seq, kind, text, ref))
    out.sort(key=lambda x: (x[0], x[1]))
    return [
        {"kind": k, "text": t, "media_ref": r, "offset": i}
        for i, (_, _, k, t, r) in enumerate(out)
    ]
