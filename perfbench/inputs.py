"""Seeded benchmark inputs, generated once and cached on disk.

Every workload's input is a pure function of ``(workload, seed, size)`` and
of the generator versions below; the cache key carries all of them, so a
changed generator never reuses a stale input. Generation also computes the
expected outputs (digests from the sequential oracle), which the runs
compare against.

The digest of a doc's output spans is defined here once and mirrored in
Spark by ``workloads._canon`` and ``workloads._key48``, so both sides hash
the same bytes.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

from docling_parse_spark import corpus, document

# bump when anything below changes what a seed generates
INPUT_VERSION = 1

KEY48 = 12  # hex digits of md5 summed per doc: 2^48 * docs stays < 2^63

SPAN_T = pa.struct([("kind", pa.string()), ("text", pa.string()),
                    ("media_ref", pa.string()), ("offset", pa.int32())])
DOCS_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN_T))])


def spans_string(spans: list[dict]) -> str:
    """Canonical text of an output span array; nulls are marked, not dropped."""
    return "\x1f".join(
        "\x1e".join((s["kind"] if s["kind"] is not None else "\x00",
                     s["text"] if s["text"] is not None else "\x00",
                     s["media_ref"] if s["media_ref"] is not None else "\x00",
                     str(s["offset"])))
        for s in spans
    )


def doc_key(doc_id: str, spans: list[dict]) -> int:
    """48-bit per-doc output key; the run digest is (docs, sum of keys)."""
    text = doc_id + "\x1d" + spans_string(spans)
    return int(hashlib.md5(text.encode("utf-8")).hexdigest()[:KEY48], 16)


def spans_md5(spans: list[dict]) -> str:
    return hashlib.md5(spans_string(spans).encode("utf-8")).hexdigest()


# -- doc-table workloads -------------------------------------------------

def _doc_class(doc: dict):
    kinds = [s["kind"] for s in doc["spans"]]
    if "html" in kinds:
        return "html"
    return kinds.count("pdf_ops")


def stratified_docs(seed: int, n_docs: int, heavy_share: float,
                    html_share: float) -> list[dict]:
    """``corpus.generate_doc`` docs with EXACT class counts: heavy 64-page
    PDFs, 1-4-page PDFs in equal page-count quotas, and HTML pages.

    Plain ``generate_doc`` draws each doc's class at random, so the number
    of heavy docs (and with it the work of a run) would vary by seed; fixed
    quotas keep the work per run the same for every seed while the content
    still comes from the seed."""
    n_heavy = round(n_docs * heavy_share)
    n_html = round(n_docs * html_share)
    n_light = n_docs - n_heavy - n_html
    quota: dict = {"heavy": n_heavy, "html": n_html}
    for pages in (1, 2, 3, 4):
        quota[pages] = n_light // 4 + (1 if pages <= n_light % 4 else 0)
    pick = random.Random(f"perfbench:{seed}")
    docs: list[dict] = []
    i = 0
    while len(docs) < n_docs:
        left = n_docs - len(docs)
        if quota["heavy"] and pick.random() < quota["heavy"] / left:
            quota["heavy"] -= 1
            docs.append(corpus.generate_doc(i, seed, heavy_frac=1.0))
        else:
            doc = corpus.generate_doc(i, seed, heavy_frac=0.0)
            cls = _doc_class(doc)
            if quota.get(cls, 0) > 0:
                quota[cls] -= 1
                docs.append(doc)
        i += 1
    return docs


def _write_docs(path: str, docs: list[dict], n_files: int) -> None:
    os.makedirs(path)
    per = -(-len(docs) // n_files)
    for f in range(n_files):
        part = docs[f * per:(f + 1) * per]
        if part:
            pq.write_table(pa.Table.from_pylist(part, schema=DOCS_SCHEMA),
                           os.path.join(path, f"part-{f:03d}.parquet"))


def _docs_input(out: str, seed: int, n_docs: int, heavy_share: float,
                html_share: float) -> dict:
    docs = stratified_docs(seed, n_docs, heavy_share, html_share)
    _write_docs(os.path.join(out, "docs"), docs, n_files=8)
    keys = sum(doc_key(d["doc_id"], document.decode_document(d["doc_id"], d["spans"]))
               for d in docs)
    units = 0
    heavy = []
    for d in docs:
        n_pages = sum(1 for s in d["spans"] if s["kind"] == "pdf_ops")
        units += max(n_pages, 1)
        if n_pages > 4:
            heavy.append(d["doc_id"])
    return {
        "docs": len(docs),
        "units": units,
        "heavy_docs": heavy,
        "expected_digest": [len(docs), keys],
        "input_digest": digest_rows(docs),
    }


# -- pdf_files -----------------------------------------------------------

_FONT = (b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
         b"/Encoding /WinAnsiEncoding >>")


def _pdf_pair(rng: random.Random) -> tuple[bytes, bytes]:
    """One single-page PDF and its AES-256 (R6) twin, content from ``rng``."""
    from docling_parse_spark.pdf.build import build_classic_pdf, encrypt_classic_aes256

    content = bytearray(b"BT /F1 11 Tf 60 760 Td 14 TL\n")
    for _ in range(18):
        line = " ".join(rng.choice(corpus.WORDS) for _ in range(rng.randint(4, 9)))
        content += b"T* (" + line.encode() + b") Tj\n"
    content += b"ET"
    content = bytes(content)
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>",
        3: (b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R "
            b"/Resources << /Font << /F1 5 0 R >> >> >>"),
        5: _FONT,
    }
    aes = encrypt_classic_aes256(dict(objs), root=1, stream_bodies={4: content})
    objs[4] = (f"<< /Length {len(content)} >>\nstream\n".encode()
               + content + b"\nendstream")
    return build_classic_pdf(objs, root=1), aes


def _pdf_input(out: str, seed: int, n_pairs: int, n_truncated: int) -> dict:
    """``n_pairs`` plain files, their AES twins, and ``n_truncated`` plain
    files cut at 30-90% of their length, which drops the trailing xref and
    ``startxref`` (each must fail)."""
    from docling_parse_spark.pdf.file import parse_pdf_spans

    rng = random.Random(f"perfbench-pdf:{seed}")
    files_dir = os.path.join(out, "files")
    os.makedirs(files_dir)
    expected = {}
    h = hashlib.sha256()
    for i in range(n_pairs):
        plain, aes = _pdf_pair(rng)
        for name, data in ((f"plain-{i:05d}.pdf", plain), (f"aes-{i:05d}.pdf", aes)):
            with open(os.path.join(files_dir, name), "wb") as f:
                f.write(data)
            h.update(name.encode() + b"\0" + data)
        spans = document.decode_document("", parse_pdf_spans(plain, ""))
        expected[f"{i:05d}"] = spans_md5(spans)
    truncated = []
    for i in range(n_truncated):
        plain, _ = _pdf_pair(rng)
        cut = plain[: int(len(plain) * rng.uniform(0.3, 0.9))]
        name = f"truncated-{i:05d}.pdf"
        with open(os.path.join(files_dir, name), "wb") as f:
            f.write(cut)
        h.update(name.encode() + b"\0" + cut)
        truncated.append(name)
    return {
        "docs": 2 * n_pairs + n_truncated,
        "pairs": n_pairs,
        "truncated": truncated,
        "expected_spans_md5": expected,
        "empty_spans_md5": spans_md5([]),
        "input_digest": h.hexdigest(),
    }


# -- curate_dedup --------------------------------------------------------

SOURCES = ["web", "news", "forum", "wiki", "code", "books", "papers", "legal"]
DIM = 64


def curate_tables(seed: int, n_docs: int, twin_share: float, n_queries: int):
    """(docs, twins, vectors, query_neighbors).

    Docs are (doc_id, source, text) with a Zipf-skewed source mix. A planted
    twin is a long original's text with its last character changed
    (char-shingle Jaccard > 0.99, so banded minhash finds every twin with
    near certainty) under a doc_id above every original, so the min-id
    survivor is the original. Twins are single copies on purpose: exploded
    copies collide in every band and make the pair count quadratic.

    Vectors are seeded gaussians; each of the first ``n_queries`` vectors
    has a planted near neighbour (small perturbation), which is its exact
    top-1 by cosine."""
    rng = random.Random(f"perfbench-curate:{seed}")
    n_twins = round(n_docs * twin_share)
    n_orig = n_docs - n_twins
    weights = [1.0 / (r + 1) for r in range(len(SOURCES))]
    # a wide vocabulary: texts over a few dozen words share most shingles
    # and simhash bands, which turns every doc into a near-dup candidate
    vocab = ["".join(rng.choice("abcdefghijklmnopqrstuvwxyz")
                     for _ in range(rng.randint(3, 9))) for _ in range(4000)]
    docs = []
    for i in range(n_orig):
        n_words = rng.randint(5, 8) if rng.random() < 0.05 else rng.randint(40, 90)
        words = [rng.choice(vocab) for _ in range(n_words)]
        if rng.random() < 0.2:
            words.insert(rng.randrange(len(words)), f"user{rng.randrange(10**6)}@example.com")
        if rng.random() < 0.2:
            words.insert(rng.randrange(len(words)), f"+1-555-{rng.randrange(10**4):04d}")
        text = " ".join(words) + "."
        docs.append({"doc_id": i, "source": rng.choices(SOURCES, weights)[0], "text": text})
    twins = []
    long_docs = [i for i in range(n_orig) if len(docs[i]["text"]) > 200]
    for k, orig in enumerate(rng.sample(long_docs, n_twins)):
        twin_id = n_orig + k
        docs.append({"doc_id": twin_id, "source": docs[orig]["source"],
                     "text": docs[orig]["text"][:-1] + "!"})
        twins.append([orig, twin_id])
    vectors = []
    for v in range(n_docs):
        vectors.append([rng.gauss(0.0, 1.0) for _ in range(DIM)])
    neighbors = {}
    for q in range(n_queries):
        target = n_docs - 1 - q
        vectors[target] = [x + rng.gauss(0.0, 0.01) for x in vectors[q]]
        neighbors[q] = target
    return docs, twins, vectors, neighbors


def _curate_input(out: str, seed: int, n_docs: int, twin_share: float,
                  n_queries: int) -> dict:
    docs, twins, vectors, neighbors = curate_tables(seed, n_docs, twin_share, n_queries)
    os.makedirs(os.path.join(out, "docs"))
    os.makedirs(os.path.join(out, "vectors"))
    pq.write_table(
        pa.Table.from_pylist(docs, schema=pa.schema(
            [("doc_id", pa.int64()), ("source", pa.string()), ("text", pa.string())])),
        os.path.join(out, "docs", "part-000.parquet"))
    pq.write_table(
        pa.table({"vec_id": pa.array(range(len(vectors)), pa.int64()),
                  "embedding": pa.array(vectors, pa.list_(pa.float64()))}),
        os.path.join(out, "vectors", "part-000.parquet"))
    return {
        "docs": len(docs),
        "twins": twins,
        "query_neighbors": {str(q): t for q, t in neighbors.items()},
        "queries": n_queries,
        "dim": DIM,
        "input_digest": digest_rows(docs) + ":" + hashlib.sha256(
            json.dumps(vectors).encode()).hexdigest()[:16],
    }


def digest_rows(rows: list[dict]) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(json.dumps(r, sort_keys=True).encode("utf-8"))
    return h.hexdigest()


# input size per workload; one pass processes the whole input
SIZES = {
    "mixed_corpus": dict(n_docs=600, heavy_share=0.01, html_share=0.29),
    "heavy_checkpointed": dict(n_docs=30, heavy_share=0.20, html_share=0.30),
    "pdf_files": dict(n_pairs=60, n_truncated=4),
    "curate_dedup": dict(n_docs=600, twin_share=0.05, n_queries=20),
}


def _build(workload: str, out: str, seed: int, size: dict) -> dict:
    if workload in ("mixed_corpus", "heavy_checkpointed"):
        return _docs_input(out, seed, **size)
    if workload == "pdf_files":
        return _pdf_input(out, seed, **size)
    if workload == "curate_dedup":
        return _curate_input(out, seed, **size)
    raise ValueError(f"unknown workload {workload!r}")


def cache_key(workload: str, seed: int, size: dict) -> str:
    size_tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    return (f"{workload}-seed{seed}-{size_tag}"
            f"-corpus{corpus.CORPUS_VERSION}-in{INPUT_VERSION}")


def get_input(cache_root: str, workload: str, seed: int,
              size: dict | None = None) -> tuple[str, dict, float, bool]:
    """(input dir, meta, seconds spent, was cached). Builds into a temp dir
    and renames, so an interrupted build never leaves a half input."""
    size = size if size is not None else SIZES[workload]
    path = os.path.join(cache_root, cache_key(workload, seed, size))
    t0 = time.perf_counter()
    meta_path = os.path.join(path, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return path, json.load(f), time.perf_counter() - t0, True
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = _build(workload, tmp, seed, size)
    meta.update(workload=workload, seed=seed, size=size)
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path, meta, time.perf_counter() - t0, False
