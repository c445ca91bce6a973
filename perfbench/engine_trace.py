"""Single-process engine-phase trace over a seeded sample of documents.

For each sampled PDF the trace calls the engine's public functions in the
order ``extract_spans`` does and times each call:

    PdfDocument(...) + pages()     → pdf.cos.open_ms (xref, objects, crypt)
    PdfDocument.page_content       → pdf.filters.decode_ms
    content.parse_content          → pdf.content.lex_ms
    fonts.load_font per /Font      → pdf.fonts.load_ms
    Interpreter.run                → pdf.interp.self_ms (= run − lex: run
                                     lexes the content again)
    layout.assemble_spans          → pdf.layout.assemble_ms

Loaded fonts are put in the document's font memo, where ``Interpreter``
looks first, so the interpreter does not load them a second time.  The
struct-tree ActualText map that ``extract_spans`` builds is rebuilt with
the same helpers and counted as open time.

Trace equivalence: the spans assembled here must equal, as a
``(kind, text, media_ref)`` sequence, what ``extract_spans`` returns for the
same bytes, and both must equal the golden spans when the input has them.
"""

from __future__ import annotations

import statistics
import time

from unipdf_spark.pdf import content, extract, fonts
from unipdf_spark.pdf.cos import PdfDocument, Ref
from unipdf_spark.pdf.interp import Interpreter
from unipdf_spark.pdf.layout import assemble_spans

PHASES = ("pdf.cos.open_ms", "pdf.filters.decode_ms", "pdf.fonts.load_ms",
          "pdf.content.lex_ms", "pdf.interp.self_ms",
          "pdf.layout.assemble_ms")
COUNTS = ("pdf.pages", "pdf.content.ops", "pdf.interp.marks", "pdf.spans")


def _keys(spans) -> list[tuple]:
    return [(s["kind"], s["text"], s["media_ref"]) for s in spans]


def _phased(pdf: bytes, acc: dict) -> list[dict]:
    """The phase-by-phase extraction of one document; adds each phase's
    milliseconds and each work count into ``acc``."""
    pc = time.perf_counter
    t = pc()
    doc = PdfDocument(pdf, relaxed=True)
    pages = doc.pages()
    if not pages:
        raise ValueError("no pages")
    mcid_at = extract._struct_tree_actual_text(
        doc, extract._page_index_of(doc, pages))
    acc["pdf.cos.open_ms"] += (pc() - t) * 1e3
    memo = getattr(doc, "_font_cache", None)
    spans: list[dict] = []
    for page_idx, page in enumerate(pages):
        t = pc()
        data = doc.page_content(page)
        acc["pdf.filters.decode_ms"] += (pc() - t) * 1e3

        t = pc()
        ops = content.parse_content(data)
        lex = pc() - t
        acc["pdf.content.lex_ms"] += lex * 1e3
        acc["pdf.content.ops"] += len(ops)

        t = pc()
        font_dict = doc.resolve(doc.page_resources(page).get("Font")) or {}
        for ref in font_dict.values():
            if isinstance(ref, Ref):
                font = fonts.load_font(doc, ref)
                if isinstance(memo, dict):
                    memo[(ref.num, ref.gen)] = font
        acc["pdf.fonts.load_ms"] += (pc() - t) * 1e3

        page_at = {mcid: txt for (pg, mcid), txt in mcid_at.items()
                   if pg is None or pg == page_idx}
        t = pc()
        interp = Interpreter(doc, page, mcid_actual_text=page_at)
        interp.run()
        acc["pdf.interp.self_ms"] += (pc() - t - lex) * 1e3
        acc["pdf.interp.marks"] += len(interp.marks)

        t = pc()
        spans += assemble_spans(interp.marks, interp.media, True,
                                rulings=interp.rulings)
        acc["pdf.layout.assemble_ms"] += (pc() - t) * 1e3
    acc["pdf.pages"] += len(pages)
    acc["pdf.spans"] += len(spans)
    return spans


def trace_pdfs(sample: list[tuple[str, bytes, list | None]]
               ) -> tuple[dict, list[str]]:
    """Per-layer engine metrics over ``(doc_id, pdf_bytes, golden or None)``
    and the doc_ids that fail trace equivalence or their golden spans."""
    acc = dict.fromkeys(PHASES + COUNTS, 0.0)
    extract_ms: list[float] = []
    bad: list[str] = []
    for _doc_id, pdf, _golden in sample:
        # the engine keeps cross-document caches; both timed passes below
        # should see them warm, as a long-running worker does
        extract.extract_spans(pdf)
    for doc_id, pdf, golden in sample:
        t = time.perf_counter()
        res = extract.extract_spans(pdf)
        extract_ms.append((time.perf_counter() - t) * 1e3)
        try:
            same = _keys(_phased(pdf, acc)) == _keys(res.spans)
        except Exception:  # noqa: BLE001 — relaxed documents may raise here
            same = res.error is not None   # ... only where extraction failed
        if not same or (golden is not None
                        and _keys(golden) != _keys(res.spans)):
            bad.append(doc_id)
    n = max(len(sample), 1)
    out = {k: acc[k] / n for k in PHASES}
    out.update({k: acc[k] for k in COUNTS})
    total = sum(extract_ms)
    out["pdf.unattributed_ms"] = (total - sum(acc[k] for k in PHASES)) / n
    out["pdf.extract_ms.p50"] = statistics.median(extract_ms or [0.0])
    out["pdf.extract_ms.p99"] = _pctl(extract_ms, 0.99)
    out["pdf.engine_docs_per_s_1core"] = len(sample) / (total / 1e3) \
        if total else 0.0
    return out, bad


def _pctl(xs: list[float], q: float) -> float:
    if not xs:
        return 0.0
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def trace_text(sample: list[tuple[str, str]]) -> tuple[dict, list[str]]:
    """``fixtures.render_text_ms`` over ``(doc_id, text)``, then the PDF
    trace of the rendered documents against their golden spans."""
    from unipdf_spark.fixtures.gen import make_text_doc

    t = time.perf_counter()
    pdfs = []
    for doc_id, text in sample:
        golden, pdf = make_text_doc(doc_id, text)
        pdfs.append((doc_id, pdf, golden))
    render_ms = (time.perf_counter() - t) * 1e3 / max(len(sample), 1)
    out, bad = trace_pdfs(pdfs)
    out["fixtures.render_text_ms"] = render_ms
    return out, bad


def trace_html(sample: list[tuple[int, str, str]]
               ) -> tuple[dict, list[str]]:
    """``fixtures.render_html_ms`` and ``html_extract.main_content_ms``
    over ``(doc_id, text, oracle md5)``; a page fails when the md5 of its
    whitespace-collapsed main content differs from the oracle."""
    import hashlib

    from unipdf_spark.fixtures.foreign_html import foreign_html, tag_soup
    from unipdf_spark.fixtures.gen import make_html_doc
    from unipdf_spark.html_extract import main_content

    render = extract_s = 0.0
    bad: list[str] = []
    for doc_id, text, want in sample:
        name = f"doc_{doc_id:08d}"
        t = time.perf_counter()
        page = make_html_doc(name, text)
        # the same thirds operators.htmlops serves: plain boilerplate,
        # foreign markup conventions, tag soup
        if doc_id % 3 == 1:
            page = foreign_html(page, name)
        elif doc_id % 3 == 2:
            page = tag_soup(page, name)
        t1 = time.perf_counter()
        main = " ".join(main_content(page).split())
        extract_s += time.perf_counter() - t1
        render += t1 - t
        if hashlib.md5(main.encode()).hexdigest() != want:
            bad.append(name)
    n = max(len(sample), 1)
    return {"fixtures.render_html_ms": render * 1e3 / n,
            "html_extract.main_content_ms": extract_s * 1e3 / n}, bad
