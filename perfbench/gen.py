"""Seeded workload inputs for the extraction benchmark.

Each workload's input is a pure function of ``(workload, seed)``.  It is
written once under ``.perfbench_cache/inputs/<workload>-s<seed>-<fp>/`` at
the checkout root, where ``<fp>`` fingerprints this file and the fixture
renderers it calls, so a changed generator never reuses stale inputs.

Every input directory holds:

* ``docs/``: the table the program receives (parquet, several files), and
  for ``text_dedup_html`` also ``html/documents.parquet``;
* ``oracle.parquet`` / ``html_oracle.parquet`` (text workload): the
  expected per-document md5, computed here from the source text and never
  by the program under test (PDF tables carry their golden spans inline);
* ``meta.json``: seed, sizes and the counts the benchmark checks.

Generation runs in the benchmark's own process, before the Spark process
starts, so it is in neither the timed job nor ``setup_s``.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from collections import Counter
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parent.parent
CACHE = ROOT / ".perfbench_cache"

# The repository's synthetic ``documents`` tables (TESTDATA.md) draw each
# text from this vocabulary, 8-100 words long; the benchmark builds its own
# tables of that shape because it reads nothing outside its checkout.
VOCAB = (
    "the fast key order sort table scan merge part window small hash join "
    "batch stream spark dup data row column value customer line agg slow "
    "big query vector filter group a"
).split()

N_MIX = 2400            # pdf_mix documents
N_LONG = 48             # pdf_long documents
LONG_MAX_PAGES = 100    # heaviest pdf_long document, planted in every seed
CHARS_PER_PAGE = 1650   # make_text_doc fills a page with about this much text
N_DEDUP_BASE = 250      # distinct texts behind text_dedup_html ...
N_DEDUP = 1000          # ... tiled to this many documents
MEGA_CHARS = 1_100_000  # the planted oversized text_dedup_html document
N_FILES = 16            # parquet files per input table

SPAN_TYPE = pa.list_(pa.struct([
    ("kind", pa.string()), ("text", pa.string()),
    ("media_ref", pa.string()), ("offset", pa.int32()),
]))


def fingerprint() -> str:
    """Digest of the generator: this file plus the fixture renderers."""
    h = hashlib.sha256()
    files = [Path(__file__)] + sorted(
        (ROOT / "unipdf_spark" / "fixtures").glob("*.py"))
    for f in files:
        h.update(f.name.encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:12]


def collapse(text: str) -> str:
    return " ".join(text.split())


def md5_hex(text: str) -> str:
    return hashlib.md5(text.encode()).hexdigest()


def _texts(rng: random.Random, n: int) -> list[str]:
    return [" ".join(rng.choice(VOCAB) for _ in range(rng.randint(8, 100)))
            for _ in range(n)]


def _text_of_length(rng: random.Random, chars: int) -> str:
    parts: list[str] = []
    n = 0
    while n < chars:
        t = _texts(rng, 1)[0]
        parts.append(t)
        n += len(t) + 1
    return " ".join(parts)


def _write_table(rows: list[dict], schema: pa.Schema, out: Path) -> None:
    out.mkdir(parents=True)
    per = -(-len(rows) // N_FILES)
    for k in range(0, len(rows), per):
        pq.write_table(pa.Table.from_pylist(rows[k:k + per], schema=schema),
                       out / f"part-{k // per:05d}.parquet")


def _write_oracle(oracle: list[tuple[int, str]], out: Path) -> None:
    pq.write_table(pa.table({"doc_id": [d for d, _ in oracle],
                             "want": [w for _, w in oracle]},
                            schema=pa.schema([("doc_id", pa.int64()),
                                              ("want", pa.string())])), out)


def _write_pdfs(docs: list[tuple[str, str, list[dict], bytes]],
                out: Path) -> None:
    """PDF tables carry their oracle inline: ``golden_spans`` come from the
    fixture renderer, which shares nothing with the extraction engine."""
    rows = []
    for doc_id, cls, golden, pdf in docs:
        spans = [{"kind": s["kind"], "text": s["text"],
                  "media_ref": s["media_ref"], "offset": s["offset"]}
                 for s in golden]
        rows.append({"doc_id": doc_id, "pdf_bytes": pdf,
                     "golden_spans": spans, "fixture_class": cls})
    _write_table(rows, pa.schema([
        ("doc_id", pa.string()), ("pdf_bytes", pa.binary()),
        ("golden_spans", SPAN_TYPE), ("fixture_class", pa.string()),
    ]), out)


def corrupt(pdf: bytes) -> bytes:
    """The self-test's planted defect: the first character drawn from the
    content stream is overwritten in place, so the file still parses (every
    offset is unchanged) but its text no longer matches the golden spans."""
    i = pdf.index(b"(", pdf.index(b"stream")) + 1
    return pdf[:i] + (b"Z" if pdf[i:i + 1] == b"Q" else b"Q") + pdf[i + 1:]


def mix_classes(n: int) -> list[str]:
    """Every DEFAULT_MIX class, each in proportion to its weight (largest
    remainder), so the class mix is the same for every seed."""
    from unipdf_spark.fixtures.gen import DEFAULT_MIX

    total = sum(w for _, w in DEFAULT_MIX)
    exact = [(c, n * w / total) for c, w in DEFAULT_MIX]
    counts = {c: int(x) for c, x in exact}
    by_rest = sorted(exact, key=lambda cx: cx[1] - int(cx[1]), reverse=True)
    for c, _ in by_rest[:n - sum(counts.values())]:
        counts[c] += 1
    return [c for c, k in counts.items() for _ in range(k)]


def _gen_pdf_mix(rng: random.Random, seed: int, plant_corrupt: bool,
                 out: Path) -> dict:
    from unipdf_spark.fixtures.gen import make_doc

    classes = mix_classes(N_MIX)
    rng.shuffle(classes)
    docs = []
    for i, cls in enumerate(classes):
        doc_id = f"doc_{i:08d}"
        golden, pdf = make_doc(doc_id, cls, seed)
        docs.append((doc_id, cls, golden, pdf))
    meta = {"n_docs": len(docs), "classes": len(set(classes))}
    if plant_corrupt:
        # a "simple" document draws uncompressed literal strings
        victim = classes.index("simple")
        doc_id, cls, golden, pdf = docs[victim]
        docs[victim] = (doc_id, cls, golden, corrupt(pdf))
        meta["planted_corrupt_doc_id"] = doc_id
    _write_pdfs(docs, out / "docs")
    return meta


def long_pages(n: int) -> list[int]:
    """Heavy-tailed page counts in [1, LONG_MAX_PAGES]: the quantiles of a
    Pareto(0.9) tail, the same for every seed, plus one document of
    LONG_MAX_PAGES pages."""
    return [min(LONG_MAX_PAGES, int((1 - (i + 0.5) / n) ** (-1 / 0.9)))
            for i in range(n - 1)] + [LONG_MAX_PAGES]


def _gen_pdf_long(rng: random.Random, seed: int, plant_corrupt: bool,
                  out: Path) -> dict:
    from unipdf_spark.fixtures.gen import make_text_doc

    pages = long_pages(N_LONG)
    rng.shuffle(pages)
    docs = []
    for i, p in enumerate(pages):
        doc_id = f"doc_{i:08d}"
        golden, pdf = make_text_doc(
            doc_id, _text_of_length(rng, p * CHARS_PER_PAGE), seed)
        docs.append((doc_id, "external_text", golden, pdf))
    _write_pdfs(docs, out / "docs")
    return {"n_docs": len(docs), "target_pages": pages}


def html_main_oracle(text: str) -> str:
    """``HTML_MAIN_SQL``'s rule applied to the source text: the
    whitespace-collapsed article, or '' below the 25-character prose gate."""
    main = collapse(text)
    return md5_hex(main if len(main) >= 25 else "")


def _gen_text_dedup_html(rng: random.Random, seed: int, plant_corrupt: bool,
                         out: Path) -> dict:
    """One documents table for both text operators: the integrated
    render → extract → dedup pipeline reads it with a planted oversized
    document, the HTML leg as ``documents.parquet`` without it."""
    from unipdf_spark.operators.extracted import PART_CHARS

    base = _texts(rng, N_DEDUP_BASE)
    texts = [base[rng.randrange(N_DEDUP_BASE)] for _ in range(N_DEDUP)]
    html = [{"doc_id": i, "text": t, "n_chars": len(t)}
            for i, t in enumerate(texts)]
    unit = base[0] + " "
    texts.append(unit * (MEGA_CHARS // len(unit) + 1))
    _write_table([{"doc_id": f"doc_{i:08d}", "text": t}
                  for i, t in enumerate(texts)],
                 pa.schema([("doc_id", pa.string()), ("text", pa.string())]),
                 out / "docs")
    _write_oracle([(i, md5_hex(collapse(t))) for i, t in enumerate(texts)],
                  out / "oracle.parquet")
    _write_table(html, pa.schema([("doc_id", pa.int64()),
                                  ("text", pa.string()),
                                  ("n_chars", pa.int64())]),
                 out / "html" / "documents.parquet")
    _write_oracle([(r["doc_id"], html_main_oracle(r["text"])) for r in html],
                  out / "html_oracle.parquet")
    # identical texts share every LSH band bucket, so each pair of them is
    # a candidate pair: a lower bound on the count the job must find
    dup_pairs = sum(g * (g - 1) // 2 for g in Counter(texts).values())
    return {"n_docs": len(texts), "n_html": len(html),
            # documents the oversized-doc split turns into several parts
            "oversized_docs": sum(1 for t in texts if len(t) > PART_CHARS),
            "mega_doc_chars": len(texts[-1]),
            "min_candidate_pairs": dup_pairs}


_GENERATORS = {
    "pdf_mix": _gen_pdf_mix,
    "pdf_long": _gen_pdf_long,
    "text_dedup_html": _gen_text_dedup_html,
}
WORKLOADS = tuple(_GENERATORS)


def ensure_input(workload: str, seed: int, plant_corrupt: bool = False,
                 keep: int = 16) -> Path:
    """Generate (or reuse) the input for ``(workload, seed)``; returns its
    directory.  At most ``keep`` inputs per workload stay cached."""
    tag = "-corrupt" if plant_corrupt else ""
    name = f"{workload}-s{seed}{tag}-{fingerprint()}"
    inp = CACHE / "inputs" / name
    if (inp / "meta.json").exists():
        os.utime(inp)
        return inp
    tmp = CACHE / "inputs" / f".{name}.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    rng = random.Random(f"perfbench:{workload}:{seed}")
    meta = _GENERATORS[workload](rng, seed, plant_corrupt, tmp)
    meta.update({"workload": workload, "seed": seed,
                 "generator": fingerprint()})
    (tmp / "meta.json").write_text(json.dumps(meta))
    shutil.rmtree(inp, ignore_errors=True)
    tmp.rename(inp)
    _evict(workload, keep)
    return inp


def _evict(workload: str, keep: int) -> None:
    entries = sorted((CACHE / "inputs").glob(f"{workload}-s*"),
                     key=lambda p: p.stat().st_mtime, reverse=True)
    for p in entries[keep:]:
        shutil.rmtree(p, ignore_errors=True)
