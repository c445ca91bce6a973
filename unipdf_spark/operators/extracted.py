"""End-to-end corpus pipeline: render → extract → reassemble → curate.

The extraction engine (reference: unipdf extractor/) and the LLM-data
curation stack meet here: the `documents` text is rendered into real PDFs
(distributed), the span-extraction engine pulls the text back out, and the
dedup family runs on the EXTRACTED text. Because span extraction is exact
(north rule), the reassembled word sequence equals the original text's —
so DuckDB can compute the oracle directly from ``documents.text`` while
Spark computes it from text that made a full trip through the PDF engine.
Any engine regression (lost span, wrong order, mangled glyph) breaks the
value hash: this is the integrated-path correctness gate, not a rows-only
check.

Planted duplicates: every ``doc_id % 7 == 0`` document is cloned under
``doc_id + CLONE_OFFSET``. The clone renders with a DIFFERENT paragraph
chunking (the render plan is seeded per doc_id), so the pair is a true
re-formatted duplicate — same content, different layout — exactly what
normalized dedup and MinHash LSH exist to catch.

Scale shape (100 TB): render and extraction run fused in one map-only
``map_rows`` stage per part (:func:`render_extract_parts`: no payload
shuffle for small docs, bounded parts for oversized ones, reassembled by
:func:`reassemble_parts`); the reassembled-text frame is persisted once
and feeds both the dedup-hash and signature paths; the normalization is
:func:`dedup.normalized_text` and the LSH candidates come from
:func:`dedup.lsh_candidate_pairs` (count-gated buckets: no self-join, no
mega-bucket task).
"""

from __future__ import annotations

import re
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import pipeline
from . import phash
from .dedup import (
    MAX_BUCKET,
    _SHINGLE_CTE,
    _SIG_COLS_SQL,
    _BANDS_SQL,
    band_table,
    lsh_candidate_pairs,
    minhash_signatures_pandas,
    normalized_text,
)

CLONE_OFFSET = 1_000_000
_WS = re.compile(r"\s+")


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = phash.spread(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), spark
    ).select("doc_id", "text")
    clones = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + CLONE_OFFSET).alias("doc_id"), "text"
    )
    return docs.unionByName(clones)


def _rex_text(doc_id: str, text: str | None) -> tuple[str, str | None]:
    """Render ``text`` into a PDF, span-extract it and reassemble its text
    spans: (whitespace-collapsed text, extraction error). Render and
    extraction are FUSED in one per-row function: as two chained
    MapInPandas nodes every rendered PDF (and its span structs) would
    cross Python→JVM→Python through Arrow once for nothing — the render
    here is only the synthetic source; a real corpus enters at the
    extraction stage, which stays the standalone pipeline.run_extraction."""
    from ..fixtures.gen import make_text_doc
    from ..pdf.extract import extract_spans

    _golden, pdf = make_text_doc(doc_id, text or "")
    res = extract_spans(pdf)
    joined = " ".join(s["text"] for s in res.spans if s["kind"] == "text")
    return _WS.sub(" ", joined).strip(), res.error


PART_CHARS = 65536  # oversized-doc task atom: ~0.6 s render+extract each
PARTS_DDL = "doc_id string, part_idx int, text string"
REX_DDL = ("doc_id bigint, part_idx int, text string, multi boolean, "
           "partition_id int, elapsed_ms double, error string")


def _rex_part(doc_id, part_idx, text, multi=True):
    """One REX_DDL row: render→extract→reassemble of one part (or, with
    ``multi=False``, of a whole small doc) plus its lineage columns."""
    t0 = time.perf_counter()
    out, err = _rex_text(doc_id, text)
    pid, ms = pipeline.lineage(t0)
    yield int(doc_id[4:]), int(part_idx), out, multi, pid, ms, err


def _rex_whole(doc_id, text):
    return _rex_part(doc_id, 0, text, multi=False)


def _splitter(part_chars: int):
    """Word-boundary splitter: (doc_id, text) → bounded PARTS_DDL rows."""

    def split_text(doc_id, text):
        cur: list[str] = []
        n = idx = 0
        for w in (text or "").split():
            if n + len(w) + 1 > part_chars and cur:
                yield doc_id, idx, " ".join(cur)
                idx += 1
                cur, n = [], 0
            cur.append(w)
            n += len(w) + 1
        yield doc_id, idx, " ".join(cur)

    return split_text


def _split_oversized(named: DataFrame, part_chars: int
                    ) -> tuple[DataFrame, DataFrame]:
    """(doc_id, text) → (docs of at most ``part_chars`` chars, PARTS_DDL
    parts of the longer ones) — the split shared by the batch and
    streaming scale paths, which each spread the parts their own way."""
    length = F.length(F.coalesce("text", F.lit("")))
    small = named.filter(length <= part_chars).select("doc_id", "text")
    big = named.filter(length > part_chars).select("doc_id", "text")
    return small, pipeline.map_rows(big, _splitter(part_chars), PARTS_DDL)


def render_extract_parts(named: DataFrame, part_chars: int = PART_CHARS
                         ) -> DataFrame:
    """Scale path for heavy-tailed corpora: texts longer than
    ``part_chars`` are split at word boundaries into bounded parts that
    render+extract as INDEPENDENT tasks, so one 1 MB document can no
    longer hold a partition hostage (the 48k skew drill bounds doc-count
    skew; this bounds the per-DOC atom — a planted mega-doc costs ~15 s
    as one task but ~0.6 s × N fully parallel parts). Small docs (the
    overwhelming majority) stay on the map-only path with NO shuffle;
    only the oversized slice pays a parts shuffle.

    Returns one row per part: (doc_id bigint, part_idx int, text,
    multi boolean, partition_id int, elapsed_ms double, error string) —
    the lineage columns feed per-partition straggler metrics (north-rule
    per-partition lineage, same convention as pipeline.run_extraction)."""
    small, parts = _split_oversized(named, part_chars)
    # range- (not hash-) partitioned: the part count is small, and hash
    # buckets birthday-collide (2-3 atoms in one task defeats the split);
    # ranges give ~one atom per partition
    parts = parts.repartitionByRange(F.col("doc_id"), F.col("part_idx"))
    return (
        pipeline.map_rows(small, _rex_whole, REX_DDL)
        .unionByName(pipeline.map_rows(parts, _rex_part, REX_DDL))
    )


def reassemble_parts(parts_ext: DataFrame) -> DataFrame:
    """Part rows → (doc_id bigint, text): single-part docs pass through
    shuffle-free; only the oversized slice aggregates (part_idx-ordered
    space join — token stream identical to the unsplit text)."""
    singles = parts_ext.filter(~F.col("multi")).select("doc_id", "text")
    joined = (
        parts_ext.filter(F.col("multi"))
        .groupBy("doc_id")
        .agg(F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("part_idx", "text"))),
                lambda s: s["text"],
            ), " ").alias("text"))
    )
    return singles.unionByName(joined)


def extracted_text_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents(+planted clones) → PDFs → span extraction → reassembled
    text → normalized dedup groups + MinHash LSH candidate-partner counts,
    all computed on the extracted text. Output per doc: (doc_id,
    canonical_doc_id, group_size, n_tokens, n_candidates)."""
    corpus = _corpus(spark, sf_dir)
    named = corpus.select(
        F.concat(F.lit("doc_"),
                 F.lpad(F.col("doc_id").cast("string"), 8, "0")
                 ).alias("doc_id"),
        "text",
    )
    extracted = reassemble_parts(render_extract_parts(named)).persist()

    # token stats on the extracted text: the count must equal DuckDB's
    # over the ORIGINAL text — an extra per-doc integrity column beyond
    # the dedup hash. The reassembled text is single-space collapsed with
    # no edge spaces, so size(split(' ')) IS the token count — no
    # interpreted filter() HOF (Catalyst HOF lambdas never codegen; the
    # first form of this column cost +2 s on the sf0.1 suite)
    n_tokens = F.when(F.length("text") == 0, F.lit(0)).otherwise(
        F.size(F.split("text", " ", -1))).cast("long")
    # normalized dedup ON EXTRACTED TEXT (the dedup_normalized
    # normalization: lowercase, strip punctuation, collapse whitespace)
    h = extracted.select(
        "doc_id", F.md5(normalized_text()).alias("norm_hash"),
        n_tokens.alias("n_tokens"),
    )
    groups = h.groupBy("norm_hash").agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count(F.lit(1)).alias("group_size"),
    )
    dd = h.join(groups, "norm_hash").select(
        "doc_id", "canonical_doc_id", "group_size", "n_tokens")

    # MinHash LSH candidate partners ON EXTRACTED TEXT: the
    # minhash_lsh_pairs candidate stage → per-doc partner count.
    bt = band_table(minhash_signatures_pandas(extracted)).persist()
    cand = lsh_candidate_pairs(bt)
    partners = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_candidates"))
    )
    return dd.join(partners, "doc_id", "left").select(
        "doc_id", "canonical_doc_id", "group_size", "n_tokens",
        F.coalesce("n_candidates", F.lit(0)).cast("long")
        .alias("n_candidates"),
    )


# Oracle: identical math straight from documents.text (no PDF trip).
# The shared shingle/signature/band fragments are written over a
# `documents` source; retarget them at the planted-clone corpus CTE.
_CORPUS_CTE = f"""corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {CLONE_OFFSET} AS doc_id, text
    FROM documents WHERE doc_id % 7 = 0
)"""

EXTRACTED_DEDUP_SQL = f"""
WITH {_CORPUS_CTE},
{_SHINGLE_CTE.replace("FROM documents", "FROM corpus")},
sig AS (
    SELECT doc_id,
           {_SIG_COLS_SQL}
    FROM hs
),
bands AS (
    {_BANDS_SQL}
),
ok AS (
    SELECT band, band_hash FROM bands
    GROUP BY band, band_hash
    HAVING COUNT(*) BETWEEN 2 AND {MAX_BUCKET}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN ok USING (band, band_hash)
    JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
    WHERE a.doc_id < b.doc_id
),
partners AS (
    SELECT doc_id, COUNT(*) AS n_candidates FROM (
        SELECT doc_a AS doc_id FROM cand
        UNION ALL
        SELECT doc_b AS doc_id FROM cand
    ) GROUP BY doc_id
),
h AS (
    SELECT doc_id,
           MD5(TRIM(REGEXP_REPLACE(
               LOWER(REGEXP_REPLACE(text, '[^A-Za-z0-9\\s]', ' ', 'g')),
               '\\s+', ' ', 'g'))) AS norm_hash,
           CAST(LEN(LIST_FILTER(STRING_SPLIT_REGEX(text, '\\s+'),
                                x -> x <> '')) AS BIGINT) AS n_tokens
    FROM corpus
),
g AS (SELECT norm_hash, MIN(doc_id) AS canonical_doc_id,
             COUNT(*) AS group_size
      FROM h GROUP BY norm_hash)
SELECT h.doc_id, g.canonical_doc_id, g.group_size, h.n_tokens,
       CAST(COALESCE(p.n_candidates, 0) AS BIGINT) AS n_candidates
FROM h JOIN g USING (norm_hash)
LEFT JOIN partners p ON p.doc_id = h.doc_id
"""

QUERIES = {"extracted_text_dedup": extracted_text_dedup}
ORACLES = {"extracted_text_dedup": EXTRACTED_DEDUP_SQL}
