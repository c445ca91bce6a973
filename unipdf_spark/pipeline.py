"""Spark pipeline: (doc_id, pdf_bytes) → spans_out, Arrow-batched end to end.

Design (SURVEY §3.1 "Spark lifecycle equivalent"):

    scan → size-aware salted repartition → map_rows(extract_doc)
         → spans_out (+ per-partition lineage/metrics) → sink / verification

All tokenize/classify work happens inside Arrow-batched Python workers — never
per-row Python in the driver plan. Every such worker in the package is a
plain per-row function run by :func:`map_rows`, which owns the one Arrow
batch loop (the package's only ``mapInPandas`` call). The only
cross-document relational ops are the explicit salted repartition, the
verification join, and checkpoint bookkeeping (manifest anti-join),
exactly the set called out in SURVEY §2.5.

Skew: document size is heavy-tailed (one 5,000-page PDF ≫ median). The
opt-in salted repartition spreads docs with a full-cardinality
``xxhash64(doc_id)`` salt — partitions hold near-equal doc counts, so
heavy docs amortize (48k drill: straggler ratio 1.4, bar < 2); salting
is opt-in because shuffling payload bytes costs ~40% throughput on
already-balanced parquet inputs (SURVEY §4 "Custom needed").
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import DataType

from . import schema

# Arrow batch sizing: docs are fat rows, but too-small batches pay per-batch
# serialization overhead. r11 re-measured at 50k-doc extraction scale:
# 256 → 7.54 s, 1024 → 6.38 s, 64 → 7.53 s same-session best-of-2 (and
# 512/1024/2048 statistically indistinguishable across interleaved runs on
# this host, all ahead of 256). 1024 keeps batches ≤ ~10 MB at 2-10 KB/doc
# and a 65 KB part-row ceiling (~66 MB worst case on the oversized-doc
# split path) — bounded worker memory at any corpus scale.
ARROW_BATCH_CONF = {
    "spark.sql.execution.arrow.maxRecordsPerBatch": "1024",
    "spark.sql.adaptive.enabled": "true",
}



def get_spark(app: str = "unipdf-spark", cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    import os

    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    b = (
        SparkSession.builder.appName(app)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # forked workers skip re-reading pyspark.zip on every task
        # (worker_daemon.py)
        .config("spark.python.daemon.module", "unipdf_spark.worker_daemon")
    )
    for k, v in ARROW_BATCH_CONF.items():
        b = b.config(k, v)
    return b.getOrCreate()


# --- the Arrow-batched Python stage ------------------------------------------


def map_rows(df: DataFrame, fn, ddl: str) -> DataFrame:
    """The package's one Arrow-batched Python stage: ``fn(*row)`` runs on
    every input row (columns in ``df`` order) and returns zero or more
    output tuples in ``ddl`` column order; each Arrow batch becomes one
    pandas frame. The batch function carries ``fn``'s name, so each
    ``MapInPandas`` node of a plan still says what runs there."""
    cols = DataType.fromDDL(ddl).fieldNames()

    def batches(frames: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in frames:
            yield pd.DataFrame(
                [out for row in b.itertuples(index=False, name=None)
                 for out in fn(*row)],
                columns=cols,
            )

    batches.__name__ = fn.__name__
    return df.mapInPandas(batches, schema=ddl)


def lineage(t0: float) -> tuple[int, float]:
    """Per-row lineage columns: (partition_id, elapsed_ms since ``t0``)."""
    tc = TaskContext.get()
    return (tc.partitionId() if tc else -1,
            (time.perf_counter() - t0) * 1000.0)


def span_tuples(spans) -> list[tuple]:
    """Span dicts → rows of the ``schema.SPANS_DDL`` struct array."""
    return [(s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in spans]


# --- distributed fixture generation ------------------------------------------


def _golden_row(doc_id: str, cls: str, golden, pdf_bytes: bytes) -> tuple:
    """One ``schema.DOCS_PDF_GOLDEN_DDL`` row."""
    return doc_id, pdf_bytes, len(golden), cls, span_tuples(golden)


def gen_docs_pdf(spark: SparkSession, n_docs: int, seed: int = 42,
                 mix="default", partitions: int | None = None) -> DataFrame:
    """Distributed fixture corpus: spark.range → map_rows(render_fixture).
    Generation is a pure function of (seed, doc_id) so any executor can
    (re)produce any doc — no driver-side rendering, no broadcast payloads."""
    parts = partitions or spark.sparkContext.defaultParallelism

    def render_fixture(i):
        from .fixtures import gen

        if isinstance(mix, list):  # explicit [(class, weight), ...]
            use_mix = mix
        else:
            use_mix = gen.BENCH_MIX if mix == "bench" else gen.DEFAULT_MIX
        doc_id = f"doc_{i:08d}"
        cls = gen._class_for(i, use_mix)
        yield _golden_row(doc_id, cls, *gen.make_doc(doc_id, cls, seed))

    return map_rows(spark.range(0, n_docs, numPartitions=parts),
                    render_fixture, schema.DOCS_PDF_GOLDEN_DDL)


def docs_pdf_from_documents(spark: SparkSession, sf_dir: str,
                            limit: int | None = None) -> DataFrame:
    """Render the TPC-H-ish `documents` table's text into PDFs (distributed),
    carrying golden spans — exercises the engine on external text."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if limit:
        docs = docs.limit(limit)
    docs = docs.select(
        F.concat(F.lit("doc_"), F.lpad(F.col("doc_id").cast("string"), 8, "0")
                 ).alias("doc_id"),
        "text",
    )

    def render_text(doc_id, text):
        from .fixtures.gen import make_text_doc

        yield _golden_row(doc_id, "external_text",
                          *make_text_doc(doc_id, text or ""))

    return map_rows(docs, render_text, schema.DOCS_PDF_GOLDEN_DDL)


def docs_pdf_from_spans_table(docs: DataFrame) -> DataFrame:
    """AUTHORITATIVE input shape → rendered PDFs: takes docs(doc_id,
    spans array<struct<kind,text,media_ref,offset>>) per BASELINE.json
    input_hint and renders each row (distributed), carrying the normalized
    golden spans (text normalized to the renderable subset; media payloads
    derived from the opaque input refs — see fixtures.gen.make_spans_doc)."""

    def render_spans(doc_id, spans):
        from .fixtures.gen import make_spans_doc

        span_dicts = [
            {"kind": s["kind"], "text": s["text"],
             "media_ref": s["media_ref"], "offset": s["offset"]}
            for s in spans
        ]
        yield _golden_row(doc_id, "spans_table",
                          *make_spans_doc(doc_id, span_dicts))

    return map_rows(docs.select("doc_id", "spans"), render_spans,
                    schema.DOCS_PDF_GOLDEN_DDL)


# --- extraction stage -----------------------------------------------------------


def salted_repartition(df: DataFrame, partitions: int,
                       bytes_col: str = "pdf_bytes") -> DataFrame:
    """Salted repartition for heavy-tailed inputs (SURVEY §4): full-
    cardinality per-doc salt so `repartition`'s hash spreads docs
    uniformly. (The r4 form hashed `xxhash64 % partitions` — only
    `partitions` distinct keys into `partitions` bins, the classic
    balls-into-bins collision: ~1/e of partitions empty and 2–3× doc
    count on the collided ones, measured as a 3× straggler ratio in the
    48k skew drill. A per-doc salt is both simpler and balanced.)"""
    return df.repartition(partitions, F.xxhash64(F.col("doc_id")))


def extract_doc(doc_id, pdf_bytes):
    """pdf_bytes → one ``schema.SPANS_OUT_DDL`` row (spans + metrics). Pure
    Python/NumPy inside Arrow batches; no Spark calls."""
    from .pdf.extract import extract_spans

    t0 = time.perf_counter()
    res = extract_spans(bytes(pdf_bytes))
    pid, ms = lineage(t0)
    yield (doc_id, span_tuples(res.spans), res.n_chars, res.n_misses, pid,
           ms, res.error)


def run_extraction(docs_pdf: DataFrame, partitions: int | None = None,
                   salt: bool = False) -> DataFrame:
    """Extraction stage. ``salt=False`` by default: shuffling the PDF payload
    through an exchange costs ~40% throughput (measured: 2549 vs 4085 docs/s
    at local[32]); inputs read from parquet/Iceberg are already split-balanced
    by ``maxPartitionBytes``. Enable ``salt`` only for size-skewed inputs
    (heavy-tailed doc sizes), where the shuffle buys straggler elimination."""
    df = docs_pdf.select("doc_id", "pdf_bytes")
    if salt:
        spark = docs_pdf.sparkSession
        parts = partitions or spark.sparkContext.defaultParallelism
        df = salted_repartition(df, parts)
    elif partitions:
        # honor the explicit partition request without a payload shuffle
        # where possible: coalesce narrows (no exchange); growing the
        # partition count genuinely requires a repartition exchange
        cur = df.rdd.getNumPartitions()
        if partitions < cur:
            df = df.coalesce(partitions)
        elif partitions > cur:
            df = df.repartition(partitions)
    return map_rows(df, extract_doc, schema.SPANS_OUT_DDL)


TABLE_CELLS_DDL = "doc_id string, table_idx int, row int, col int, cell string"
LIST_ITEMS_DDL = ("doc_id string, list_idx int, item_idx int, label string, "
                  "body string")


def table_cells(doc_id, pdf_bytes):
    """pdf_bytes → one row per (table, row, col) cell — the
    TextTable/TableCell structured API (extractor.go:35/:899) lifted to a
    relational shape."""
    from .pdf.extract import extract_tables

    for ti, t in enumerate(extract_tables(bytes(pdf_bytes))):
        for r, rowvals in enumerate(t["cells"]):
            for c, cell in enumerate(rowvals):
                yield doc_id, ti, r, c, cell


def list_items(doc_id, pdf_bytes):
    """pdf_bytes → one row per (list, item): label + body."""
    from .pdf.extract import extract_lists

    for li, lst in enumerate(extract_lists(bytes(pdf_bytes))):
        for ii, item in enumerate(lst["items"]):
            yield doc_id, li, ii, item["label"], item["body"]


def run_table_extraction(docs_pdf: DataFrame) -> DataFrame:
    """Structured table cells for every detected table (map-only, same
    no-payload-shuffle policy as run_extraction)."""
    return map_rows(docs_pdf.select("doc_id", "pdf_bytes"), table_cells,
                    TABLE_CELLS_DDL)


def run_list_extraction(docs_pdf: DataFrame) -> DataFrame:
    """Structured list items for every detected list (map-only, same
    no-payload-shuffle policy as run_extraction)."""
    return map_rows(docs_pdf.select("doc_id", "pdf_bytes"), list_items,
                    LIST_ITEMS_DDL)


def partition_lineage(spans_out: DataFrame) -> DataFrame:
    """Per-partition lineage & metrics (north rule): doc counts, error counts,
    char volume, and latency percentiles per physical partition — built from
    the side-channel columns the extraction stage emits, aggregated with
    built-in aggs (SURVEY §4 'per-partition metrics')."""
    return (
        spans_out.groupBy("partition_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias(
                "n_errors"
            ),
            F.sum("n_chars").alias("total_chars"),
            F.sum("n_misses").alias("total_misses"),
            F.round(F.sum("elapsed_ms"), 1).alias("cpu_ms"),
            F.round(F.expr("percentile_approx(elapsed_ms, 0.5)"), 2).alias(
                "p50_ms"
            ),
            F.round(F.expr("percentile_approx(elapsed_ms, 0.99)"), 2).alias(
                "p99_ms"
            ),
            F.round(F.max("elapsed_ms"), 2).alias("max_ms"),
        )
        .orderBy("partition_id")
    )


# --- verification ---------------------------------------------------------------


def _span_seq_digest(col: str):
    """Canonical md5 digest of a span sequence's (kind, text, media_ref)
    projection. ``to_json`` over the fixed struct schema is injective —
    field order is schema-fixed, string values are JSON-escaped, and a
    null field is omitted (consistently on both sides), so two distinct
    sequences can never serialize alike; a null input array digests to
    null (preserving the missing-row → match NULL contract)."""
    return F.md5(F.to_json(F.transform(
        col,
        lambda s: F.struct(
            s["kind"].alias("kind"), s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
        ),
    )))


def span_equality(docs_pdf: DataFrame, spans_out: DataFrame) -> DataFrame:
    """Per-doc span-sequence equality (kind, text, media_ref, order) — the
    north-rule invariant — as a DataFrame join (no driver-side compare).
    `offset` equality is asserted separately as a property test.

    The compare joins 128-bit per-doc digests, not the span payloads:
    both sides reduce map-side to (doc_id, md5(to_json(key_seq))), so the
    join exchange/broadcast carries ~48 bytes per doc instead of the full
    extracted text (guide §2.3 "shuffle keys and metadata instead of
    payloads" — at the 1M-doc soak the broadcast side drops from GB-scale
    span arrays to ~64 MB of digests). Semantics are unchanged: digest
    equality ≡ sequence equality (injective serialization, see
    :func:`_span_seq_digest`; the match column A/B against the direct
    struct-sequence compare is locked by a permanent test)."""
    g = docs_pdf.select(
        "doc_id", "fixture_class",
        _span_seq_digest("golden_spans").alias("golden_key"),
    )
    e = spans_out.select(
        "doc_id", "error", "n_misses",
        _span_seq_digest("spans").alias("got_key"),
    )
    return g.join(e, "doc_id", "left").select(
        "doc_id",
        "fixture_class",
        "error",
        "n_misses",
        (F.col("golden_key") == F.col("got_key")).alias("match"),
    )


# --- checkpoint / resume ---------------------------------------------------------


def run_with_checkpoint(docs_pdf: DataFrame, out_dir: str,
                        partitions: int | None = None,
                        buckets: int = 16,
                        max_buckets_per_pass: int | None = None) -> None:
    """Checkpoint-resumable extraction: docs are bucketed by xxhash64(doc_id);
    finished buckets are skipped on restart via the manifest (SURVEY §4
    'checkpoint/resume'). Output is byte-identical regardless of how many
    times the job was interrupted (bucket contents are deterministic).

    By default all pending buckets are extracted and written in ONE pass
    (`partitionBy("bucket")`), then each completed bucket directory gets its
    manifest row — a cold resume pays the upstream plan once, not once per
    bucket (round-1 ran `buckets` sequential jobs, each re-deriving the full
    upstream ~16×). Within one attempt, Spark task retries handle transient
    failures; across attempts, the manifest anti-join skips whole buckets.

    ``max_buckets_per_pass`` bounds the work unit: process at most that
    many buckets per write+manifest commit, looping until done. A crash
    then loses only the in-flight chunk — the knob a 100 TB run uses to
    trade re-derivation cost against blast radius (the kill-resume drill,
    bench/drill.py, exercises exactly this)."""
    import os

    spark = docs_pdf.sparkSession
    manifest_dir = os.path.join(out_dir, "_manifest")
    spans_dir = os.path.join(out_dir, "spans")
    done: set[int] = set()
    if os.path.isdir(manifest_dir):
        try:
            mdf = spark.read.parquet(manifest_dir)
            done = {r["bucket"] for r in mdf.select("bucket").collect()}
        except Exception:
            done = set()
    pending = [b for b in range(buckets) if b not in done]
    if not pending:
        return

    bucketed = docs_pdf.withColumn(
        "bucket", (F.pmod(F.xxhash64("doc_id"), F.lit(buckets))).cast("int")
    )
    chunk = max_buckets_per_pass or len(pending)
    for i0 in range(0, len(pending), chunk):
        batch = pending[i0 : i0 + chunk]
        part = bucketed.filter(F.col("bucket").isin(batch))
        t0 = time.time()
        # re-derive the bucket from doc_id AFTER extraction (cheap
        # expression, no join/shuffle) — extraction stays map-only
        out = run_extraction(part.drop("bucket"), partitions).withColumn(
            "bucket",
            (F.pmod(F.xxhash64("doc_id"), F.lit(buckets))).cast("int"),
        )
        out.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"  # never touch done buckets
        ).partitionBy("bucket").parquet(spans_dir)
        elapsed = time.time() - t0
        counts = {
            r["bucket"]: r["n"]
            for r in spark.read.parquet(spans_dir)
            .filter(F.col("bucket").isin(batch))
            .groupBy("bucket").agg(F.count("*").alias("n")).collect()
        }
        lineage = spark.createDataFrame(
            [(b, counts.get(b, 0), elapsed, time.time()) for b in batch],
            "bucket int, n_docs long, elapsed_s double, finished_at double",
        )
        lineage.write.mode("append").parquet(manifest_dir)


def read_checkpointed(spark: SparkSession, out_dir: str) -> DataFrame:
    import os

    return spark.read.parquet(os.path.join(out_dir, "spans"))
