"""The Spark process of one benchmark run: set up, run the workload's job a
fixed number of times back to back, verify every output, report.

``run.py`` starts this file as a fresh process and notes the wall clock
just before, so ``setup_s`` covers interpreter start, imports, Spark start,
the Python-worker warm-up job and registering the generated input.  The
result goes to ``--out`` as JSON.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F  # noqa: E402

import procfs  # noqa: E402
from unipdf_spark import pipeline  # noqa: E402

MAX_FAILED_IDS = 25


class Iteration:
    """Wall time per named step of one job, under one Spark job group."""

    def __init__(self, sc, index: int):
        self.sc = sc
        self.group = f"perfbench-{index}"
        self.steps: dict[str, float] = {}

    @contextlib.contextmanager
    def step(self, name: str):
        self.sc.setJobGroup(self.group, name)
        t0 = time.perf_counter()
        yield
        self.steps[name] = self.steps.get(name, 0.0) + (
            time.perf_counter() - t0)


def _outcome(n_docs: int, rows: int, n_ok: int, bad: list[str]) -> dict:
    """A job's verdict.  A document fails when its output row is missing,
    is an error row or differs from the oracle; a duplicated or stray
    output row fails the whole job."""
    failed = n_docs - n_ok if rows == n_docs else n_docs
    return {"docs": n_docs, "ok": n_docs - failed, "failed_ids": bad}


def verify_spans(docs, got, n_docs: int) -> dict:
    """``span_equality`` against the generator's golden spans; a document
    passes only with ``match`` true and no error."""
    eq = pipeline.span_equality(docs, got).withColumn(
        "ok", F.coalesce(F.col("match") & F.col("error").isNull(),
                         F.lit(False)))
    r = eq.agg(F.count(F.lit(1)).alias("rows"),
               F.sum(F.col("ok").cast("long")).alias("ok")).collect()[0]
    bad = []
    if r["ok"] != n_docs:
        bad = [x["doc_id"] for x in eq.filter(~F.col("ok"))
               .select("doc_id").limit(MAX_FAILED_IDS).collect()]
    return _outcome(n_docs, r["rows"], r["ok"] or 0, bad)


def verify_digests(oracle, got, n_docs: int, errors=None) -> dict:
    """Per-document digest ``got`` (doc_id bigint, got) against the oracle
    table (doc_id bigint, want) that the generator computed from the source
    text; ``errors`` optionally names documents with an error row."""
    j = oracle.join(got, "doc_id", "left")
    ok = F.coalesce(F.col("got") == F.col("want"), F.lit(False))
    if errors is not None:
        j = j.join(errors.withColumn("err", F.lit(True)), "doc_id", "left")
        ok = ok & F.col("err").isNull()
    j = j.withColumn("ok", ok)
    r = j.agg(F.count(F.lit(1)).alias("rows"),
              F.sum(F.col("ok").cast("long")).alias("ok")).collect()[0]
    bad = []
    if r["ok"] != n_docs:
        bad = [f"doc_{x['doc_id']:08d}" for x in j.filter(~F.col("ok"))
               .select("doc_id").limit(MAX_FAILED_IDS).collect()]
    return _outcome(n_docs, r["rows"], r["ok"] or 0, bad)


def candidate_pairs(ext) -> int:
    """MinHash LSH candidate pairs over (doc_id, text), through the
    count-gated bounded buckets of ``operators.dedup``: the construction
    ``extracted_text_dedup`` and bench.py's integrated tier use inline,
    which no public function exposes."""
    from unipdf_spark.operators.dedup import (
        MAX_BUCKET, band_table, minhash_signatures_pandas)

    bt = band_table(minhash_signatures_pandas(ext)).persist()
    ok = (bt.groupBy("band", "band_hash")
          .agg(F.count(F.lit(1)).alias("n"))
          .filter((F.col("n") >= 2) & (F.col("n") <= MAX_BUCKET))
          .select("band", "band_hash"))
    n = (bt.join(ok, ["band", "band_hash"], "left_semi")
         .groupBy("band", "band_hash")
         .agg(F.collect_list("doc_id").alias("members"))
         .select(F.explode("members").alias("doc_a"), "members")
         .select("doc_a", F.explode("members").alias("doc_b"))
         .filter(F.col("doc_a") < F.col("doc_b"))
         .distinct().count())
    bt.unpersist()
    return n


# --- workloads: each registers its input and returns one job --------------


def pdf_mix(spark, inp: Path, work: Path, meta: dict):
    docs = spark.read.parquet(str(inp / "docs"))

    def job(it: Iteration) -> dict:
        with it.step("pipeline.extract_stage_s"):
            out = pipeline.run_extraction(docs).persist()
            out.count()
        with it.step("pipeline.verify_s"):
            res = verify_spans(docs, out, meta["n_docs"])
        out.unpersist()
        return res

    return job


def pdf_long(spark, inp: Path, work: Path, meta: dict):
    docs = spark.read.parquet(str(inp / "docs"))

    def job(it: Iteration) -> dict:
        out_dir = work / it.group
        with it.step("pipeline.checkpoint_s"):
            pipeline.run_with_checkpoint(docs, str(out_dir))
        with it.step("pipeline.checkpoint.read_s"):
            got = pipeline.read_checkpointed(spark, str(out_dir)).persist()
            got.count()
        with it.step("pipeline.verify_s"):
            res = verify_spans(docs, got, meta["n_docs"])
        got.unpersist()
        res["pipeline.checkpoint.output_mb"] = sum(
            f.stat().st_size for f in (out_dir / "spans").rglob("*")
            if f.is_file()) / 2**20
        shutil.rmtree(out_dir)
        return res

    return job


def text_dedup_html(spark, inp: Path, work: Path, meta: dict):
    from unipdf_spark.operators.extracted import (
        reassemble_parts, render_extract_parts)
    from unipdf_spark.operators.htmlops import html_main_content

    corpus = spark.read.parquet(str(inp / "docs"))
    oracle = spark.read.parquet(str(inp / "oracle.parquet"))
    html_oracle = spark.read.parquet(str(inp / "html_oracle.parquet"))

    def job(it: Iteration) -> dict:
        with it.step("operators.extracted.render_extract_s"):
            pe = render_extract_parts(corpus).persist()
            n_rows = pe.count()
        with it.step("operators.extracted.reassemble_s"):
            ext = reassemble_parts(pe).persist()
            ext.count()
        with it.step("pipeline.verify_s"):
            res = verify_digests(
                oracle, ext.select("doc_id", F.md5("text").alias("got")),
                meta["n_docs"],
                errors=pe.filter(F.col("error").isNotNull())
                .select("doc_id").distinct())
        with it.step("operators.dedup.lsh_s"):
            res["operators.dedup.candidate_pairs"] = candidate_pairs(ext)
        ext.unpersist()
        pe.unpersist()
        with it.step("operators.htmlops.main_content_s"):
            main = html_main_content(spark, str(inp / "html")).persist()
            main.count()
        with it.step("pipeline.verify_s"):
            html = verify_digests(
                html_oracle,
                main.select("doc_id", F.col("main_hash").alias("got")),
                meta["n_html"])
        main.unpersist()
        res["docs"] += html["docs"]
        res["ok"] += html["ok"]
        res["failed_ids"] += html["failed_ids"]
        # rows beyond one per document are the oversized documents' parts
        res["operators.extracted.parts"] = (
            n_rows - meta["n_docs"] + meta["oversized_docs"])
        return res

    return job


JOBS = {"pdf_mix": pdf_mix, "pdf_long": pdf_long,
        "text_dedup_html": text_dedup_html}
# Typical warm job time on a 4-core host.  A run times round(seconds /
# this) jobs, at least one: a count fixed in advance, because the jobs keep
# speeding up through the window, so a count decided by the clock would
# mix runs of n and n + 1 jobs whose medians differ.
JOB_S = {"pdf_mix": 2.0, "pdf_long": 4.0, "text_dedup_html": 9.0}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(JOBS))
    ap.add_argument("--input", required=True, type=Path)
    ap.add_argument("--work", required=True, type=Path)
    ap.add_argument("--out", required=True, type=Path)
    ap.add_argument("--nproc", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    meta = json.loads((a.input / "meta.json").read_text())

    marks = {"imported": time.time()}
    spark = pipeline.get_spark("perfbench", cores=a.nproc)
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    marks["session"] = time.time()
    job = JOBS[a.workload](spark, a.input, a.work, meta)
    marks["registered"] = time.time()
    # warm-up: one full, verified job spawns a Python worker per core and
    # imports and JIT-compiles what the timed jobs run
    warm = job(Iteration(sc, -1))
    marks["ready"] = time.time()

    me = os.getpid()
    mem = procfs.PeakMemory(me).start()
    iters: list[dict] = []
    for i in range(max(1, round(a.seconds / JOB_S[a.workload]))):
        it = Iteration(sc, i)
        cpu0, t0 = procfs.tree_cpu_s(me), time.perf_counter()
        res = job(it)
        wall = time.perf_counter() - t0
        res.update(wall_s=wall, cpu_s=procfs.tree_cpu_s(me) - cpu0,
                   steps=it.steps, group=it.group)
        iters.append(res)
    peak_pss_mb = mem.stop()

    spark_layers = None
    if a.trace:
        from sparkui import SparkUI

        spark_layers = SparkUI(spark).group_metrics(
            [r["group"] for r in iters])
    a.out.write_text(json.dumps({
        "setup_marks": marks, "warmup": warm, "iterations": iters,
        "peak_pss_mb": peak_pss_mb, "spark_layers": spark_layers,
        "master": sc.master,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
