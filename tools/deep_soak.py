"""Multi-seed deep span-equality soak — beyond the bench's seed-42 corpus.

The r9 transport-junk regression hid in a knob combination only the 100k
seed-42 soak reached; every committed bench draws that one seed. This tool
sweeps N docs under each of several FRESH seeds (fixture generation is a
pure function of (seed, doc_id), so each seed is a disjoint region of the
knob space) and asserts the north-rule invariant — span-sequence equality
(kind, text, media_ref, order) — on every doc. Any inequality prints the
doc_id / fixture_class / error loudly and the process exits nonzero.

Usage:  python tools/deep_soak.py [--docs N] [--seeds s1,s2,...]
Run it offline (not part of bench.py) and record the outcome as a
COVERAGE note; reference invariant: BASELINE.json north_rule.
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=150000)
    ap.add_argument("--seeds", default="7,101,20260818")
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()
    seeds = [int(s) for s in args.seeds.split(",") if s]

    from pyspark.sql import functions as F

    from unipdf_spark import pipeline

    os.environ.setdefault("SPARK_DRIVER_MEM", "48g")
    spark = pipeline.get_spark("deep-soak", cores=args.cpus)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    spark.sparkContext.setLogLevel("ERROR")

    overall = {"docs_per_seed": args.docs, "seeds": {}, "total_violations": 0}
    for seed in seeds:
        t0 = time.perf_counter()
        docs = pipeline.gen_docs_pdf(
            spark, args.docs, seed=seed, mix="default",
            partitions=args.cpus * 2,
        ).persist()
        docs.count()
        gen_sec = time.perf_counter() - t0

        t0 = time.perf_counter()
        out = pipeline.run_extraction(docs).persist()
        out.count()
        extract_sec = time.perf_counter() - t0

        eq = pipeline.span_equality(docs, out).persist()
        agg = eq.agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("match"), 1).otherwise(0)).alias("ok"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)
                  ).alias("errors"),
        ).collect()[0]
        bad = (
            eq.filter(~F.coalesce(F.col("match"), F.lit(False)))
            .select("doc_id", "fixture_class", "error")
            .limit(50)
            .collect()
        )
        by_class = {
            r["fixture_class"]: r["cnt"]
            for r in eq.groupBy("fixture_class")
            .agg(F.count("*").alias("cnt")).collect()
        }
        eq.unpersist(); out.unpersist(); docs.unpersist()

        n_bad = int(agg["n"]) - int(agg["ok"])
        if n_bad > len(bad):
            print(
                f"SPAN EQUALITY: showing {len(bad)} of {n_bad} violations "
                f"(sample capped at 50)",
                file=sys.stderr, flush=True,
            )
        for r in bad:
            print(
                f"SPAN EQUALITY VIOLATION seed={seed} doc={r['doc_id']} "
                f"class={r['fixture_class']} error={r['error']!r}",
                file=sys.stderr, flush=True,
            )
        overall["seeds"][seed] = {
            "n": agg["n"], "ok": agg["ok"], "errors": agg["errors"],
            "violations": agg["n"] - agg["ok"],
            "gen_sec": round(gen_sec, 1),
            "extract_sec": round(extract_sec, 1),
            "docs_per_sec": round(args.docs / extract_sec, 1),
            "classes_drawn": len(by_class),
        }
        overall["total_violations"] += agg["n"] - agg["ok"]
        print(f"seed {seed}: {agg['ok']}/{agg['n']} ok, "
              f"{agg['errors']} errors, {len(by_class)} classes, "
              f"extract {extract_sec:.1f}s", flush=True)

    overall["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
    print(json.dumps(overall))
    spark.stop()
    sys.exit(1 if overall["total_violations"] else 0)


if __name__ == "__main__":
    main()
