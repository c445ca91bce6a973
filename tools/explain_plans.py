"""Dump `.explain("formatted")` physical plans of the operator queries.

    python tools/explain_plans.py           → PLANS.md: the headline
        queries (plans truncated) with a summary of the scale-relevant
        properties (PushedFilters / ReadSchema / broadcast / codegen)
    python tools/explain_plans.py OUT_DIR   → OUT_DIR/<name>.txt: the
        untruncated plan of every ``all_queries()`` entry

To review a plan change, run the OUT_DIR form in both checkouts and diff
the two directories after normalizing plan ids (``#n``)."""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, ".")

SF = "/root/testdata/sf0.001"

HEADLINE = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q7_volume_shipping", "q10_returned_items", "q19_discounted_revenue",
    "top_customers_per_segment", "events_sessionize", "token_counts",
    "doc_fingerprints", "dedup_exact", "minhash_lsh_pairs",
    "embedding_near_dup_pairs", "ann_ivf_topk",
    "ann_bruteforce_topk", "extract_spans_flat", "extracted_text_dedup",
    "html_main_content",
]


def dump_all(spark, out_dir: str) -> None:
    """One untruncated plan file per ``all_queries()`` entry."""
    from unipdf_spark.operators import all_queries
    from unipdf_spark.plans import explain_str

    os.makedirs(out_dir, exist_ok=True)
    for name, fn in sorted(all_queries().items()):
        try:
            txt = explain_str(fn(spark, SF))
        except Exception as e:  # noqa: BLE001
            txt = f"ERROR: {e}"
        finally:
            # a frame cached by an earlier query would show up as an
            # InMemoryRelation in a later one: each plan must not depend
            # on which queries ran before it
            spark.catalog.clearCache()
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(txt)
    print(f"wrote {len(all_queries())} plans to {out_dir}")


def write_plans_md(spark) -> None:
    import __spark_entry__ as em
    from unipdf_spark.plans import explain_str

    qs = em.queries()
    out = [
        "# PLANS — physical plans of the headline queries\n",
        "Generated by `tools/explain_plans.py` (sf0.001 input; plan shape is",
        "scale-invariant). Properties to check: `PushedFilters` non-empty on",
        "filtered scans, `ReadSchema` pruned to used columns, dimension joins",
        "as `BroadcastHashJoin`, `WholeStageCodegen` spans around relational",
        "stages, Python only inside `MapInPandas`/`ArrowEvalPython`.\n",
    ]
    for name in HEADLINE:
        df = qs[name](spark, SF)
        txt = explain_str(df)
        pushed = re.findall(r"PushedFilters: \[[^\]]*\]", txt)
        bcast = txt.count("BroadcastHashJoin")
        wsc = len(re.findall(r"WholeStageCodegen", txt))
        out.append(f"\n## {name}\n")
        out.append(
            f"summary: broadcast_joins={bcast}, codegen_spans={wsc}, "
            f"pushed={pushed[:3]}\n"
        )
        out.append("```\n" + txt.strip()[:4000] + "\n```\n")
    out.append("""
## Notes (r7)

- **extracted_text_dedup scale shape**: ONE persisted InMemoryRelation
  over a Union of (a) the map-only small-doc branch and (b) the
  oversized-doc branch (split → range Exchange, ~one bounded atom per
  task → extract → ordered reassembly aggregate); both dedup-hash and
  LSH subtrees read the same cached relation; partner join stays a
  BroadcastHashJoin. Verified at the 100k integrated soak with a planted
  1.1 MB doc: straggler ratio 1.17, 0 errors.
- **extracted_text_dedup cold floor** (r6 VERDICT #8): cold ≈ warm +
  ~5-7 s. The delta is (1) the one-time janino/JIT compile of the
  minhash band/bucket expression family (~4-5 s per executor REGARDLESS
  of data size — same constant documented for minhash_lsh_pairs, whose
  cold-warm delta is ~4 s in the same run) and (2) the first
  materialization of the persisted render+extract frame (~1.5-2 s at 6k
  docs), which the warm run reuses via canonicalized-plan cache match.
  Both are per-executor constants that amortize to noise at production
  scale; caching rendered PDFs across the boundary would only shift cost
  (1) remains either way. Accepted floor, re-measured each round in
  BENCH queries_cold.

## Notes (r8)

- **No operator plan changed in r8.** The round's work was parser-side
  (foreign-layout corpus: linearized containers, mixed-writer /Prev
  chains, ObjStm-packed /Length and update entries, W[0]=0 sections)
  plus one engine fix (cos.py _resolve_length) — all inside the
  map-only Arrow-batched extraction UDF's per-row logic. VERIFIED by
  regenerating this file on the final r8 code and diffing against the
  committed r7 version: identical after plan-id normalization.
- **Per-doc cost bounds still hold under the new corpus**: linearized
  and chained-update docs change file layout, not content volume; the
  100k soak after the final corpus (BENCH/IDLE_R8.json) shows
  ~9,400 docs/s with 0 errors, and the isolated integrated tier reads
  straggler 1.245 — the new classes introduce no skew tail
  (foreign_encrypted_incremental measures 24.7 ms gen / 6.3 ms extract
  per doc, ~1% of the mix).

## Notes (r10)

- **No operator plan changed in r9 or r10.** Both rounds' diffs are
  parser/repair-path (cos.py xref validation + ObjStm-aware rebuild +
  trailer-fragment merge), fixture-side (tag soup, deeptree, astral
  CIDs), or harness-side (bench violations, corpus CLI persist) — all
  inside the map-only extraction UDF's per-row logic or off the query
  path entirely. VERIFIED by regenerating this file on r10 code and
  diffing against the committed r8 version: plan bodies identical.
- The real-corpus ingest path's only plan-relevant change is the CLI
  persisting outcome rows once (MapInPandas → InMemoryRelation) so the
  parquet sink, report aggregates, and ok/error counts share a single
  extraction pass instead of three.
""")
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


def main() -> None:
    from unipdf_spark.pipeline import get_spark

    spark = get_spark("plans", cores=4)
    spark.sparkContext.setLogLevel("ERROR")
    if len(sys.argv) > 1:
        dump_all(spark, sys.argv[1])
    else:
        write_plans_md(spark)
    spark.stop()


if __name__ == "__main__":
    main()
