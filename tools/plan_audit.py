"""Registry-wide physical-plan audit: every registered query's executed
plan is checked for the three anti-patterns that kill 100 TB jobs —
cartesian joins (CartesianProduct / BroadcastNestedLoopJoin),
row-at-a-time Python (BatchEvalPython) and unpartitioned windows (a
Window with no partition expressions runs as one task over its whole
input) — plus scans wider than the query's projection would justify is
left to test_plans.py's per-query assertions.

Queries that legitimately use a fenced cartesian, an intrinsic Python
kernel or a bounded-input global window are WHITELISTED with the reason
inline, so the audit is also the living inventory of every escape hatch
in the engine. Anything not whitelisted fails the audit.

Usage: python tools/plan_audit.py [sf_dir]   (plan-only; small jobs run
for operators that materialize during construction, e.g. k-means seeds)
Writes PLAN_AUDIT.json.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

# name -> reason a cartesian is acceptable (fenced/bounded/1-row)
CROSS_OK = {
    "cross": "the CROSS operator IS a cartesian by definition",
    "nested_cross": "inner CROSS of two small per-group bags",
    "scalar_of_relation": "1-row scalar broadcast into the plan",
    "group_all": "GROUP ALL collapses to one group (1-row side)",
    "zorder": "1-row min/max stats broadcast for key scaling",
    "outliers": "1-row via broadcast stats join (no cartesian of data)",
    "heavy_hitters": "1-row exact-total broadcast for the threshold",
    "bloom_join": "1-row bloom-bits aggregate broadcast",
    "similarity_bruteforce": "documented brute-force baseline: queries x corpus",
    "dedup_embedding": "documented blocked-quadratic embedding near-dup (LSH is the scale path)",
    "ngram_jaccard": "documented blocked-quadratic pair verify",
    "semantic_dedup": "k-row centroid matrix broadcast",
    "kmeans": "k-row centroid matrix broadcast",
    "similarity_ivf_trained": "k-row trained-centroid broadcast",
    "similarity_ivf": "n_centroids-row broadcast",
    "sketch_distinct": "1-row HLL result compared to 1-row exact",
    "pagerank": "1-row dangling-mass aggregate broadcast per round",
    "multimodal_phash": "pigeonhole band join verify within <=3 bands",
    "multimodal_near_dedup": "same aHash banded verify as multimodal_phash",
    "dedup_spans": "anchor-span verify within content-defined blocks",
    "chi2_lang_source": "category-sized margins cross join (|A|x|B|)",
    "equifreq_bins": "1-row total-count broadcast for the cumulative bin rule",
    "benford": "1-row total-count broadcast for the ppm shares",
    "bigram_lm": "1-row vocabulary-size broadcast for the smoothing denominator",
    "hard_negatives": "documented exact mining baseline: anchors x corpus (IVF variant is the scale path)",
    "item_cooccurrence": "1-row basket-count broadcast for the lift denominator",
    "covisitation": "same 1-row basket-count broadcast (composition of item_cooccurrence)",
    "rfm": "1-row max-date and per-metric 1-row total broadcasts (score maps themselves are equi-joins, fence-guarded)",
    "abc_suppliers": "1-row grand-total broadcast for the class boundary ppm comparison",
    "shard_plan_incremental": "1-row shipped-manifest total broadcast (the append base offset)",
    "containment": "1-row corpus-count broadcast for the relative df cap (lazy max_df_frac)",
}

# name -> reason Python row-crossing is intrinsic
PYTHON_OK = {
    "udf_python": "the query TESTS the Python UDF surface",
    "udaf_custom": "grouped-agg pandas UDAF surface",
    "group_apply": "applyInPandas escape hatch, documented",
    "stream_through": "STREAM THROUGH pipes rows by contract",
    "partition_by_custom": "registered Python placement fn (RDD escape)",
    "heavy_hitters": "bounded Misra-Gries mapInPandas kernel",
    "multimodal_decode": "codec kernel (mapInPandas, Arrow batches)",
    "multimodal_decode_pnm": "codec kernel",
    "multimodal_audio": "WAV PCM decode kernel",
    "multimodal_features": "feature-extraction kernel",
    "multimodal_frames": "frame-sampling kernel",
    "multimodal_resize": "resize kernel",
    "multimodal_phash": "aHash raster kernel",
    "multimodal_near_dedup": "aHash raster kernel",
    "kmeans": "vectorized pandas assignment for large k*dim",
    "semantic_dedup": "same pandas assignment path",
}

# name -> bound on the input of its unpartitioned (single-task) Window
WINDOW_OK = {
    "rfm": "score maps over at most CARDINALITY_FENCE counted distinct values (two-pass above it)",
    "abc_suppliers": "key table of at most CARDINALITY_FENCE counted rows (two-pass above it)",
    "equifreq_bins": "distinct values, at most CARDINALITY_FENCE counted rows (two-pass above it)",
    "growth": "one row per calendar day",
    "benford": "total over the 9-row digit domain",
    "compaction_plan": "file-listing metadata, not data",
    "dedup_minhash": "shingle-vocabulary rank, bounded by the shingle charset (ROADMAP item 3)",
    "dedup_incremental": "same shingle-vocabulary rank as dedup_minhash",
    "dedup_index_roundtrip": "same shingle-vocabulary rank as dedup_minhash",
}

BAD_CROSS = ("CartesianProduct", "BroadcastNestedLoopJoin")
BAD_PY = ("BatchEvalPython",)
_WINDOW_OP = re.compile(r"(?:^|[\s:+-])Window \[")
_SORT_ITEM = re.compile(r" (?:ASC|DESC) NULLS (?:FIRST|LAST)$")


def unpartitioned_window(plan: str) -> bool:
    """True if some Window operator in ``plan`` has no partition
    expressions. windowspecdefinition prints its partition expressions
    first, then its sort items, then the frame: the spec is unpartitioned
    when its first argument is already a sort item or the frame."""
    for line in plan.splitlines():
        if not _WINDOW_OP.search(line):
            continue
        i = line.find("windowspecdefinition(")
        if i < 0:
            continue
        start = j = i + len("windowspecdefinition(")
        depth = 0
        while j < len(line):
            ch = line[j]
            if ch in "([":
                depth += 1
            elif ch in ")]":
                if depth == 0:
                    break
                depth -= 1
            elif ch == "," and depth == 0:
                break
            j += 1
        first = line[start:j].strip()
        if first.startswith(("specifiedwindowframe", "unspecifiedframe")) \
                or _SORT_ITEM.search(first):
            return True
    return False


def main() -> None:
    import __spark_entry__ as entrymod
    from spork_spark import get_spark

    spark = get_spark(master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    report = {"sf": SF, "n_queries": len(qs), "violations": [],
              "whitelisted_hits": [], "errors": []}
    for name, fn in qs.items():
        try:
            plan = fn(spark, SF)._jdf.queryExecution() \
                .executedPlan().toString()
        except Exception as exc:        # noqa: BLE001 - audit must finish
            report["errors"].append({"query": name, "error": str(exc)[:200]})
            continue
        for pat in BAD_CROSS:
            if pat in plan:
                entry = {"query": name, "pattern": pat}
                if name in CROSS_OK:
                    entry["reason"] = CROSS_OK[name]
                    report["whitelisted_hits"].append(entry)
                else:
                    report["violations"].append(entry)
                break
        for pat in BAD_PY:
            if pat in plan:
                entry = {"query": name, "pattern": pat}
                if name in PYTHON_OK:
                    entry["reason"] = PYTHON_OK[name]
                    report["whitelisted_hits"].append(entry)
                else:
                    report["violations"].append(entry)
                break
        if unpartitioned_window(plan):
            entry = {"query": name, "pattern": "unpartitioned Window"}
            if name in WINDOW_OK:
                entry["reason"] = WINDOW_OK[name]
                report["whitelisted_hits"].append(entry)
            else:
                report["violations"].append(entry)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "PLAN_AUDIT.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    print(f"{len(qs)} queries, {len(report['violations'])} violations, "
          f"{len(report['whitelisted_hits'])} whitelisted, "
          f"{len(report['errors'])} errors")
    for v in report["violations"]:
        print("VIOLATION", v)
    sys.exit(1 if report["violations"] or report["errors"] else 0)


if __name__ == "__main__":
    main()
