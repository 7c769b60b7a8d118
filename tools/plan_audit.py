"""Dump formatted physical plans of the headline queries to
``BENCH/PLANS.md`` — the ``.explain("formatted")`` audit trail: scan
pruning (ReadSchema), predicate pushdown (PushedFilters), broadcast vs
shuffle joins, and WholeStageCodegen spans.

Usage: python tools/plan_audit.py [q_name ...]   (named: rewrite only those sections)
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADLINE = (
    "q_pricing_summary",
    "q_revenue_by_nation",
    "q_latest_event_per_user",
    "q_dedup_exact",
    "q_token_counts",
    "q_minhash_pairs",
    "q_ann_topk",
    "q_cells",
    "q_pip",
    "q_knn",
    "q_tile_rollup",
    "q_mosaic",
    "q_phash_neardup",
    "q_dedup_clusters",
    "q_approx_distinct",
    "q_hash_split",
    "q_image_quality",
    "q_bloom_filter",
    "q_cell_cap",
)

COMMENT = {
    "q_pricing_summary": "filter must be pushed to the scan; two-column group key, partial aggregation map-side",
    "q_revenue_by_nation": "dimension joins must be BroadcastHashJoin; only the join/agg columns read (ReadSchema)",
    "q_latest_event_per_user": "top-1-per-key via min(struct) aggregation — no global sort, no window shuffle of full rows",
    "q_dedup_exact": "hash-groupBy on md5; whole-stage codegen around the projection",
    "q_token_counts": "pure Column expressions — one codegen span, no Python",
    "q_minhash_pairs": (
        "band exchange carries (id, band, slice) only; the >=2 band-collision "
        "count prefilter (free in the candidate groupBy) kills the mid-sim "
        "flood before shingles move — measured at sf0.1: 276,535 candidates "
        "-> 5,745 (97.9% cut), verify exchange ~460 MB -> ~28 MB "
        "(5,745 pairs x 2 x ~2.4 KB sorted-shingle arrays); shingle arrays "
        "join back by id for the surviving candidates only"
    ),
    "q_ann_topk": "broadcast index; single mapInPandas scoring pass",
    "q_cells": "one ArrowEvalPython node computes all 7 cell columns in a single pass",
    "q_pip": (
        "map-only: one mapInPandas over (image_id, lat, lon) against the "
        "broadcast polygons — no exchange, no join, and the "
        "cell UDF is pruned from the scan side"
    ),
    "q_knn": "map-only: zero exchanges below the final collect",
    "q_tile_rollup": "aggregation over the decoded features (stat rows only through the exchange)",
    "q_mosaic": "explicit-count hash exchange of delta+zlib-compressed thumbs; one vectorized merge per partition",
    "q_phash_neardup": (
        "band self-join keyed on (band, value) — broadcast at this scale, "
        "sort-merge on the band key at cluster scale, never a cartesian; "
        "Hamming verify is a pure-Column bit_count inside codegen; the "
        "exchange carries (band, value, rep_id, phash) rows for class "
        "REPRESENTATIVES only (exact-dedup collapses the corpus first)"
    ),
    "q_dedup_clusters": (
        "the audited plan is the FINAL round's star graph join (the "
        "iteration runs to a fixpoint; each half-round is one groupBy-min "
        "+ one node-id equi-join over the shrinking edge set, lineage cut "
        "by localCheckpoint so the plan stays this shape at every round)"
    ),
    "q_approx_distinct": (
        "register build = two-level hash aggregation with map-side "
        "partial max on (group, bucket): the exchange carries at most "
        "groups x 256 register rows regardless of input size; no Python "
        "stage anywhere (pure Column md5/conv/bin expressions)"
    ),
    "q_hash_split": (
        "zero-shuffle: split assignment and sample membership are scan-"
        "local Column expressions; the only exchange is the left join of "
        "the two derived frames (same scan both sides at this scale)"
    ),
    "q_image_quality": (
        "one mapInPandas decode+measure pass on the scan partitioning — "
        "no exchange anywhere; only (image_id, bytes, fmt) read "
        "(ReadSchema pruning), metric rows out"
    ),
    "q_bloom_filter": (
        "the bit-position table is a dimension side (<= m_bits rows) — "
        "broadcast at this scale, shuffle-join at a larger m; probe "
        "payloads never move, only (id, pos) pairs ride the explode"
    ),
    "q_cell_cap": (
        "single window shuffle on the cell key (row_number under a "
        "deterministic order), then the cap filter — no second exchange"
    ),
}


def main():
    import __spark_entry__ as E
    from gjspark.session import get_spark

    names = sys.argv[1:] or list(HEADLINE)
    spark = get_spark("plan-audit")
    qs = E.queries()
    out_path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH", "PLANS.md")
    # named queries replace their own sections; every other section stays
    sections = {}
    if sys.argv[1:] and os.path.exists(out_path):
        with open(out_path) as f:
            for part in f.read().split("\n## ")[1:]:
                sections[part.split("\n", 1)[0]] = "\n## " + part.rstrip("\n") + "\n"
    with open(out_path, "w") as f:
        f.write(
            "# Physical plan audit (`.explain(\"formatted\")`)\n\n"
            "Generated by `tools/plan_audit.py` at sf0.01. What to look\n"
            "for per query is noted above each plan; regenerate after\n"
            "plan-affecting changes.\n"
        )
        for name in names:
            df = qs[name](spark, "/root/testdata/sf0.01")
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = f"\n## {name}\n\n"
            if name in COMMENT:
                text += f"_{COMMENT[name]}_\n"
            sections[name] = text + "\n```\n" + buf.getvalue().strip() + "\n```\n"
            print(f"{name}: ok")
        f.write("".join(sections.values()))
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
