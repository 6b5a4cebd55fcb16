"""Generate PLANS.md: physical-plan evidence for the headline queries.

For each audited query, extracts the facts that matter at 100 TB:
pushed filters, pruned read schemas, join strategies, and the exchange
(shuffle) count — the things `.explain("formatted")` shows.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

AUDITED = [
    "pricing_summary",
    "shipping_priority",
    "local_supplier_volume",
    "filter_images_semijoin",
    "denormalize_category",
    "diff_three_way",
    "iou_pairs",
    "pr_curve",
    "minhash_lsh_pairs",
    "cosine_topk",
    "greedy_matching",
    "hourly_rollup",
    "detection_pr_ap",
    "embedding_near_dup",
    "reset_index",
    # round 2 additions
    "decontaminate",
    "repetition_signals",
    "stratified_sample",
    # round 3 additions
    "pii_signals",
    "validation_counts",
    "hash_split",
    # round 5 additions
    "ivf_topk",
    "lsh_bucket_topk",
    "balanced_split_approx",
    # round 6 additions
    "pack_chunked",
    "pack_greedy",
    "mixture_weights",
    "global_shuffle",
    "cap_per_group",
    "quality_percentile",
    "semantic_dedup",
    "dup_spans",
    "remove_dup_spans",
    "cluster_representatives",
    "normalize_text",
    "decontaminate_spans",
    "gopher_rules",
    "char_entropy",
    "ngram_logprob",
    "bloom_novel",
    "asof_join",
    "range_join",
    "rolling_agg",
    "funnel",
    # round 7 additions
    "minhash_incremental",
    # round 8 additions
    "minhash_hot_bucket",
    "vocab_pair_stats",
    "weighted_sample",
    "zorder_layout",
    "boilerplate_removal",
    "classifier_score",
    "embedding_incremental",
    # round 9 additions
    "minhash_hot_bucket_star",
    # round 11 additions
    "jsonl_roundtrip",
]


def main() -> None:
    from lours_spark.session import get_spark
    from lours_spark.suite import ALL_QUERIES as QUERIES

    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.1"

    out = [
        "# Physical-plan inventory (generated by scripts/dump_plans.py)",
        "",
        "Facts extracted from `.explain('formatted')` at sf0.1 — what",
        "each headline query pushes down, broadcasts, and shuffles.",
        "",
    ]
    for name in AUDITED:
        df = QUERIES[name](spark, sf)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        pushed = sorted(set(re.findall(r"PushedFilters: \[[^\]]*\]", plan)))
        schemas = sorted(set(re.findall(r"ReadSchema: struct<[^>]*>", plan)))
        joins = re.findall(
            r"\n\(\d+\) (BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
            r"BroadcastNestedLoopJoin) (\w+)",
            plan,
        )
        n_exchanges = len(re.findall(r"\n\(\d+\) Exchange", plan))
        # count numbered detail nodes only: explain("formatted") prints
        # every node name twice (tree + details), so a bare substring
        # count doubles the real broadcast count
        n_bcast = len(re.findall(r"\n\(\d+\) BroadcastExchange", plan))
        out.append(f"## {name}")
        out.append("")
        out.append(
            f"- shuffles (Exchange): {n_exchanges}; broadcasts: {n_bcast}"
        )
        if joins:
            join_summary = {}
            for kind, jtype in joins:
                join_summary[f"{kind} {jtype}"] = (
                    join_summary.get(f"{kind} {jtype}", 0) + 1
                )
            out.append(
                "- joins: "
                + ", ".join(f"{k} ×{v}" for k, v in sorted(join_summary.items()))
            )
        for p in pushed:
            if "[]" not in p:
                out.append(f"- `{p[:140]}`")
        for s in schemas:
            out.append(f"- `{s[:140]}`")
        out.append("")
    with open(os.path.join(_REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(AUDITED)} queries)")


if __name__ == "__main__":
    main()
