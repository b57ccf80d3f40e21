"""Dump formatted physical plans for the headline queries → EXPLAIN.md.

The artifact the `.explain("formatted")`-and-iterate loop produces:
reviewers can read the actual plans (pushdown, pruning, join strategy)
without running Spark."""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import sparkflow
from sparkflow.plans.explain import formatted_plan
from sparkflow.session import get_spark

HEADLINE = [
    "agg_hash_group",
    "agg_distinct",
    "fn_json",
    "limit_topk",
    "join_multiway_star",
    "win_topk_per_group",
    "win_rank_dense_ntile",
    "join_asof",
    "llm_dedup_near",
    "llm_knn_cosine",
    "stream_cep_negation",
    "join_range_binned",
    "llm_decontaminate",
    "sql_merge_upsert",
    "llm_semdedup",
    "events_anomaly_zscore",
    "join_bloom_filter",
    "join_partition_pruned",
    "sort_zorder_layout",
    "graph_triangle_count",
    "llm_embedding_pca",
    "llm_hard_negatives",
    "sql_correlated_exists",
    "sql_exists_chain",
    "join_asof_nearest",
    "llm_curriculum_stages",
    "maintenance_incremental_rollup",
    "graph_label_propagation",
    "llm_winnowing_overlap",
    "llm_winnowing_overlap_aligned",
    "win_ewma_segmented",
    "win_rolling_median_segmented",
    "llm_dedup_containment",
    "join_multiway_star_bucketed",
    "join_multiway_star_denorm",
    "maintenance_json_materialize",
    "llm_bpe_train",
    # r9: the avro round-trip source
    "scan_avro",
    "llm_dedup_near_prefix",
    "maintenance_table_versions",
    "scan_avro_splittable",
    "scan_time_travel_pruned",
    "maintenance_vacuum",
    # r9 continuation: protobuf source, CDC apply + schema evolution on
    # the versioned table, and the quantile member of the sketch family
    "scan_protobuf",
    "maintenance_table_cdc_apply",
    "maintenance_table_add_column",
    "agg_quantile_sketch",
    "llm_dedup_exact_substr",
    "scan_zorder_pruned",
    # r11: the CEP combinator keys (one sort + Window chain, join-free)
    # and the IVM rollup passes behind the engine-floor repoints
    "stream_cep_compile",
    "stream_cep_optional",
    "maintenance_rollup_pricing",
    "maintenance_rollup_distinct",
    "maintenance_rollup_tumbling",
    # r12: mid-pattern negation + oneOrMore counts (still one sort +
    # Window chain), the flagship's join-aggregate IVM view, and the
    # exercised ingest-delta merges (delta-only scans, plan-pinned)
    "stream_cep_midneg",
    "stream_cep_one_or_more",
    "stream_cep_times_range",
    "stream_cep_midneg_multi",
    "stream_cep_skip_past",
    # r13: strict-contiguity optional — 2^k variant chains, still one
    # exchange (the enumeration adds window columns, not shuffles) —
    # and the completed AfterMatchSkipStrategy surface (same single
    # exchange + match-frame fold as skip_past)
    "stream_cep_next_optional",
    "stream_cep_skip_to_next",
    "stream_cep_skip_to_first",
    "stream_cep_one_or_more_next",
    "stream_cep_within_gap",
    "stream_cep_both_strict_times",
    "stream_cep_both_strict_one_or_more",
    "stream_cep_skip_gap",
    "stream_cep_midneg_gap",
    "stream_cep_midneg_gap_skip",
    "stream_cep_midneg_gap_neg",
    "stream_cep_opt_midneg_gap",
    "stream_cep_or_split_neg",
    "stream_cep_next_optional_neg",
    "stream_cep_until",
    "stream_cep_until_split",
    "stream_cep_until_optional",
    "stream_cep_not_next",
    "stream_cep_not_next_skip",
    "stream_cep_not_next_gap",
    "stream_cep_followed_by_any",
    "maintenance_knn_quantize",
    "maintenance_knn_ingest",
    "maintenance_rollup_q3",
    "maintenance_rollup_ingest_q3",
    "maintenance_rollup_q5",
    "maintenance_rollup_ingest_pricing",
    "maintenance_rollup_ingest_distinct",
    "maintenance_rollup_ingest_tumbling",
    "maintenance_rollup_ingest_q5",
]


def main() -> None:
    spark = get_spark("explain-dump", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.01"
    out = ["# EXPLAIN — formatted physical plans (sf0.01, AQE initial plans)\n"]
    out.append(
        "Generated by `python tools/explain_dump.py`. What to look for:\n"
        "`PushedFilters` (predicate pushdown), `ReadSchema` (column\n"
        "pruning), `BroadcastHashJoin` vs `SortMergeJoin` (dim joins must\n"
        "broadcast), `TakeOrderedAndProject` (top-k), `HashAggregate`\n"
        "pairs (partial+final).\n"
    )

    def dump(name):
        df = sparkflow.QUERIES[name](spark, sf)
        plan = formatted_plan(df).strip()
        lines = plan.splitlines()
        # deep iterative plans (PCA, triangle count) print thousands of
        # lines; the operator tree at the top carries the evidence
        if len(lines) > 150:
            plan = "\n".join(lines[:150]) + \
                f"\n... [{len(lines) - 150} more lines truncated]"
        out.append(f"\n## {name}\n\n```\n{plan}\n```\n")

    for name in HEADLINE:
        dump(name)
    with open(os.path.join(ROOT, "EXPLAIN.md"), "w") as f:
        f.write("".join(out))
    print("wrote EXPLAIN.md")
    spark.stop()


if __name__ == "__main__":
    main()
