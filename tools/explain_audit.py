#!/usr/bin/env python
"""Physical-plan audit: dump .explain("formatted") for the headline queries
and check the scale invariants README.md claims:

  - parquet scans carry PushedFilters / a pruned ReadSchema (no SELECT *
    scans feeding narrow projections),
  - dimension joins use BroadcastHashJoin,
  - no CartesianProduct anywhere except queries that are by-construction
    probe×candidate scoring (knn against <10 broadcast probes),
  - broadcast-hint policy (tpch.py module docstring): explicit F.broadcast
    is allowed only over frames bounded by construction — the
    fixed-cardinality nation/region tables, 1-row scalar aggregates,
    limit-bounded frames, and the per-query allowlisted probe/eval sets.
    A hint over an SF-scaled relation bypasses autoBroadcastJoinThreshold
    and becomes a driver OOM at 100 TB, so it fails the audit.

Writes PLANS.md (committed) so plan regressions show up in review diffs.
Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from arrow_experiments_spark.registry import all_queries
from arrow_experiments_spark.session import build_session

AUDIT = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q9_profit_by_nation_year",
    "q18_large_volume_customer",
    "topk_per_group",
    "asof_join",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard_lsh",
    "knn_bruteforce_cosine",
    "text_quality_score",
    "join_salted_skew",
    "dedup_clusters",
    "dedup_keep_canonical",
    "dedup_embedding_topk_grouped",
    "embedding_kmeans_step",
    "events_sessionize_gaps",
    "events_anomaly_zscore",
    "pipeline_mixture_weights",
    "decontaminate_ngram_overlap",
    "pipeline_training_select",
    "multimodal_resize",
    "dedup_embedding_cosine",
    "dedup_embedding_topk",
    "ann_ivf_codebook",
    "text_repetition_signals",
    "pipeline_pack_shards",
    "pipeline_stratified_sample",
    "multimodal_frame_sample",
    "text_unigram_popularity",
    "pipeline_global_shuffle",
    "events_interval_join",
    "events_funnel",
    "events_retention_cohort",
    "text_tfidf_top_terms",
    "pipeline_importance_sample",
    "events_transition_matrix",
    "text_shared_ngram_fraction",
    "text_chunk_windows",
    "ann_recall_eval",
    "asof_join_tolerance",
    "events_hourly_unique_users",
    "pipeline_snapshot_upsert",
    "pipeline_quality_gate_quantile",
    "join_null_safe",
    "events_value_histogram",
    "text_lang_confusion",
    "events_time_weighted_avg",
    "events_time_weighted_avg_bucketed",
    "sort_nulls_ordering",
    "scalar_timezone",
    "udf_map_in_arrow",
    "dedup_jaccard_recall_eval",
    "decontaminate_flags",
    "ann_recall_eval_ivf",
    "text_dedup_chunk_exact",
    "pipeline_dedup_incremental",
    "pipeline_neardup_incremental",
    "pipeline_curate_incremental_full",
    "dedup_embedding_incremental",
    "dedup_minhash_estimate",
    "dedup_semantic_clusters",
    "pipeline_train_split_chunks",
    "pipeline_curate_end_to_end",
    "agg_hll_partial_union",
    "agg_hll_sketch_exchange",
    "dedup_minhash_containment",
    "ann_ivf_multiprobe",
    "ann_recall_eval_multiprobe",
    "ann_ivf_index_probe",
    "join_cross_small",
    "agg_unpivot",
    "embedding_label_centroids",
    "events_rollup_gapfill",
    # batch-equivalent plan of the applyInPandasWithState operator
    # (streaming plans don't explain() like batch ones)
    "stateful_user_stats_batch",
    # r12 verdict #5: tail keys join the audit as the bench tail
    # rotation reaches them (the r12 tail was the agg family)
    "agg_approx",
    "agg_basic",
    "agg_bool_count_if",
    "agg_cube",
    "agg_grouping_sets",
    "agg_min_by_max_by",
    "agg_percentile",
    "agg_pivot",
    "agg_rollup",
]
# r13 verdict #3: the audit covers the FULL registry — every registered
# query not named above (mostly cheap scalar/set/window/join plans) is
# appended in sorted order in main(), so PLANS.md holds one section per
# registered query and a regeneration fails loudly if any is missing.
# The explicit list above keeps its curated order (stable diffs for the
# long-audited sections).

# Queries whose plan legitimately contains a non-equi or cartesian join:
# broadcast probe-vs-corpus scoring (10 probes), and the 1-row corpus-total
# scalar broadcast in the unigram scorer — at scale the big side still
# streams once, which is the intended shape.
CARTESIAN_OK = {
    "knn_bruteforce_cosine",
    "ann_recall_eval",  # exact side = knn's 10-probe broadcast scoring
    "ann_recall_eval_ivf",  # same exact-side shape
    "ann_recall_eval_multiprobe",  # same exact-side shape

    "text_unigram_popularity",
    "text_tfidf_top_terms",  # 1-row broadcast corpus-total, same as unigram
    "embedding_kmeans_step",  # vectors x k centroid arrays (k = #labels)
    "pipeline_mixture_weights",  # sources x 1-row (n_total, w_sum) frame
    "pipeline_quality_gate_quantile",  # docs x 1-row percentile threshold
    "join_cross_small",  # deliberate 25 x 5 fixed-dim Cartesian
    # TPC-H scalar-subquery shapes: the nested-loop's build side is an
    # ungrouped (1-row) HashAggregate under a BroadcastExchange — q11's
    # global value-concentration threshold, q22's avg(c_acctbal) — so
    # the big side streams once against exactly one broadcast row at
    # any SF, the same bounded shape as quality_gate_quantile above
    "q11_part_value_concentration",
    "q22_idle_rich_customers",
}

# Broadcast-hint policy: tables whose cardinality is fixed by the schema
# (nation 25, region 5) may always carry an explicit F.broadcast hint.
FIXED_CARD_TABLES = {"nation", "region"}

# Per-query exceptions: frames hint-broadcast although their SOURCE table
# is SF-scaled, because a filter bounds their cardinality by construction
# (vec_id < 10 probe sets; the src0 eval slice of documents).  The
# structural walk below cannot read cardinality out of a predicate, so
# these are declared — and reviewed — here.
BOUNDED_BROADCAST_OK = {
    "knn_bruteforce_cosine": {"embeddings"},
    "ann_lsh_hyperplane": {"embeddings"},
    "ann_ivf_label": {"embeddings"},
    "ann_ivf_codebook": {"embeddings"},
    "dedup_embedding_cosine": {"embeddings"},
    "dedup_embedding_topk": {"embeddings"},
    "decontaminate_ngram_overlap": {"documents"},
    "decontaminate_flags": {"documents"},  # same eval-side broadcast
    # composes decontaminate_flags verbatim — same eval-side broadcast
    # (the eval set is bounded in production; scaling it with the corpus
    # is a test-corpus artifact, documented on the stage operator)
    "pipeline_curate_end_to_end": {"documents"},
    "ann_recall_eval": {"embeddings"},  # vec_id < 10 probe set, twice
    "ann_recall_eval_ivf": {"embeddings"},  # same probe-set pattern
    # vec_id < 10 probe set exploded to nprobe=2 cells — still ≤ 20 rows
    "ann_ivf_multiprobe": {"embeddings"},
    "ann_recall_eval_multiprobe": {"embeddings"},  # same probe-set pattern
    # vec_id < 10 probe set against the maintained index artifact; the
    # broadcast anti-join match set inside _prune_buckets is delta-bounded
    "ann_ivf_index_probe": {"embeddings"},
    # composes decontaminate_ngram_overlap verbatim — the same bounded
    # src0 eval-side broadcast as the other funnel composites
    "pipeline_curate_incremental_full": {"documents"},
}


def broadcast_hint_violations(df, name: str) -> list[str]:
    """Walk the analyzed logical plan; return parquet table names that sit
    under an explicit broadcast hint without being bounded by construction
    (fixed-cardinality table, ungrouped 1-row aggregate, limit, or the
    per-query allowlist)."""

    def leaf_tables(node, out: set[str]) -> None:
        nn = node.nodeName()
        if nn == "Aggregate" and node.groupingExpressions().isEmpty():
            return  # 1-row scalar aggregate — bounded at any SF
        if nn in ("GlobalLimit", "LocalLimit"):
            return  # limit-bounded
        if nn == "LogicalRelation":
            try:
                paths = node.relation().location().rootPaths()
                for i in range(paths.size()):
                    out.add(Path(paths.apply(i).toString()).stem)
            except Exception:  # noqa: BLE001 — non-file relation
                out.add("<unknown-relation>")
            return
        kids = node.children()
        for i in range(kids.size()):
            leaf_tables(kids.apply(i), out)

    bad: list[str] = []

    def walk(node) -> None:
        nn = node.nodeName()
        if nn == "ResolvedHint" and "broadcast" in node.hints().toString().lower():
            tabs: set[str] = set()
            leaf_tables(node.children().apply(0), tabs)
            allowed = FIXED_CARD_TABLES | BOUNDED_BROADCAST_OK.get(name, set())
            bad.extend(sorted(tabs - allowed))
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().analyzed())  # noqa: SLF001
    return bad


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = build_session(app_name="explain_audit")
    spark.sparkContext.setLogLevel("ERROR")
    from arrow_experiments_spark.streaming.stateful import user_stats_batch

    queries = all_queries()
    builders = {n: queries[n].build for n in queries}
    builders["stateful_user_stats_batch"] = user_stats_batch
    # full-registry coverage (r13 verdict #3): curated order first, then
    # every remaining registered query sorted
    stale = [n for n in AUDIT if n not in builders]
    assert not stale, f"AUDIT names not in the registry: {stale}"
    audit_names = AUDIT + sorted(set(builders) - set(AUDIT))
    sections: list[str] = []
    failures: list[str] = []
    # Policy sweep: the broadcast-hint rule holds for EVERY registered
    # query (plan analysis only — no execution), not just the audited set.
    for name in sorted(queries):
        try:
            hint_bad = broadcast_hint_violations(
                queries[name].build(spark, sf_dir), name
            )
        except Exception as exc:  # noqa: BLE001 — surface, don't mask
            failures.append(f"{name}: hint-policy sweep errored: {exc}")
            continue
        if hint_bad:
            failures.append(
                f"{name}: F.broadcast hint over SF-scaled table(s) {hint_bad}"
            )
    print(
        f"hint-policy sweep: {len(queries)} queries, "
        f"{len(failures)} violation(s)",
        flush=True,
    )
    for name in audit_names:
        df = builders[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        checks: list[str] = []
        scans = re.findall(r"Scan parquet[^\n]*\n(?:.+\n)*?(?=\n|\Z)", plan)
        if "Scan parquet" in plan:
            if "PushedFilters" in plan:
                checks.append("pushed-filters: present")
            read_schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
            widths = [len(s.split(",")) if s else 0 for s in read_schemas]
            checks.append(f"scan-count: {len(read_schemas)}, widths: {widths}")
        if "BroadcastHashJoin" in plan:
            checks.append("broadcast-join: present")
        hint_bad = broadcast_hint_violations(df, name)
        if hint_bad:
            checks.append(f"broadcast-hint policy: VIOLATION {hint_bad}")
            failures.append(
                f"{name}: F.broadcast hint over SF-scaled table(s) {hint_bad}"
            )
        else:
            checks.append("broadcast-hint policy: ok")
        if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
            if name in CARTESIAN_OK:
                checks.append("nested-loop: expected (broadcast probe scoring)")
            else:
                checks.append("nested-loop: UNEXPECTED")
                failures.append(f"{name}: unexpected cartesian/nested-loop join")
        codegen = len(set(re.findall(r"codegen id : (\d+)", plan)))
        if codegen == 0 and "AdaptiveSparkPlan" in plan:
            # under AQE the pre-execution plan defers codegen-id assignment
            # to the final per-stage plans; absence here is not a regression
            checks.append("wholestage-codegen: deferred (AQE)")
        else:
            checks.append(f"wholestage-codegen spans: {codegen}")
        # Iterative queries (persisted lineage repeated per round) can
        # produce plans tens of thousands of lines long; the checks above
        # ran on the full string, but the committed report keeps a prefix.
        plan_lines = plan.strip().splitlines()
        if len(plan_lines) > 400:
            plan_report = "\n".join(plan_lines[:400]) + (
                f"\n... ({len(plan_lines) - 400} more lines truncated — "
                "iterative/persisted lineage)"
            )
        else:
            plan_report = "\n".join(plan_lines)
        sections.append(
            f"## {name}\n\n" + "\n".join(f"- {c}" for c in checks) +
            f"\n\n```\n{plan_report}\n```\n"
        )
        print(name, "|", "; ".join(checks), flush=True)
    header = (
        "# PLANS — physical-plan audit of every registered query\n\n"
        f"Generated by `tools/explain_audit.py` at `{sf_dir}`.  Regenerate\n"
        "after operator changes; review the diff for plan regressions\n"
        "(lost pushdown, a broadcast that became a shuffle, a new nested\n"
        "loop).  Checks summarized per query; full formatted plans below.\n\n"
    )
    Path(_REPO, "PLANS.md").write_text(header + "\n".join(sections))
    spark.stop()
    # completeness gate (r13 verdict #3): one section per registered
    # query (+ the stateful batch twin) or the audit fails
    missing = [n for n in audit_names if f"## {n}\n" not in "\n".join(sections)]
    if missing:
        failures.append(f"missing PLANS.md section(s): {missing}")
    if len(sections) != len(audit_names):
        failures.append(
            f"section count {len(sections)} != audited {len(audit_names)}"
        )
    if failures:
        print("FAILURES:", *failures, sep="\n  ")
        sys.exit(1)
    print(f"audit ok — PLANS.md written ({len(sections)} sections)")


if __name__ == "__main__":
    main()
