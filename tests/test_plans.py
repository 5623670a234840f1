"""Physical-plan quality gates: pushdown, pruning, broadcast, codegen.

The reference hand-implements predicate pushdown and zone-map skipping
(parquet/predicates.rs); in Spark these are Catalyst's job — these
tests pin that our query shapes actually trigger them (a regression
here is a silent 100×-at-scale problem, not a correctness bug).
"""

from __future__ import annotations

from ml_data_pipeline_spark.operators import dedup, relational as R


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _explain_formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_and_projection_pushdown(spark, sf_dir):
    plan = _explain_formatted(R.filter_pushdown_agg(spark, sf_dir))
    assert "PushedFilters:" in plan
    # both predicates reach the scan
    assert "l_shipdate" in plan.split("PushedFilters:")[1].split("\n")[0]
    assert "l_quantity" in plan.split("PushedFilters:")[1].split("\n")[0]
    # column pruning: the scan reads only the needed columns
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "l_extendedprice" in read_schema
    assert "l_orderkey" not in read_schema and "l_partkey" not in read_schema


def test_broadcast_join_used_for_dims(spark, sf_dir):
    plan = _plan(R.join_dims_broadcast(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_uses_partial_topk_not_global_sort(spark, sf_dir):
    plan = _plan(R.q3_shipping_priority(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_dedup_queries_stay_jvm_side(spark, sf_dir):
    # No Python evaluation nodes: dedup must not fall into row-wise UDFs
    for fn in (dedup.dedup_exact, dedup.minhash_lsh_candidates,
               dedup.simhash_signatures):
        plan = _plan(fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan and "PythonUDF" not in plan


def test_similarity_queries_stay_jvm_side(spark, sf_dir):
    """knn/ann are pure expression plans; cosine_neardup's ONLY Python
    node is the Arrow-batched per-cell GEMM (FlatMapGroupsInPandas) —
    never row-at-a-time BatchEvalPython."""
    from ml_data_pipeline_spark.operators import similarity

    for fn in (similarity.knn_classify, similarity.ann_topk_cosine):
        plan = _plan(fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan and "FlatMapGroupsInPandas" not in plan
    plan = _plan(similarity.cosine_neardup_pairs(spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan  # Arrow cogroup GEMM
    assert "BatchEvalPython" not in plan


def test_ngram_no_forced_broadcast_of_size_tables(spark, sf_dir):
    """Round-5 verdict #1: the Jaccard size-table joins must not
    hardcode a broadcast of an O(n_docs) relation — at the 10^9-doc
    design point a forced broadcast of per-document sizes is a driver
    OOM. The ANALYZED plan must carry no ResolvedHint/UnresolvedHint
    (AQE may still *choose* broadcast at runtime while the sizes fit
    the threshold — that is the desired behavior)."""
    df = dedup.ngram_jaccard_pairs(spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed and "UnresolvedHint" not in analyzed
    # and the source carries no F.broadcast on the size tables
    import inspect

    src = inspect.getsource(dedup.ngram_jaccard_pairs)
    assert "F.broadcast(" not in src and ".hint(" not in src


def test_shingle_expression_not_duplicated_into_filters(spark, sf_dir):
    """Round-6 regression pin: exploding shingles must be written as
    ONE select(explode(expr)). The two-step select(sh) →
    select(explode(sh)) shape makes the planner push the generator's
    emptiness filter — which re-evaluates the WHOLE shingle expression
    — below the spread exchange onto the unsplittable single-row-group
    scan (measured 14.3 s vs 1.3 s at sf1; the driver-visible 54 s
    rep1 cliff of round 5). Pin: no Filter node's condition contains
    the shingle expression (its `array_join` marker); the expression
    is evaluated only in Generate/aggregate nodes."""
    import re

    for fn in (dedup.ngram_jaccard_pairs, dedup.minhash_signatures):
        plan = _explain_formatted(fn(spark, sf_dir))
        conditions = re.findall(r"Condition : (.*)", plan)
        offenders = [c for c in conditions if "array_join" in c]
        assert not offenders, (fn.__name__, offenders[:1])


def test_latest_event_is_partial_aggregable(spark, sf_dir):
    # the max(struct) reduction must show a partial_max before the
    # exchange (map-side combine — the skew defense)
    plan = _plan(R.latest_event_per_user(spark, sf_dir))
    assert "partial_max" in plan


def test_lazy_queries_no_driver_materialization(spark, sf_dir):
    """queries() callables must be lazy: no .collect()/.count() inside
    (round 1 had both in union_intersect_counts and
    cosine_neardup_pairs) and no driver-materialized data in the plan.
    (Scan-metadata jobs from spark.read are fine; what's banned is
    result materialization.)"""
    import ast
    import inspect
    import textwrap

    from ml_data_pipeline_spark.operators import similarity

    for fn in (R.union_intersect_counts, similarity.cosine_neardup_pairs):
        tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
        actions = [
            node.func.attr
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("collect", "count", "toPandas")
            # F.count(...) is an aggregate EXPRESSION, not an action
            and not (
                isinstance(node.func.value, ast.Name)
                and node.func.value.id == "F"
            )
        ]
        assert not actions, f"{fn.__name__} calls driver actions: {actions}"
        plan = _plan(fn(spark, sf_dir))
        assert "ExistingRDD" not in plan and "LocalTableScan" not in plan, (
            fn.__name__
        )


def test_session_aqe_size_targeted_coalescing(spark):
    """Round-5 load-bearing config: AQE must coalesce small shuffles
    to size-targeted partitions, NOT hold a default-parallelism floor
    (the floor made every 512-row model-state shuffle run `cores`
    reduce tasks — measured 7.0→4.0 s on kmeans_clusters alone)."""
    conf = spark.conf
    assert conf.get("spark.sql.adaptive.enabled") == "true"
    assert (
        conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst")
        == "false"
    )
    assert (
        int(conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
        == 16 * 1024 * 1024
    )


def test_spread_skips_already_splittable_inputs(spark, tmp_path):
    """Round-6 review fix: load_table_spread must not add a shuffle
    when the input already splits into at least as many real units
    (files / row groups) as the spread would create — on production
    many-row-group data the repartition is pure extra cost."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ml_data_pipeline_spark.sources.tables import (
        _effective_scan_parallelism,
        load_table_spread,
        spread_partitions,
    )

    # single file, MORE row groups than any spread width we'd pick
    # (spread_partitions caps the width at 3 waves per core)
    n_rg = 3 * spark.sparkContext.defaultParallelism + 1
    n_rows = 10 * n_rg
    tbl = pa.table({"doc_id": list(range(n_rows)), "text": ["x" * 2000] * n_rows})
    p = tmp_path / "documents.parquet"
    pq.write_table(tbl, p, row_group_size=10)
    assert _effective_scan_parallelism(str(tmp_path), "documents") == n_rg

    df = load_table_spread(spark, str(tmp_path), "documents")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Repartition" not in plan  # plain scan, no extra exchange

    # and the single-row-group shape still gets the spread
    pq.write_table(tbl, p)  # default: one row group
    assert _effective_scan_parallelism(str(tmp_path), "documents") == 1
    df2 = load_table_spread(spark, str(tmp_path), "documents")
    plan2 = df2._jdf.queryExecution().optimizedPlan().toString()
    assert "Repartition" in plan2
    n = spread_partitions(spark, p.stat().st_size)
    assert 2 <= n <= spark.sparkContext.defaultParallelism * 3
