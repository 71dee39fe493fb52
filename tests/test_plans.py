"""Physical-plan hygiene (SURVEY.md §4): pushdown, pruning, broadcast,
whole-stage codegen, and a no-row-Python lint. These are the
properties that decide whether the same plan survives a 100x
scale-up, asserted on the actual plans Catalyst produces.
"""

import os
import re

import pytest
from pyspark.sql import functions as F


def plan_of(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


SF = "/root/testdata/sf0.001"


def test_filter_and_projection_pushdown(spark):
    """Filters + narrow projection must reach the parquet scan."""
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .where(F.col("l_quantity") > 30)
        .select("l_orderkey", "l_quantity")
    )
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)" in plan.replace(" 30.0", "30.0"), plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(m.group(1).split(",")) == {
        "l_orderkey:bigint", "l_quantity:double"
    }, plan


def test_ingest_scan_prunes_and_pushes(spark, t1_dir):
    from kgx.spark import stages

    turns = stages.ingest_bucketed(
        spark, f"{t1_dir}/transcripts.parquet", buckets=8)
    plan = plan_of(turns.select("conv_id", "turn_idx"))
    assert "PushedFilters" in plan
    # the hygiene filter itself needs `text`, but nothing else leaks in
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols <= {"conv_id", "turn_idx", "text"}, plan


def _resolve_plans(spark, t1_dir) -> dict[str, str]:
    """Plans of the three functions that turn a surface into a node id
    through stages.resolve, on tiny in-memory inputs (a pattern triple
    and a uses_tool triple, whose object is keyed by tool id)."""
    from kgx.spark import stages

    mentions = spark.createDataFrame(
        [("c1", 0, 0, 3, "Ana", "PER")],
        "conv_id string, turn_idx int, begin int, end int, "
        "surface string, etype string",
    )
    triples = spark.createDataFrame(
        [("c1", 0, "Ana", "PER", "works_at", "Nova", "ORG", 0),
         ("c1", 1, "Ana", "PER", "uses_tool", "grep", "TOOL", 1)],
        "conv_id string, turn_idx int, subj_surface string, "
        "subj_etype string, pred string, obj_surface string, "
        "obj_etype string, ts long",
    )
    dict_df = stages.dict_latest(
        spark.read.parquet(f"{t1_dir}/alias_dict.parquet"))
    nodes = stages.link_nodes(mentions, dict_df)
    lsh = stages.similar_edges(nodes, nodes)
    return {
        "link_nodes": plan_of(nodes),
        "link_links": plan_of(stages.link_links(mentions, dict_df, lsh)),
        "triples_node_keyed": plan_of(
            stages.triples_node_keyed(triples, dict_df)),
    }


def test_link_uses_broadcast_join(spark, t1_dir):
    """The alias-dict dimension join must be a BroadcastHashJoin, not a
    shuffle (sort-merge) join — in link and in both of
    triples_node_keyed's dict lookups."""
    plans = _resolve_plans(spark, t1_dir)
    assert "BroadcastHashJoin" in plans["link_links"], plans["link_links"]
    keyed = plans["triples_node_keyed"]
    assert keyed.count("BroadcastHashJoin LeftOuter") >= 2, keyed
    assert "SortMergeJoin" not in keyed, keyed


def test_link_and_materialize_run_no_python_udf(spark, t1_dir):
    """Normalization is a JVM expression (udfs.norm_col): turning a
    surface into a node id crosses into Python nowhere."""
    for name, plan in _resolve_plans(spark, t1_dir).items():
        assert "ArrowEvalPython" not in plan, (name, plan)
        assert "BatchEvalPython" not in plan, (name, plan)


def test_flagship_plan_broadcasts_dims(spark):
    import __spark_entry__ as e

    plan = plan_of(e.entry(spark))
    assert "BroadcastHashJoin" in plan
    # all dim joins broadcast; no shuffle joins anywhere in the flagship
    assert "SortMergeJoin" not in plan


def test_extract_is_shuffle_lean(spark, t1_dir):
    """Relation extraction from pre-bucketed turns: the pair/WHEN-chain
    path must not introduce a join for the pattern match (patterns are
    constant-folded literals) — only the uses_tool speaker aggregate
    and the final union are allowed exchanges."""
    from kgx.spark import stages
    from kgx.spark.udfs import make_tagger_spans_udf
    from kgx.tagcore import TaggerArtifact

    tagger = make_tagger_spans_udf(
        spark, TaggerArtifact.load(f"{t1_dir}/tagger_v1.npz"))
    turns = stages.ingest_bucketed(
        spark, f"{t1_dir}/transcripts.parquet", buckets=8)
    patterns = [r.asDict() for r in
                spark.read.parquet(f"{t1_dir}/patterns.parquet").collect()]
    triples = stages.triples_from_tagged(
        stages.tag_extract(turns, tagger, patterns))
    plan = plan_of(triples)
    # pattern WHEN-chain is in the plan as a CASE, not a join
    assert plan.count("SortMergeJoin") == 0, plan


def test_dedup_plans_have_no_all_pairs_join(spark, t1_dir):
    """Every LSH-blocked dedup op, and the link stage's exact
    similarity join, must find candidates through equi-joins only — a
    CartesianProduct / BroadcastNestedLoopJoin anywhere in the plan
    means an O(n^2) stage is back."""
    from kgx.harness import (
        dedup_embedding_cosine,
        dedup_minhash_lsh,
        dedup_ngram_jaccard,
        dedup_simhash,
    )
    from kgx.spark import stages

    plans = {
        op.__name__: plan_of(op(spark, SF))
        for op in (dedup_minhash_lsh, dedup_simhash, dedup_ngram_jaccard,
                   dedup_embedding_cosine)
    }
    nodes = stages.dict_latest(
        spark.read.parquet(f"{t1_dir}/alias_dict.parquet")
    ).select("etype", F.col("alias").alias("norm"),
             F.col("entity_id").alias("node_id"))
    plans["similar_edges"] = plan_of(stages.similar_edges(nodes, nodes))
    for name, plan in plans.items():
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_no_row_python_udf_in_engine():
    """SURVEY §4 mandate: zero row-at-a-time Python UDFs in kgx — only
    Arrow-vectorized pandas UDFs / applyInPandas / mapInPandas."""
    root = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "kgx")
    offenders = []
    for dp, _, fns in os.walk(root):
        for fn in fns:
            if not fn.endswith(".py"):
                continue
            src = open(os.path.join(dp, fn)).read()
            if re.search(r"\bF\.udf\(|\budf\(\s*lambda", src):
                offenders.append(fn)
    assert not offenders, offenders


def test_aqe_skew_join_splits_hot_partition(spark):
    """join_skew_aqe exists to demonstrate AQE's skew-join split; with
    uniform keys the path it demonstrates never fires. This executes a
    genuinely skewed sort-merge join (80% of rows on one key) with the
    skew thresholds scaled down to sandbox data sizes and asserts the
    FINAL adaptive plan really split the hot partition —
    SortMergeJoin(skew=true), not just the configs being on."""
    skew_confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    saved = {k: spark.conf.get(k) for k in skew_confs}
    for k, v in skew_confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(200000).select(
            F.when(F.col("id") % 5 != 0, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(50000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("val")
        )
        agg = (
            left.join(right.hint("merge"), "k", "left")
            .groupBy((F.col("k") % 7).alias("g"))
            .agg(F.count("*").alias("n"))
        )
        agg.collect()  # execute -> AQE finalizes the adaptive plan
        plan = plan_of(agg)
        assert "isFinalPlan=true" in plan, plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_aqe_and_skew_configs_on(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert spark.conf.get(
        "spark.sql.execution.arrow.pyspark.enabled") == "true"


def test_bucket_partition_pruning(spark, t1_dir, tmp_path):
    """Selective reprocessing: a bucket predicate on the warehouse
    turns table must prune to that bucket's directory (partition
    filter, not a full scan)."""
    from kgx.spark.run import Runner

    r = Runner(spark, t1_dir, str(tmp_path / "wh"), "p", buckets=8)
    r.stage_ingest()
    df = r.read("turns").where(F.col("bucket") == 3)
    plan = plan_of(df)
    assert "PartitionFilters" in plan and "bucket" in plan.split(
        "PartitionFilters", 1)[1][:120], plan
    full = r.read("turns").count()
    part = df.count()
    assert 0 < part < full


def test_tag_distinct_plan_tags_above_the_distinct(spark, t1_dir):
    """Content-addressed tagging must evaluate the tagger UDF ABOVE
    the distinct aggregate (once per unique text), never over the raw
    turns scan, and join back without a cartesian product. The default
    path's plan has no aggregate below the UDF — the two shapes are
    the contract."""
    from kgx.spark import stages
    from kgx.spark.udfs import make_tagger_spans_udf
    from kgx.tagcore import TaggerArtifact

    art = TaggerArtifact.load(f"{t1_dir}/tagger_v1.npz")
    patterns = [r.asDict() for r in spark.read.parquet(
        f"{t1_dir}/patterns.parquet").collect()]
    turns = stages.ingest_bucketed(
        spark, f"{t1_dir}/transcripts.parquet", buckets=8)
    udf = make_tagger_spans_udf(spark, art)

    plan = plan_of(stages.tag_extract_distinct(turns, udf, patterns))
    tree = plan.split("\n\n")[0]  # physical tree, not the detail dump
    assert "CartesianProduct" not in plan
    arrow = tree.index("ArrowEvalPython")
    agg = tree.index("HashAggregate")
    # tree prints top-down: the UDF node appears before (above) the
    # distinct aggregate it consumes
    assert arrow < agg, tree
    assert "Exchange" in tree  # the distinct shuffle exists

    default_plan = plan_of(stages.tag_extract(turns, udf, patterns))
    default_tree = default_plan.split("\n\n")[0]
    assert "HashAggregate" not in default_tree, default_tree

    # with buckets passed (what the Runner does), the result must be
    # re-aligned on the bucket column before the partitionBy('bucket')
    # checkpoint write — otherwise the text-hash join partitioning
    # explodes the write into tasks x buckets tiny files
    aligned = plan_of(stages.tag_extract_distinct(
        turns, udf, patterns, buckets=8))
    assert re.search(r"hashpartitioning\(bucket[^)]*, 8\)", aligned), \
        aligned


def test_salted_members_broadcasts_hot_keys_no_member_preshuffle(spark):
    """The quantile-driven salt assignment's scale claims, pinned at
    the plan level: the hot-key table (tiny by construction) reaches
    the member frame via a BROADCAST join, and the member side is NOT
    pre-shuffled by key just to learn its salt — the only
    hashpartitioning exchanges in the plan belong to the per-key
    degree count (one row per key), never to the member rows."""
    import pandas as pd
    from pyspark.sql import functions as F

    from kgx.spark.stages import salted_members

    member = spark.createDataFrame(
        pd.DataFrame({"label": [f"l{i % 50}" for i in range(2000)],
                      "node_id": [f"n{i}" for i in range(2000)]})
    ).repartition(8)
    plan = plan_of(salted_members(member))
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree, tree
    assert "SortMergeJoin" not in tree, tree
    # every hashpartitioning exchange feeds the degree/percentile
    # aggregation over `label` alone — none repartitions member rows
    # (which carry node_id)
    import re as _re

    for m in _re.finditer(r"hashpartitioning\(([^)]*)\)", plan):
        assert "node_id" not in m.group(1), m.group(0)


def test_entity_map_reads_the_component_aggregate(spark):
    """entity_map is an explode of canonicalize's checkpointed
    per-component row: its plan is a Generate over the checkpoint —
    no join back onto the members and no shuffle."""
    import pandas as pd

    from kgx.spark.stages import canonicalize

    nodes = spark.createDataFrame(pd.DataFrame({
        "node_id": ["a", "a", "b", "c"],
        "is_prov": [False, False, True, True],
        "etype": ["PER", "PER", "PER", "ORG"],
        "norm": ["ann", "annie", "ann b", "acme"],
        "display": ["Ann", "Annie", "Ann B", "Acme"],
    }))
    labels = spark.createDataFrame(pd.DataFrame({
        "node_id": ["a", "b", "c"], "label": ["a", "a", "c"]}))
    entity_map, _ = canonicalize(nodes, labels)
    tree = plan_of(entity_map).split("\n\n")[0]
    assert "Generate" in tree, tree
    assert "Join" not in tree, tree
    assert "Exchange" not in tree, tree
    assert sorted(map(tuple, entity_map.collect())) == [
        ("a", "a"), ("b", "a"), ("c", "c")]
