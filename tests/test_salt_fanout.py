"""Quantile-driven salt fan-out (SURVEY §4): the per-key salt decision
must come from the measured degree distribution — hot keys fan out
(bounding the largest reducer group), cold keys stay unsalted — and
the salted aggregation must stay value-identical to the unsalted form
on a deliberately skewed fixture."""

import pandas as pd
from pyspark.sql import functions as F

from kgx.spark.stages import SALT_K, canonicalize, salted_members

HOT_DEG = 5000
N_COLD = 300


def _skewed_member(spark):
    """One hot label with HOT_DEG member rows + N_COLD singleton-ish
    labels, shaped like canonicalize's input."""
    rows = []
    for i in range(HOT_DEG):
        rows.append(("hot", f"n{i:06d}", False, "PER",
                     f"alias {i}", f"Alias {i}"))
    for c in range(N_COLD):
        for j in range(3):
            rows.append((f"c{c:04d}", f"m{c:04d}_{j}", False, "ORG",
                         f"org {c} {j}", f"Org {c} {j}"))
    pdf = pd.DataFrame(rows, columns=["label", "node_id", "is_prov",
                                      "etype", "norm", "display"])
    return spark.createDataFrame(pdf).repartition(8)


def test_hot_key_fans_out_cold_keys_stay_unsalted(spark):
    m = salted_members(_skewed_member(spark))
    per = (
        m.groupBy("label")
        .agg(F.countDistinct("salt").alias("n_salts"),
             F.count("*").alias("deg"))
        .collect()
    )
    by_label = {r["label"]: r for r in per}
    hot = by_label["hot"]
    assert 2 <= hot["n_salts"] <= SALT_K, hot
    for lbl, r in by_label.items():
        if lbl != "hot":
            assert r["n_salts"] == 1, (lbl, r)
    # the hot reducer group is BOUNDED: largest (label, salt) group is
    # a fraction of the hot degree (allow hash-imbalance headroom)
    biggest = (
        m.where(F.col("label") == "hot")
        .groupBy("salt").count()
        .agg(F.max("count")).collect()[0][0]
    )
    assert biggest <= 2 * HOT_DEG / hot["n_salts"], (
        biggest, hot["n_salts"])


def test_salted_canonicalize_equals_unsalted_reference(spark):
    """Every hot node and every third cold label's nodes also carry a
    second alias row (same node_id, new norm): a node is one entity_map
    row however many aliases it has, and every alias reaches the
    component's alias set."""
    base = _skewed_member(spark)
    second = base.where(
        F.col("node_id").startswith("n")
        | (F.substring("label", 2, 4).cast("int") % 3 == 0)
    ).withColumn("norm", F.concat("norm", F.lit(" bis")))
    member = base.unionByName(second).repartition(8)
    n_second = second.count()
    assert n_second > HOT_DEG
    nodes = member.select("node_id", "is_prov", "etype", "norm",
                          "display")
    labels = member.select("node_id", "label").distinct()
    entity_map, cc_vertices = canonicalize(nodes, labels)
    got_v = {
        (r["entity_id"], r["canonical_name"], r["etype"],
         tuple(r["aliases"]))
        for r in cc_vertices.collect()
    }
    # unsalted reference: plain groupBy(label) collect_set + min-struct
    ref = (
        member.groupBy("label")
        .agg(
            F.min(F.struct("is_prov", "etype", "norm", "node_id",
                           "display")).alias("c"),
            F.sort_array(F.collect_set("norm")).alias("aliases"),
        )
        .select(
            F.col("c.node_id").alias("entity_id"),
            F.col("c.display").alias("canonical_name"),
            F.col("c.etype").alias("etype"),
            "aliases",
        )
    )
    want_v = {
        (r["entity_id"], r["canonical_name"], r["etype"],
         tuple(r["aliases"]))
        for r in ref.collect()
    }
    assert got_v == want_v
    aliases = {a for v in got_v for a in v[3]}
    assert {"alias 7", "alias 7 bis", "org 3 1", "org 3 1 bis",
            "org 4 1"} <= aliases
    assert "org 4 1 bis" not in aliases
    assert sum(len(v[3]) for v in got_v) == HOT_DEG + 3 * N_COLD + n_second
    # entity_map covers every node exactly once, mapped into its label
    em = entity_map.collect()
    assert len(em) == HOT_DEG + 3 * N_COLD
    assert len({r["node_id"] for r in em}) == len(em)
    canon_of_hot = {r["canonical_id"] for r in em
                    if r["node_id"].startswith("n")}
    assert canon_of_hot == {"n000000"}


def test_salted_members_equals_unsalted_on_random_degree_mixes(spark):
    """Property-style sweep over degree shapes (uniform-tiny, one
    mega-hot, several medium-hot, all-equal-above-threshold): for
    every shape the salted two-phase aggregation must equal the plain
    one-phase reference, and every emitted salt must be in
    [0, SALT_K)."""
    import random

    rng = random.Random(7)
    shapes = [
        {"u%03d" % i: 1 + rng.randrange(3) for i in range(200)},
        {"mega": 20000, **{"c%02d" % i: 2 for i in range(40)}},
        {"h%d" % i: 1500 + 700 * i for i in range(5)},
        {"e%d" % i: 2048 for i in range(6)},
    ]
    for shape in shapes:
        rows = [(lbl, f"{lbl}_m{j}")
                for lbl, deg in shape.items() for j in range(deg)]
        pdf = pd.DataFrame(rows, columns=["label", "node_id"])
        member = spark.createDataFrame(pdf).repartition(8)
        m = salted_members(member)
        bad = m.where((F.col("salt") < 0)
                      | (F.col("salt") >= SALT_K)).count()
        assert bad == 0
        got = {
            (r["label"], r["mn"], r["n"])
            for r in m.groupBy("label", "salt")
            .agg(F.min("node_id").alias("pmn"),
                 F.count("*").alias("pc"))
            .groupBy("label")
            .agg(F.min("pmn").alias("mn"), F.sum("pc").alias("n"))
            .collect()
        }
        want = {
            (lbl, f"{lbl}_m0", deg) for lbl, deg in shape.items()
        }
        assert got == want, shape
