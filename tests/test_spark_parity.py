"""Spark-parity tests (SURVEY.md §5 tier 3): every table of the
checkpointed Runner (the path the CLI ships) equals the sequential
oracle's, order-insensitive, plus the per-turn text-equality invariant
and the triple P/R gate."""

import pyarrow.parquet as pq
import pytest

from kgx import oracle
from kgx.evalkit import triple_prf
from kgx.spark.pipeline import run_fixture_pipeline


@pytest.fixture(scope="module")
def spark_out(spark, t1_dir):
    return run_fixture_pipeline(spark, t1_dir, buckets=8)


@pytest.fixture(scope="module")
def golden(t1_dir):
    return oracle.run(t1_dir)


def rows_set(df, cols):
    return {tuple(r[c] for c in cols) for r in df.select(*cols).collect()}


def test_mentions_parity(spark_out, golden):
    cols = ("conv_id", "turn_idx", "begin", "end", "surface", "etype")
    got = rows_set(spark_out["mentions"], cols)
    want = {tuple(m[c] for c in cols) for m in golden["mentions"]}
    assert got == want


def test_triples_raw_parity(spark_out, golden):
    cols = ("conv_id", "turn_idx", "subj_surface", "pred", "obj_surface",
            "subj_begin", "obj_begin")
    got = rows_set(spark_out["triples_raw"], cols)
    want = {tuple(t[c] for c in cols) for t in golden["triples_raw"]}
    assert got == want


def test_links_parity(spark_out, golden):
    cols = ("conv_id", "turn_idx", "begin", "entity_id", "method")
    got = rows_set(spark_out["links"], cols)
    want = {tuple(l[c] for c in cols) for l in golden["links"]}
    assert got == want
    # scores match to 1e-9
    gs = {tuple(r[c] for c in cols): r["score"]
          for r in spark_out["links"].collect()}
    for l in golden["links"]:
        assert abs(gs[tuple(l[c] for c in cols)] - l["score"]) < 1e-9


def test_edges_parity(spark_out, golden):
    cols = ("subj_id", "pred", "obj_id", "weight", "first_ts", "last_ts")
    got = rows_set(spark_out["edges"], cols)
    want = {tuple(e[c] for c in cols) for e in golden["edges"]}
    assert got == want


def test_vertices_parity(spark_out, golden):
    got = {
        (r["entity_id"], r["canonical_name"], r["etype"],
         tuple(r["aliases"]), r["degree"])
        for r in spark_out["vertices"].collect()
    }
    want = {
        (v["entity_id"], v["canonical_name"], v["etype"],
         tuple(v["aliases"]), v["degree"])
        for v in golden["vertices"]
    }
    assert got == want


def test_triple_prf_gate(spark_out, golden):
    """The BASELINE acceptance gate: P/R >= 0.95 (we hit 1.0)."""
    ours = {(r["subj_id"], r["pred"], r["obj_id"])
            for r in spark_out["edges"].collect()}
    m = triple_prf(ours, set(golden["triple_set"]))
    assert m["precision"] >= 0.95, m
    assert m["recall"] >= 0.95, m


def test_text_equality_invariant(spark_out, t1_dir):
    """input_hint invariant: per-turn text byte-identical in the turns
    checkpoint (the last table that carries text)."""
    src = {(t["conv_id"], t["turn_idx"]): t["text"]
           for t in pq.read_table(f"{t1_dir}/transcripts.parquet").to_pylist()}
    for r in spark_out["turns"].select("conv_id", "turn_idx",
                                       "text").collect():
        assert src[(r["conv_id"], r["turn_idx"])] == r["text"]


def test_sha16_spark_twin_matches_python(spark):
    from pyspark.sql import functions as F

    from kgx.contract import prov_id, tool_id
    from kgx.spark.stages import prov_id_col, tool_id_col

    df = spark.createDataFrame(
        [("PER", "ana park"), ("ORG", "novagraph inc")], ["etype", "norm"]
    )
    rows = df.select(
        "etype", "norm",
        prov_id_col(F.col("etype"), F.col("norm")).alias("p"),
        tool_id_col(F.col("norm")).alias("t"),
    ).collect()
    for r in rows:
        assert r["p"] == prov_id(r["etype"], r["norm"])
        assert r["t"] == tool_id(r["norm"])


def test_norm_col_twin_matches_python(spark):
    """udfs.norm_col (ICU4J in the JVM) == contract.normalize on every
    codepoint, on composed strings and at every strip boundary. The one
    known gap: ICU implements a newer Unicode than this Python, so a
    codepoint Python still calls unassigned (Cn) may normalize
    differently. Pinned as a subset, so a Python upgrade shrinks it."""
    import unicodedata

    import pandas as pd
    from pyspark.sql import functions as F

    from kgx.contract import normalize
    from kgx.spark.udfs import norm_col

    singles = [chr(cp) for cp in range(0x110000)
               if not 0xD800 <= cp <= 0xDFFF]
    spaces = [c for c in singles if c.isspace()]
    composed = [
        "é", "ẛ̣", "ą́", "각",
        "한글", "ＫＧ实验室 Ｎｏｖａ", "Straße", "ﬁﬂ",
        "ΣΑΣ", "İstanbul", "ǅemal", "数据科学家", "㍿", "①②",
    ]
    edges = [f"{w}{c}x{w}y{w}" for w in spaces for c in ("", "ß", "Ａ")]
    texts = singles + composed + edges + [None]
    df = spark.createDataFrame(pd.DataFrame(
        {"s": texts, "want": [normalize(t or "") for t in texts]}))
    bad = (
        df.withColumn("got", norm_col("s"))
        .where(F.col("got") != F.col("want"))
        .select("s")
        .collect()
    )
    assert [r.s for r in bad if r.s is None or len(r.s) != 1] == []
    assert {unicodedata.category(r.s) for r in bad} <= {"Cn"}, bad[:20]
    assert df.where(F.col("s").isNull()).select(
        norm_col("s").alias("n")).first().n == ""


def test_distribution_invariance_bucket_counts(spark, t1_dir):
    """SURVEY §7: identical edges/vertices content under different
    partitionings (buckets=1 vs buckets=8). Deterministic-output
    contract: no monotonically_increasing_id, sorted arrays,
    content-derived ids."""
    from kgx.spark.pipeline import run_fixture_pipeline

    out1 = run_fixture_pipeline(spark, t1_dir, buckets=1)
    out8 = run_fixture_pipeline(spark, t1_dir, buckets=8)
    for tbl in ("edges", "vertices"):
        a, b = out1[tbl], out8[tbl]
        cols = sorted(a.columns)
        # aliases is array<string> (sorted by construction) — compare as json
        from pyspark.sql import functions as F

        sel = [
            F.to_json(c).alias(c) if dict(a.dtypes)[c].startswith("array")
            else F.col(c)
            for c in cols
        ]
        aa, bb = a.select(*sel), b.select(*sel)
        assert aa.exceptAll(bb).count() == 0
        assert bb.exceptAll(aa).count() == 0, tbl


def test_tag_extract_distinct_equals_default(spark, t1_dir):
    """Content-addressed tagging (tag distinct texts, join back) must
    be row-for-row identical to the default per-turn path — spans/rel
    are pure functions of text — including exact column order (the
    checkpoint content signature hashes all columns), and it must call
    the tagger on each distinct text once, which the t1 fixture
    exercises (duplicate turn texts exist)."""
    from pyspark.sql import functions as F

    from kgx.spark import stages
    from kgx.spark.udfs import make_tagger_spans_udf
    from kgx.tagcore import TaggerArtifact

    art = TaggerArtifact.load(f"{t1_dir}/tagger_v1.npz")
    patterns = [r.asDict() for r in
                spark.read.parquet(f"{t1_dir}/patterns.parquet").collect()]
    turns = stages.ingest_bucketed(
        spark, f"{t1_dir}/transcripts.parquet", buckets=8)
    n_turns = turns.count()
    n_distinct = turns.select("text").distinct().count()
    assert n_distinct < n_turns  # the fixture really has duplicates

    base = stages.tag_extract(
        turns, make_tagger_spans_udf(spark, art), patterns)
    ca = stages.tag_extract_distinct(
        turns, make_tagger_spans_udf(spark, art), patterns)
    assert ca.columns == base.columns
    cols = [c for c in base.columns if c not in ("spans", "rel")] + [
        F.to_json("spans").alias("sj"), F.to_json("rel").alias("rj")]
    a, b = base.select(*cols), ca.select(*cols)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
