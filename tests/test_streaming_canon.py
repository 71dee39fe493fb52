"""Streaming incremental link/canon: transcript files arriving over
multiple micro-batches must merge into EXACTLY the canonical graph
the batch pipeline (and the sequential oracle) builds on the full
data — the 'KG streamed forward' path."""

import os

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from kgx import oracle
from kgx.spark import streaming
from kgx.spark.io import TableIO
from kgx.spark.pipeline import run_fixture_pipeline
from kgx.spark.run import load_dims
from kgx.spark.udfs import make_tagger_spans_udf


def test_incremental_canon_equals_batch(spark, t1_dir, tmp_path):
    # two arrival files -> two micro-batches (maxFilesPerTrigger=1)
    t = pq.read_table(f"{t1_dir}/transcripts.parquet")
    arrivals = tmp_path / "arrivals"
    os.makedirs(arrivals)
    cut = "c000020"
    pq.write_table(
        t.filter(pc.less(t["conv_id"], cut)), arrivals / "a.parquet"
    )
    pq.write_table(
        t.filter(pc.greater_equal(t["conv_id"], cut)),
        arrivals / "b.parquet",
    )

    dims = load_dims(spark, t1_dir)
    udf = make_tagger_spans_udf(spark, dims["artifact"])
    dict_df = dims["dict_df"]
    patterns = dims["patterns_rows"]
    wh = str(tmp_path / "wh")
    streaming.run_incremental_canon(
        spark, str(arrivals), str(tmp_path / "ckpt"), wh, udf, dict_df,
        patterns_rows=patterns, max_files_per_trigger=1,
    )

    io = TableIO(wh)
    # the state really went through multiple incremental merges
    assert io.manifest("nodes")["version"] >= 2
    # linking keeps no state besides the node log and its edges, and
    # the component state is the entity_map log alone
    for gone in ("node_bands", "cc_labels"):
        assert io.manifest(gone) is None, gone
        assert not os.path.exists(io.table_dir(gone)), gone

    got_map = {
        (r["node_id"], r["canonical_id"])
        for r in io.read(spark, "entity_map").collect()
    }
    batch = run_fixture_pipeline(spark, t1_dir, buckets=8)
    want_map = {
        (r["node_id"], r["canonical_id"])
        for r in batch["entity_map"].collect()
    }
    assert got_map == want_map

    # canonical vertices match the sequential oracle's vertex info
    golden = oracle.run(t1_dir)
    got_v = {
        (r["entity_id"], r["canonical_name"], r["etype"],
         tuple(r["aliases"]))
        for r in io.read(spark, "cc_vertices").collect()
    }
    want_v = {
        (v["entity_id"], v["canonical_name"], v["etype"],
         tuple(v["aliases"]))
        for v in golden["vertices"]
        if v["etype"] != "TOOL"  # tool nodes come from materialize
    }
    assert got_v == want_v

    # incremental edge set equals the batch LSH edge set
    got_e = {
        (r["src"], r["dst"])
        for r in io.read(spark, "lsh_edges").collect()
    }
    want_e = {
        (r["src"], r["dst"]) for r in batch["lsh_edges"].collect()
    }
    assert got_e == want_e

    # canonical KG edges: the additive node-keyed edges_raw log
    # re-keyed through the current entity_map equals the batch
    # pipeline's materialized edges (weights, first/last ts included)
    def edge_key(r):
        return (r["subj_id"], r["pred"], r["obj_id"], r["weight"],
                r["first_ts"], r["last_ts"])

    got_kg = {
        edge_key(r)
        for r in streaming.canonical_edges(spark, wh, dict_df).collect()
    }
    want_kg = {edge_key(r) for r in batch["edges"].collect()}
    assert got_kg == want_kg

    # per-batch write volume is O(batch), not O(history): the node log
    # never rewrites a node (segment rows sum to the state size), and
    # the second batch's map/vertex deltas are strictly smaller
    # than the accumulated state they'd have rewritten under the old
    # full-state-per-batch scheme
    nseg = io.manifest("nodes")["segments"]
    assert len(nseg) >= 2
    assert sum(s["rows"] for s in nseg) == io.read(
        spark, "nodes").count()
    for tbl in ("entity_map", "cc_vertices"):
        segs = io.manifest(tbl)["segments"]
        state_rows = io.read(spark, tbl).count()
        assert segs[-1]["rows"] < state_rows, (
            f"{tbl}: batch-2 delta ({segs[-1]['rows']} rows) not "
            f"smaller than state ({state_rows} rows) — full rewrite?")

    # compaction folds the logs back to one segment per table without
    # changing the resolved views (upsert AND aggregation logs)
    for tbl in streaming.CANON_TABLES:
        io.compact(spark, tbl)
        assert len(io.manifest(tbl)["segments"]) == 1
    assert {
        (r["node_id"], r["canonical_id"])
        for r in io.read(spark, "entity_map").collect()
    } == want_map
    assert {
        edge_key(r)
        for r in streaming.canonical_edges(spark, wh, dict_df).collect()
    } == want_kg


def test_incremental_edges_mid_conversation_split(spark, t1_dir,
                                                  tmp_path):
    """uses_tool needs each conversation's GLOBAL first PER mention;
    splitting every conversation MID-WAY across two micro-batches is
    the adversarial arrival order (a batch-local speaker pick would
    diverge). The streamed state must still equal the batch pipeline
    exactly, because speakers are merged min-of-struct partials and
    the speaker join happens in the canonical_edges view."""
    from pyspark.sql import functions as F

    from kgx.spark.udfs import make_tagger_spans_udf

    med = 4  # t1 convs are longer than this -> every conv splits
    b0 = _turns_of(spark, t1_dir, F.col("turn_idx") < med)
    b1 = _turns_of(spark, t1_dir, F.col("turn_idx") >= med)
    assert b0.count() and b1.count()
    dims = load_dims(spark, t1_dir)
    udf = make_tagger_spans_udf(spark, dims["artifact"])
    dict_df = dims["dict_df"]
    patterns = dims["patterns_rows"]
    wh = str(tmp_path / "wh")
    update = streaming.incremental_canon_updater(
        spark, wh, dict_df, udf, patterns_rows=patterns)
    update(b0, 0)
    update(b1, 1)

    def edge_key(r):
        return (r["subj_id"], r["pred"], r["obj_id"], r["weight"],
                r["first_ts"], r["last_ts"])

    got = {
        edge_key(r)
        for r in streaming.canonical_edges(spark, wh, dict_df).collect()
    }
    batch = run_fixture_pipeline(spark, t1_dir, buckets=8)
    want = {edge_key(r) for r in batch["edges"].collect()}
    assert got == want
    # and the split really exercised cross-batch speakers: some conv
    # has its tool turn and its speaker mention in different batches
    io = TableIO(wh)
    tools_b0 = {
        r["conv_id"]
        for r in io.read(spark, "tool_turns")
        .where(F.col("turn_idx") < med).select("conv_id").collect()
    }
    assert tools_b0, "no tool turns in the first batch"


def _turns_of(spark, t1_dir, pred):
    from pyspark.sql import functions as F

    return (
        spark.read.parquet(f"{t1_dir}/transcripts.parquet")
        .where(pred)
        .localCheckpoint()
    )


def test_incremental_canon_crash_replay(spark, t1_dir, tmp_path,
                                        monkeypatch):
    """foreachBatch is at-least-once: a crash between table commits
    must leave a state that a replay of the SAME batch id repairs
    exactly (rollback via batch-tagged segments + commit marker), and
    a replay of an already-committed batch must be a no-op."""
    from pyspark.sql import functions as F

    from kgx.spark.udfs import make_tagger_spans_udf

    cut = "c000020"
    m0 = _turns_of(spark, t1_dir, F.col("conv_id") < cut)
    m1 = _turns_of(spark, t1_dir, F.col("conv_id") >= cut)
    dims = load_dims(spark, t1_dir)
    udf = make_tagger_spans_udf(spark, dims["artifact"])
    dict_df = dims["dict_df"]
    patterns = dims["patterns_rows"]

    wh = str(tmp_path / "wh")
    update = streaming.incremental_canon_updater(
        spark, wh, dict_df, udf, patterns_rows=patterns)
    update(m0, 0)
    io = TableIO(wh)
    assert streaming.canon_last_applied(io) == 0

    # crash mid-batch-1: the entity_map commit raises AFTER nodes and
    # lsh_edges landed
    real_append = TableIO.append

    def exploding_append(self, df, table, **kw):
        if table == "entity_map":
            raise RuntimeError("simulated crash before entity_map")
        return real_append(self, df, table, **kw)

    monkeypatch.setattr(TableIO, "append", exploding_append)
    with pytest.raises(RuntimeError, match="simulated crash"):
        update(m1, 1)
    monkeypatch.setattr(TableIO, "append", real_append)

    # half-applied: node/edge segments for b1 exist, marker still at 0
    assert any(s["batch_tag"] == "b1"
               for s in io.manifest("nodes")["segments"])
    assert streaming.canon_last_applied(io) == 0

    # replay of batch 1 rolls back the partial segments and applies
    update(m1, 1)
    assert streaming.canon_last_applied(io) == 1
    tags = [s["batch_tag"] for s in io.manifest("nodes")["segments"]]
    assert tags.count("b1") == 1  # rolled back, then applied once

    got_map = {
        (r["node_id"], r["canonical_id"])
        for r in io.read(spark, "entity_map").collect()
    }
    batch = run_fixture_pipeline(spark, t1_dir, buckets=8)
    want_map = {
        (r["node_id"], r["canonical_id"])
        for r in batch["entity_map"].collect()
    }
    assert got_map == want_map

    # replay of a COMMITTED batch id is a no-op
    before = {t: io.manifest(t)["segments"]
              for t in streaming.CANON_TABLES}
    update(m1, 1)
    after = {t: io.manifest(t)["segments"]
             for t in streaming.CANON_TABLES}
    assert before == after


def test_empty_first_batch_then_data(spark, t1_dir, tmp_path):
    """A first micro-batch whose rows are all filtered by the
    empty-text guard must not wedge the stream: the empty state comes
    from the missing node log, not from the commit marker, so the next
    real batch still seeds the logs."""
    from pyspark.sql import functions as F

    from kgx.spark.udfs import make_tagger_spans_udf

    dims = load_dims(spark, t1_dir)
    udf = make_tagger_spans_udf(spark, dims["artifact"])
    dict_df = dims["dict_df"]
    patterns = dims["patterns_rows"]
    wh = str(tmp_path / "wh")
    update = streaming.incremental_canon_updater(
        spark, wh, dict_df, udf, patterns_rows=patterns,
        compact_every=2)
    blank = spark.createDataFrame(
        [("c0", 0, "user", "   ", None, None)],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp",
    )
    update(blank, 0)
    io = TableIO(wh)
    assert streaming.canon_last_applied(io) == 0
    assert io.manifest("nodes") is None  # nothing seeded yet

    cut = "c000020"
    update(_turns_of(spark, t1_dir, F.col("conv_id") < cut), 1)
    assert io.read(spark, "entity_map").count() > 0  # seeded
    # batch 2 appends second segments, reaching compact_every=2: the
    # logs must fold to ONE segment whose batch_tag is None — proof
    # compaction actually ran, not just that the log started with one
    # segment
    update(_turns_of(spark, t1_dir, F.col("conv_id") >= cut), 2)
    compacted = 0
    for tbl in streaming.CANON_TABLES:
        segs = io.manifest(tbl)["segments"]
        assert len(segs) == 1, tbl
        compacted += segs[0]["batch_tag"] is None
    assert compacted == len(streaming.CANON_TABLES), (
        "multi-segment logs were not compacted")


def test_compaction_counts_segments_per_table(spark, t1_dir, tmp_path):
    """Compaction is triggered per table by its own segment count, not
    by the batch id: a batch that adds no node appends no node
    segment, so after cold -> node-adding -> repeat-only batches with
    compact_every=3 the node log keeps its 2 segments while the edge
    log, appended by every batch, folds to 1."""
    from pyspark.sql import functions as F

    from kgx.spark.udfs import make_tagger_spans_udf

    dims = load_dims(spark, t1_dir)
    udf = make_tagger_spans_udf(spark, dims["artifact"])
    wh = str(tmp_path / "wh")
    update = streaming.incremental_canon_updater(
        spark, wh, dims["dict_df"], udf,
        patterns_rows=dims["patterns_rows"], compact_every=3)
    cut = "c000020"
    first = _turns_of(spark, t1_dir, F.col("conv_id") < cut)
    update(first, 0)
    update(_turns_of(spark, t1_dir, F.col("conv_id") >= cut), 1)
    io = TableIO(wh)
    nodes_before = io.manifest("nodes")["rows"]
    update(first, 2)  # repeats batch 0's turns: no new node
    assert io.manifest("nodes")["rows"] == nodes_before
    assert [s["batch_tag"] for s in
            io.manifest("nodes")["segments"]] == ["b0", "b1"]
    assert [s["batch_tag"] for s in
            io.manifest("edges_raw")["segments"]] == [None]


def test_updater_requires_udf_and_patterns(spark, tmp_path):
    with pytest.raises(TypeError, match="patterns_rows"):
        streaming.incremental_canon_updater(
            spark, str(tmp_path), None)


def test_auto_compaction_bounds_segment_fanin(spark, t1_dir, tmp_path):
    """The compaction trigger is ON by default: a long-running stream
    with no compaction config must end with a BOUNDED number of delta
    segments per log table (not one per batch), and the auto-compacted
    state must still resolve to the batch pipeline's canonical map."""
    import inspect

    from pyspark.sql import functions as F

    from kgx.spark.udfs import make_tagger_spans_udf

    # default-on contract: both entry points ship a positive bound
    assert (inspect.signature(streaming.incremental_canon_updater)
            .parameters["compact_every"].default == 16)
    assert (inspect.signature(streaming.run_incremental_canon)
            .parameters["compact_every"].default == 16)

    dims = load_dims(spark, t1_dir)
    udf = make_tagger_spans_udf(spark, dims["artifact"])
    wh = str(tmp_path / "wh")
    cap = 3  # small bound so 10 batches cross it repeatedly
    update = streaming.incremental_canon_updater(
        spark, wh, dims["dict_df"], udf,
        patterns_rows=dims["patterns_rows"], compact_every=cap)

    convs = sorted(
        r["conv_id"] for r in
        spark.read.parquet(f"{t1_dir}/transcripts.parquet")
        .select("conv_id").distinct().collect()
    )
    waves = [set(convs[i::10]) for i in range(10)]
    for i, wave in enumerate(waves):
        update(_turns_of(spark, t1_dir,
                         F.col("conv_id").isin(list(wave))), i)

    io = TableIO(wh)
    for tbl in streaming.CANON_TABLES:
        m = io.manifest(tbl)
        if m is None or m.get("kind") != "log":
            continue
        nseg = len(m["segments"])
        assert nseg < cap, (
            f"{tbl}: {nseg} segments after 10 batches — fan-in "
            f"unbounded despite compact_every={cap}")

    got_map = {
        (r["node_id"], r["canonical_id"])
        for r in io.read(spark, "entity_map").collect()
    }
    batch = run_fixture_pipeline(spark, t1_dir, buckets=8)
    want_map = {
        (r["node_id"], r["canonical_id"])
        for r in batch["entity_map"].collect()
    }
    assert got_map == want_map
