"""TableIO log-table contract, in isolation: append/upsert/aggregation
merge semantics, tombstones, batch-tag rollback, and compaction. The
streaming tests cover these end-to-end; this pins the primitive's
behavior directly so refactors can't silently weaken it."""

import glob
import os

import pytest

from kgx.spark.io import TableIO


def _rows(df, *cols):
    return {tuple(r[c] for c in cols) for r in df.collect()}


def assert_segment_lineage(io, table):
    """Every segment's `files` are exactly the parquet files of its
    version dir, with their bytes, and their rows add up to the
    segment's."""
    for s in io.manifest(table)["segments"]:
        root = io.path(table, s["version"])
        on_disk = {os.path.relpath(p, root) for p in glob.glob(
            os.path.join(root, "**", "*.parquet"), recursive=True)}
        assert {f["path"] for f in s["files"]} == on_disk, s
        for f in s["files"]:
            assert f["bytes"] == os.path.getsize(
                os.path.join(root, f["path"]))
        assert sum(f["rows"] for f in s["files"]) == s["rows"], s


def test_plain_append_log_unions_segments(spark, tmp_path):
    io = TableIO(str(tmp_path))
    io.append(spark.createDataFrame([(1, "a")], "id int, v string"),
              "t", batch_tag="b0")
    io.append(spark.createDataFrame([(2, "b")], "id int, v string"),
              "t", batch_tag="b1")
    assert _rows(io.read(spark, "t"), "id", "v") == {(1, "a"), (2, "b")}
    assert [s["batch_tag"] for s in io.manifest("t")["segments"]] == [
        "b0", "b1"]
    assert_segment_lineage(io, "t")


def test_upsert_log_latest_wins_and_tombstones(spark, tmp_path):
    io = TableIO(str(tmp_path))
    io.append(spark.createDataFrame([(1, "a"), (2, "b")],
                                    "id int, v string"),
              "t", log_keys=["id"], batch_tag="b0")
    # b1: update key 1, delete key 2, insert key 3
    io.append(
        spark.createDataFrame([(1, "A"), (3, "c")], "id int, v string"),
        "t", log_keys=["id"], batch_tag="b1",
        deletes=spark.createDataFrame([(2,)], "id int"),
    )
    assert _rows(io.read(spark, "t"), "id", "v") == {(1, "A"), (3, "c")}
    # a later re-insert resurrects a tombstoned key
    io.append(spark.createDataFrame([(2, "B")], "id int, v string"),
              "t", log_keys=["id"], batch_tag="b2")
    assert _rows(io.read(spark, "t"), "id", "v") == {
        (1, "A"), (2, "B"), (3, "c")}


def test_agg_log_merges_sum_min_max(spark, tmp_path):
    io = TableIO(str(tmp_path))
    spec = {"keys": ["k"], "sum": ["n"], "min": ["lo"], "max": ["hi"]}
    io.append(spark.createDataFrame([("x", 2, 5, 7), ("y", 1, 1, 1)],
                                    "k string, n long, lo long, hi long"),
              "t", agg_spec=spec, batch_tag="b0")
    io.append(spark.createDataFrame([("x", 3, 2, 9)],
                                    "k string, n long, lo long, hi long"),
              "t", agg_spec=spec, batch_tag="b1")
    assert _rows(io.read(spark, "t"), "k", "n", "lo", "hi") == {
        ("x", 5, 2, 9), ("y", 1, 1, 1)}


def test_prune_batch_rolls_back_exactly(spark, tmp_path):
    io = TableIO(str(tmp_path))
    io.append(spark.createDataFrame([(1,)], "id int"), "t",
              batch_tag="b0")
    io.append(spark.createDataFrame([(2,)], "id int"), "t",
              batch_tag="b1")
    assert io.prune_batch("t", "b1") == 1
    assert _rows(io.read(spark, "t"), "id") == {(1,)}
    # pruning the only segment removes the table entirely
    assert io.prune_batch("t", "b0") == 1
    assert io.manifest("t") is None


def test_compact_preserves_views_and_bounds_segments(spark, tmp_path):
    io = TableIO(str(tmp_path))
    spec = {"keys": ["k"], "sum": ["n"], "min": [], "max": []}
    for i in range(4):
        io.append(spark.createDataFrame([("x", 1), (f"k{i}", 1)],
                                        "k string, n long"),
                  "t", agg_spec=spec, batch_tag=f"b{i}")
    before = _rows(io.read(spark, "t"), "k", "n")
    assert ("x", 4) in before
    assert_segment_lineage(io, "t")
    io.compact(spark, "t")
    m = io.manifest("t")
    assert len(m["segments"]) == 1
    assert m["segments"][0]["rows"] == len(before)
    assert_segment_lineage(io, "t")
    assert _rows(io.read(spark, "t"), "k", "n") == before
    # further appends keep merging correctly after compaction
    io.append(spark.createDataFrame([("x", 1)], "k string, n long"),
              "t", agg_spec=spec, batch_tag="b9")
    assert ("x", 5) in _rows(io.read(spark, "t"), "k", "n")


def test_log_and_snapshot_kinds_do_not_mix(spark, tmp_path):
    io = TableIO(str(tmp_path))
    df = spark.createDataFrame([(1,)], "id int")
    io.write(df, "snap")
    with pytest.raises(ValueError):
        io.append(df, "snap")
    io.append(df, "log")
    with pytest.raises(ValueError):
        io.append(df, "log", log_keys=["id"])  # keys mismatch
    with pytest.raises(ValueError):
        io.append(df, "log", log_keys=["id"],
                  agg_spec={"keys": ["id"], "sum": []})


def test_snapshot_write_rejected_on_log_table(spark, tmp_path):
    """A stray snapshot write() onto a log table would rewrite the
    manifest without kind='log' and silently orphan every delta
    segment — it must be rejected."""
    io = TableIO(str(tmp_path))
    df = spark.createDataFrame([(1,)], "id int")
    io.append(df, "t")
    with pytest.raises(ValueError, match="log table"):
        io.write(df, "t")


def test_same_segment_upsert_beats_tombstone(spark, tmp_path):
    """An upsert row and a tombstone for the same key in ONE append
    share a segment number; resolution must be deterministic (the
    upsert wins) rather than depending on row order."""
    io = TableIO(str(tmp_path))
    io.append(
        spark.createDataFrame([(1, "a")], "id int, v string"),
        "t", log_keys=["id"],
        deletes=spark.createDataFrame([(1,)], "id int"),
    )
    got = {(r["id"], r["v"]) for r in io.read(spark, "t").collect()}
    assert got == {(1, "a")}


def test_append_rejects_duplicate_log_keys_in_one_delta(spark,
                                                        tmp_path):
    """Two upsert rows for one key inside one segment would tie
    nondeterministically in the latest-wins window — the write must
    reject them (round-3 ADVICE)."""
    io = TableIO(str(tmp_path))
    io.append(spark.createDataFrame([(1, "a")], "id int, v string"),
              "t", log_keys=["id"], batch_tag="b0")
    with pytest.raises(ValueError, match="duplicate"):
        io.append(
            spark.createDataFrame([(2, "x"), (2, "y")],
                                  "id int, v string"),
            "t", log_keys=["id"], batch_tag="b1",
        )
    # an upsert plus a tombstone for the SAME key stays legal (the
    # read-side tie rule pins upsert-beats-tombstone)
    io.append(
        spark.createDataFrame([(1, "A")], "id int, v string"),
        "t", log_keys=["id"], batch_tag="b2",
        deletes=spark.createDataFrame([(1,)], "id int"),
    )
    assert _rows(io.read(spark, "t"), "id", "v") == {(1, "A")}


def test_duplicate_delta_rollback_leaves_manifest_untouched(spark,
                                                            tmp_path):
    """The refused duplicate-key delta must roll back COMPLETELY: the
    just-written segment directory is removed, the manifest gains no
    segment (same version, same batch tags), reads see only committed
    state, and the next good append reuses the freed version number
    (round-4 VERDICT item 7). The error must name the offending key
    and the batch tag so a poison streaming batch is diagnosable."""
    import copy

    io = TableIO(str(tmp_path))
    io.append(spark.createDataFrame([(1, "a")], "id int, v string"),
              "t", log_keys=["id"], batch_tag="b0")
    before = copy.deepcopy(io.manifest("t"))
    with pytest.raises(ValueError) as exc:
        io.append(
            spark.createDataFrame([(7, "x"), (7, "y")],
                                  "id int, v string"),
            "t", log_keys=["id"], batch_tag="poison",
        )
    msg = str(exc.value)
    assert "poison" in msg and "7" in msg  # batch tag + key sample
    assert io.manifest("t") == before  # manifest untouched
    assert not os.path.exists(io.path("t", before["version"] + 1))
    assert _rows(io.read(spark, "t"), "id", "v") == {(1, "a")}
    io.append(spark.createDataFrame([(2, "b")], "id int, v string"),
              "t", log_keys=["id"], batch_tag="b1")
    m = io.manifest("t")
    assert m["version"] == before["version"] + 1
    assert [s["batch_tag"] for s in m["segments"]] == ["b0", "b1"]
    assert _rows(io.read(spark, "t"), "id", "v") == {(1, "a"), (2, "b")}


def test_append_rejects_schema_drift(spark, tmp_path):
    """A delta whose column types drifted must fail at the write, not
    null-fill or error at some later read (round-3 ADVICE)."""
    io = TableIO(str(tmp_path))
    io.append(spark.createDataFrame([(1, "a")], "id int, v string"),
              "t", batch_tag="b0")
    with pytest.raises(ValueError, match="schema drift"):
        io.append(spark.createDataFrame([(2, 99)], "id int, v int"),
                  "t", batch_tag="b1")
    with pytest.raises(ValueError, match="schema drift"):
        io.append(spark.createDataFrame([("x", "b")],
                                        "id string, v string"),
                  "t", batch_tag="b1")
    # same shape still appends fine after the rejects
    io.append(spark.createDataFrame([(2, "b")], "id int, v string"),
              "t", batch_tag="b1")
    assert _rows(io.read(spark, "t"), "id", "v") == {(1, "a"), (2, "b")}


def test_prune_batch_requires_a_tag(spark, tmp_path):
    """prune_batch(None) would match compacted/untagged segments and
    silently delete committed state — it must raise instead
    (round-3 ADVICE)."""
    io = TableIO(str(tmp_path))
    io.append(spark.createDataFrame([(1, "a")], "id int, v string"),
              "t", batch_tag="b0")
    io.compact(spark, "t")  # compacted segment carries batch_tag None
    with pytest.raises(ValueError, match="prune_batch"):
        io.prune_batch("t", None)
    assert _rows(io.read(spark, "t"), "id", "v") == {(1, "a")}


def test_log_read_runs_no_job(spark, tmp_path, spark_jobs):
    """A keyed log's merged view is planned from the manifest's schema
    plus the log columns: building it runs no Spark job."""
    io = TableIO(str(tmp_path))
    for tag, rows in (("b0", [(1, "a"), (2, "b")]), ("b1", [(1, "A")])):
        io.append(spark.createDataFrame(rows, "id int, v string"), "t",
                  log_keys=["id"], batch_tag=tag)
    got = []
    assert spark_jobs(lambda: got.append(io.read(spark, "t"))) == []
    assert _rows(got[0], "id", "v") == {(1, "A"), (2, "b")}
    assert got[0].columns == ["id", "v"]
