"""Cluster-safe connected-components checkpointing: a run killed
mid-loop must RESUME from the last warehouse-committed iteration and
still produce the exact labels of an uninterrupted run. (localCheckpoint
alone is executor-local — unrecoverable after executor loss on a real
cluster.)"""

import pytest

from kgx.spark.io import TableIO
from kgx.spark.stages import (
    CC_COMMIT_EVERY,
    CC_STATE_TABLE,
    connected_components,
)


ISOLATED = ("iso0", "iso1")


@pytest.fixture()
def chain(spark):
    """64-node chain: diameter 63, converges in 7 pointer-doubling
    rounds, so the commit after round CC_COMMIT_EVERY (5) is
    mid-flight. Plus two nodes no edge names: every run must union
    them back with label = node_id."""
    nodes = spark.createDataFrame(
        [(f"{i:03d}",) for i in range(64)] + [(n,) for n in ISOLATED],
        "node_id string",
    )
    edges = spark.createDataFrame(
        [(f"{i:03d}", f"{i + 1:03d}", 1.0) for i in range(63)],
        "src string, dst string, sim double",
    )
    return nodes, edges


def test_cc_resumes_from_committed_iteration(spark, spark_jobs, chain,
                                             tmp_path):
    nodes, edges = chain
    clean = {}
    clean_jobs = spark_jobs(lambda: clean.update(
        (r["node_id"], r["label"])
        for r in connected_components(nodes, edges).collect()))
    assert {clean[n] for n in clean if n not in ISOLATED} == {"000"}
    assert all(clean[n] == n for n in ISOLATED)

    io = TableIO(str(tmp_path / "wh"))
    # simulate a mid-canon kill: the run dies right after the commit
    # of round CC_COMMIT_EVERY (non-convergence error is the stand-in)
    with pytest.raises(RuntimeError):
        connected_components(nodes, edges, state_io=io, state_fp="fp1",
                             max_iters=CC_COMMIT_EVERY)
    man = io.manifest(CC_STATE_TABLE)
    assert man is not None and man["cc_iter"] == CC_COMMIT_EVERY - 1
    partial = {
        r["node_id"]: r["label"]
        for r in io.read(spark, CC_STATE_TABLE).collect()
    }
    assert partial != {n: clean[n] for n in partial}  # mid-flight

    # rerun with the same (io, fingerprint): resumes past the commit,
    # so it runs fewer rounds (jobs) than a clean run, and converges
    # to exactly the uninterrupted result, isolated nodes included
    got = {}
    resumed_jobs = spark_jobs(lambda: got.update(
        (r["node_id"], r["label"])
        for r in connected_components(nodes, edges, state_io=io,
                                      state_fp="fp1").collect()))
    assert got == clean
    assert len(resumed_jobs) < len(clean_jobs)


def test_cc_one_action_per_iteration(spark, chain):
    """The convergence check must ride the iteration's checkpoint job
    (observe metric on the carried old_label column), not run as a
    separate join+count action — at 25-iteration ceilings the old
    two-actions-per-iteration shape cost 25 extra full-label joins.

    With AQE off, every action is exactly one job: 1 edge-frame
    checkpoint + k rounds x 1; the isolated nodes are unioned back
    lazily. The 64-chain converges in 7 pointer-doubling rounds (the
    7th observes no change) -> 8 jobs; the two-action shape would be
    15."""
    nodes, edges = chain
    sc = spark.sparkContext
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sc.setJobGroup("cc-jobcount", "cc")
        labels = connected_components(nodes, edges)
        sc.setJobGroup(None, None)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup("cc-jobcount"))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert {r["label"] for r in labels.collect()} == {"000", *ISOLATED}
    assert n_jobs <= 8, f"{n_jobs} jobs: convergence check not folded"


def test_cc_ignores_stale_state(spark, chain, tmp_path):
    """State committed under a DIFFERENT inputs fingerprint must not
    be resumed from (the nodes/edges changed)."""
    nodes, edges = chain
    io = TableIO(str(tmp_path / "wh"))
    with pytest.raises(RuntimeError):
        connected_components(nodes, edges, state_io=io, state_fp="old",
                             max_iters=CC_COMMIT_EVERY)
    assert io.manifest(CC_STATE_TABLE) is not None
    # same io, new fingerprint: starts from scratch and converges
    got = {
        r["node_id"]: r["label"]
        for r in connected_components(
            nodes, edges, state_io=io, state_fp="new"
        ).collect()
    }
    assert set(got.values()) == {"000", *ISOLATED}
