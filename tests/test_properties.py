"""Property-based tests (hypothesis) for the contract-level kernels:
Viterbi optimality vs exhaustive path enumeration, BIO decode
well-formedness, MinHash estimate bounds, salted-vs-plain aggregation
equality, and connected components vs networkx on random graphs.
"""

import itertools

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from kgx.contract import NUM_TAGS, TAGS, jaccard, minhash_signature
from kgx.tagcore import (
    build_transitions,
    decode_bio,
    viterbi,
    viterbi_batch_padded,
)
from tests.tagger_pad import padded_viterbi

A = build_transitions()


@st.composite
def emission_matrix(draw):
    t = draw(st.integers(min_value=0, max_value=5))
    vals = draw(
        st.lists(
            st.floats(min_value=-20, max_value=20, allow_nan=False,
                      width=32),
            min_size=t * NUM_TAGS, max_size=t * NUM_TAGS,
        )
    )
    return np.array(vals, dtype=np.float32).reshape(t, NUM_TAGS)


def brute_force(e: np.ndarray, a: np.ndarray) -> list[int]:
    t = e.shape[0]
    if t == 0:
        return []
    best, best_score = None, -np.inf
    for path in itertools.product(range(NUM_TAGS), repeat=t):
        s = float(e[0, path[0]]) + sum(
            float(a[path[i - 1], path[i]]) + float(e[i, path[i]])
            for i in range(1, t)
        )
        # strict > keeps the FIRST maximal path in lexicographic
        # product order == lowest-tag-id tie-break
        if s > best_score + 1e-9:
            best, best_score = list(path), s
    return best


@settings(max_examples=60, deadline=None)
@given(emission_matrix())
def test_viterbi_is_optimal_with_lowest_id_ties(e):
    got = viterbi(e.astype(np.float64), A)
    want = brute_force(e.astype(np.float64), A)
    # same score; same path when the optimum is unique under the
    # tie-break (float ties at the 1e-9 level may differ in path)
    def score(p):
        if not p:
            return 0.0
        return float(e[0, p[0]]) + sum(
            float(A[p[i - 1], p[i]]) + float(e[i, p[i]])
            for i in range(1, len(p))
        )

    assert abs(score(got) - score(want)) < 1e-6


@settings(max_examples=30, deadline=None)
@given(st.lists(emission_matrix(), min_size=0, max_size=8))
@example(
    ems=[np.array([[0.0000000e+00, 0.0000000e+00, 0.0000000e+00, 0.0000000e+00,
             0.0000000e+00, 0.0000000e+00, 0.0000000e+00],
            [0.0000000e+00, 0.0000000e+00, 0.0000000e+00, 0.0000000e+00,
             0.0000000e+00, 0.0000000e+00, 2.0000000e+00],
            [0.0000000e+00, 0.0000000e+00, 0.0000000e+00, 1.1920929e-07,
             0.0000000e+00, 0.0000000e+00, 0.0000000e+00]], dtype=np.float32)],
).via('discovered failure')
def test_batched_variants_agree_with_single(ems):
    ems64 = [e.astype(np.float64) for e in ems]
    want = [viterbi(e, A) for e in ems64]
    assert padded_viterbi(ems64, A) == want


@settings(max_examples=80, deadline=None)
@given(st.lists(st.sampled_from(TAGS), min_size=0, max_size=12))
def test_decode_bio_wellformed(tags):
    text = "x" * len(tags)
    spans = decode_bio(tags, text)
    prev_end = 0
    for s in spans:
        assert 0 <= s["begin"] < s["end"] <= len(tags)
        assert s["begin"] >= prev_end  # non-overlapping, ordered
        prev_end = s["end"]
        assert s["surface"] == text[s["begin"]:s["end"]]
        # every char inside a span is non-O
        for i in range(s["begin"], s["end"]):
            assert tags[i] != "O"
    # every non-O char is covered by exactly one span
    covered = set()
    for s in spans:
        covered |= set(range(s["begin"], s["end"]))
    assert covered == {i for i, t in enumerate(tags) if t != "O"}


@settings(max_examples=40, deadline=None)
@given(st.text(alphabet="abcdef ", min_size=0, max_size=30),
       st.text(alphabet="abcdef ", min_size=0, max_size=30))
def test_minhash_estimate_is_bounded(a, b):
    sa, sb = minhash_signature(a), minhash_signature(b)
    est = float((sa == sb).mean())
    exact = jaccard(a, b)
    # 64 perms: std err ~ sqrt(p(1-p)/64) <= 0.0625; allow 5 sigma
    assert abs(est - exact) <= 0.32


@settings(max_examples=25, deadline=None)
@given(
    pairs=st.lists(st.tuples(st.integers(0, 14), st.integers(0, 14)),
                   min_size=0, max_size=25),
    node_ids=st.sets(st.integers(0, 19), max_size=12),
)
def test_connected_components_matches_networkx(spark, pairs, node_ids):
    """The node set is a random subset that may omit edge endpoints
    and may hold nodes no edge names: labels must cover exactly the
    subset plus the endpoints, each with its networkx component's
    min id."""
    import networkx as nx

    from kgx.spark.stages import connected_components

    nodes = sorted(f"n{i}" for i in node_ids)
    edges = [(f"n{a}", f"n{b}") for a, b in pairs if a != b]
    ndf = spark.createDataFrame([(n,) for n in nodes], "node_id string")
    edf = spark.createDataFrame(
        edges or [("n0", "n0")], "src string, dst string"
    ).where("src <> dst")
    rows = connected_components(ndf, edf).collect()
    labels = {r["node_id"]: r["label"] for r in rows}

    g = nx.Graph()
    g.add_nodes_from(nodes)
    g.add_edges_from(edges)
    assert len(rows) == len(labels) == g.number_of_nodes()
    for comp in nx.connected_components(g):
        want = min(comp)  # min-label propagation -> lexicographic min
        for n in comp:
            assert labels[n] == want, (n, comp)


def test_cc_long_chain_converges_logarithmically(spark):
    """Pointer doubling: a 120-node path graph (diameter 119) must
    converge well inside CC_MAX_ITERS=25 (plain neighbor-min would
    need ~119 rounds) and label every node with the chain's minimum."""
    from pyspark.sql import functions as F

    from kgx.spark.stages import connected_components

    n = 120
    nodes = spark.createDataFrame(
        [(f"n{i:03d}",) for i in range(n)], "node_id string")
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n - 1)],
        "src string, dst string").withColumn("sim", F.lit(1.0))
    labels = connected_components(nodes, edges).collect()
    assert all(r["label"] == "n000" for r in labels)


def test_incremental_labels_equal_cold_cc(spark):
    """Condensed-graph incremental CC (stages.touched_components) must
    return exactly the nodes of the components a batch touches, and
    merging its labels into the previous entity_map must give the
    node partition a cold full-graph CC computes, for random graphs
    and random batch splits — including merges of several old
    components through one new node, isolated new nodes, and
    new-to-new edges. The previous representatives are each
    component's MAX id, so nothing may rely on a min-id label.
    (Invariant exploited: every post-batch edge touches >= 1 new node,
    which stages.similar_edges guarantees.)"""
    import random

    from pyspark.sql import functions as F

    from kgx.spark.stages import connected_components, touched_components

    def partition(labels):
        groups = {}
        for node, label in labels.items():
            groups.setdefault(label, set()).add(node)
        return {frozenset(g) for g in groups.values()}

    for seed in (11, 22, 33):
        rng = random.Random(seed)
        n1, n2 = 40, 15
        old = [f"n{i:03d}" for i in range(n1)]
        new = [f"n{i:03d}" for i in range(n1, n1 + n2)]
        e1 = {
            tuple(sorted(rng.sample(old, 2)))
            for _ in range(50)
        }
        e2 = set()
        for _ in range(40):
            a, b = rng.choice(new), rng.choice(old + new)
            if a != b:
                e2.add(tuple(sorted((a, b))))

        def df_nodes(ids):
            return spark.createDataFrame([(x,) for x in ids],
                                         "node_id string")

        def df_edges(pairs):
            return spark.createDataFrame(
                [(a, b) for a, b in sorted(pairs)],
                "src string, dst string",
            ).withColumn("sim", F.lit(1.0))

        cold_old = {
            r["node_id"]: r["label"]
            for r in connected_components(
                df_nodes(old), df_edges(e1)).collect()
        }
        rep = {}
        for node, label in cold_old.items():
            rep[label] = max(rep.get(label, node), node)
        prev = {node: rep[label] for node, label in cold_old.items()}
        map_prev = spark.createDataFrame(
            sorted(prev.items()), "node_id string, canonical_id string")
        members = {
            r["node_id"]: r["label"]
            for r in touched_components(map_prev, df_nodes(new),
                                        df_edges(e2)).collect()
        }
        reached = {prev[x] for pair in e2 for x in pair if x in prev}
        assert set(members) == (
            {n for n in old if prev[n] in reached} | set(new)
        ), f"seed {seed}"
        merged = {n: ("old", c) for n, c in prev.items()}
        merged.update({n: ("new", lab) for n, lab in members.items()})
        want = {
            r["node_id"]: r["label"]
            for r in connected_components(
                df_nodes(old + new), df_edges(e1 | e2)).collect()
        }
        assert partition(merged) == partition(want), f"seed {seed}"


@settings(max_examples=30, deadline=None)
@given(st.lists(emission_matrix(), min_size=0, max_size=8))
def test_float32_fast_path_agrees_on_half_integers(ems):
    """The float32 DP fast path (what the production UDFs execute —
    emissions and transitions all float32) must bit-agree with the
    float64 single-sequence reference whenever all scores are
    half-integers, which the artifact loader enforces. Inputs here are
    rounded to halves to model exactly that contract."""
    ems32 = [(np.round(e * 2) / 2).astype(np.float32) for e in ems]
    want = [viterbi(e.astype(np.float64), A) for e in ems32]
    a32 = A.astype(np.float32)
    assert padded_viterbi(ems32, a32) == want


def test_viterbi_batch_promotes_non_float_inputs():
    """Non-float32 inputs must promote the padded DP to float64 — an
    int64 emission of 2^24+1 is not float32-representable and a
    downcast would flip the argmax against the reference."""
    e = np.zeros((2, NUM_TAGS), dtype=np.int64)
    e[1, 3] = 2**24
    e[1, 4] = 2**24 + 1
    want = viterbi(e.astype(np.float64), A)
    # the int64 tensor goes in as is: the promotion under test is
    # viterbi_batch_padded's own
    paths = viterbi_batch_padded(e[None], np.array([2]), A)
    assert paths[0].tolist() == want
    assert want[1] == 4
