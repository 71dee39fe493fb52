"""Exact similarity linking (stages.similar_edges, A.7).

The prefix-filtered join must return exactly the brute-force set of
same-etype pairs with char-bigram Jaccard >= JACCARD_TAU, both as one
batch call and as the union of calls over arrival waves (new nodes
against the accumulated ones). That union equalling the batch edge
set is what makes streamed linking equal batch linking."""

import random

from kgx.contract import JACCARD_TAU, jaccard
from kgx.spark import stages

NODE_DDL = "etype string, norm string, node_id string"

# char-bigram Jaccard of this pair is exactly 7/10 = JACCARD_TAU
AT_TAU = ("abcdefghijk", "abcdefgh")


def brute_force(rows):
    """{(src, dst): sim} over all same-etype pairs, src the node with
    the smaller norm — the oracle's link rule."""
    out = {}
    for ea, na, ia in rows:
        for eb, nb, ib in rows:
            if ea == eb and na < nb and ia != ib:
                sim = jaccard(na, nb)
                if sim >= JACCARD_TAU:
                    out[(ia, ib)] = sim
    return out


def edge_map(df):
    return {(r["src"], r["dst"]): r["sim"] for r in df.collect()}


def waves_union(spark, rows, n_waves, rng):
    """Union of similar_edges(new, seen) over `n_waves` random arrival
    waves of `rows`; every pair must be found exactly once."""
    order = rows[:]
    rng.shuffle(order)
    seen, out = [], {}
    for w in range(n_waves):
        wave = order[w::n_waves]
        seen += wave
        got = edge_map(stages.similar_edges(
            spark.createDataFrame(wave, NODE_DDL),
            spark.createDataFrame(seen, NODE_DDL)))
        assert not set(got) & set(out), "pair found in two waves"
        out.update(got)
    return out


def random_nodes(rng, n):
    """Near-duplicate (etype, norm, node_id) rows: mutated copies of a
    few seeds (Latin and CJK), plus norms of length 0-3, the exact
    J = tau pair, and one dict-style entity with two similar aliases
    under a single node id (never an edge: src != dst)."""
    seeds = ["acme corp", "ana okonkwo", "東京大学附属病院", "北京市海淀区",
             "fort kandford", "davor park"]
    alphabet = "abcdefgh 東京大学"
    norms = {"PER": set(), "ORG": set()}
    rows = []

    def add(etype, norm, node_id=None):
        if norm not in norms[etype]:
            norms[etype].add(norm)
            rows.append((etype, norm,
                         node_id or f"n{etype}{len(rows):03d}"))

    for short in ["", "a", "ab", "abc", "東", "東京", "東京大"]:
        add("PER", short)
        add("ORG", short)
    add("ORG", AT_TAU[0])
    add("ORG", AT_TAU[1])
    add("PER", "acme holdings one", "e_dict")
    add("PER", "acme holdings on", "e_dict")
    while len(rows) < n:
        s = list(rng.choice(seeds))
        for _ in range(rng.randint(0, 3)):
            op = rng.randint(0, 2)
            pos = rng.randint(0, len(s))
            if op == 0 and s:
                s.pop(min(pos, len(s) - 1))
            elif op == 1:
                s.insert(pos, rng.choice(alphabet))
            elif s:
                s[min(pos, len(s) - 1)] = rng.choice(alphabet)
        add(rng.choice(["PER", "ORG"]), "".join(s)[:14])
    return rows


def test_similar_edges_equals_brute_force_batch_and_waves(spark):
    assert jaccard(*AT_TAU) == JACCARD_TAU
    for seed in (1, 2, 3):
        rng = random.Random(seed)
        rows = random_nodes(rng, 120)
        want = brute_force(rows)
        assert len(want) > 20, f"seed {seed}: too few true pairs"
        nodes = spark.createDataFrame(rows, NODE_DDL)
        ids = {norm: i for e, norm, i in rows if e == "ORG"}
        assert (ids[AT_TAU[1]], ids[AT_TAU[0]]) in want
        assert edge_map(stages.similar_edges(nodes, nodes)) == want, (
            f"seed {seed}")
        assert waves_union(spark, rows, 3, rng) == want, f"seed {seed}"


def test_hot_cluster_waves_equal_batch_and_brute_force(spark):
    """100 near-identical aliases of one entity, above the old 64-member
    LSH bucket cap that used to star-link: arriving in 3 waves, the
    incremental union is exactly the batch edge set (not only the same
    components), which is the full brute-force set."""
    base = "acme corporation international"
    rows = [("ORG", f"{base} {i:02d}", f"p_{i:02d}") for i in range(100)]
    want = brute_force(rows)
    # the cluster is denser than a star: far more than n - 1 edges
    assert len(want) > 10 * len(rows)
    nodes = spark.createDataFrame(rows, NODE_DDL)
    batch = edge_map(stages.similar_edges(nodes, nodes))
    assert batch == want
    assert waves_union(spark, rows, 3, random.Random(3)) == batch
    # one extra node joining an existing cluster only adds its pairs
    new = spark.createDataFrame([("ORG", f"{base} 100", "p_100")],
                                NODE_DDL)
    delta = edge_map(stages.similar_edges(new, nodes.unionByName(new)))
    assert delta and all("p_100" in pair for pair in delta)
