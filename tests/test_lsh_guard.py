"""LSH bucket-size guard (kgx/spark/lsh.py) of the B.13 dedup harness
ops: candidate counts are LINEAR in bucket size past the cap
(star-link, not clique), and small buckets emit the full clique."""

import random

from kgx.spark.lsh import guarded_bucket_pairs


def ref_guard_pairs(rows, cap):
    """Pure-Python reference of the guard. `rows` = (bucket, member)
    tuples, member a tuple ordered strictly on its first field."""
    buckets = {}
    for bk, m in rows:
        buckets.setdefault(bk, set()).add(m)
    out = set()
    for ms in buckets.values():
        ms = sorted(ms)
        if len(ms) <= cap:
            for i, a in enumerate(ms):
                for b in ms[i + 1:]:
                    if a[0] < b[0]:
                        out.add((a, b))
        else:
            rep = ms[0]
            for m in ms:
                if m[0] > rep[0]:
                    out.add((rep, m))
    return out


def banded_df(spark, rows):
    return spark.createDataFrame(
        [(bk, m[0]) for bk, m in rows], "bk string, id string"
    )


def spark_pairs(df):
    return {
        ((r["a_id"],), (r["b_id"],))
        for r in df.collect()
    }


def test_small_bucket_full_clique(spark):
    rows = [("b0", (f"m{i}",)) for i in range(5)]
    got = spark_pairs(
        guarded_bucket_pairs(banded_df(spark, rows), ["bk"], ["id"],
                             cap=8)
    )
    assert got == ref_guard_pairs(rows, cap=8)
    assert len(got) == 10  # C(5,2): full clique under the cap


def test_oversized_bucket_star_links_linear(spark):
    n, cap = 30, 8
    rows = [("hot", (f"m{i:03d}",)) for i in range(n)]
    got = spark_pairs(
        guarded_bucket_pairs(banded_df(spark, rows), ["bk"], ["id"],
                             cap=cap)
    )
    # linear: n-1 star edges, every one anchored at the min member
    assert len(got) == n - 1
    assert all(a == ("m000",) for a, _ in got)
    assert got == ref_guard_pairs(rows, cap=cap)
    # and the unguarded count really would have been quadratic
    unguarded = spark_pairs(
        guarded_bucket_pairs(banded_df(spark, rows), ["bk"], ["id"],
                             cap=10 ** 9)
    )
    assert len(unguarded) == n * (n - 1) // 2


def test_guard_matches_reference_randomized(spark):
    rng = random.Random(20260817)
    cap = 6
    rows = []
    for bk in range(7):
        size = rng.choice([1, 2, 4, 6, 9, 20])
        members = rng.sample(range(100), size)
        rows += [(f"b{bk}", (f"m{i:03d}",)) for i in members]
    got = spark_pairs(
        guarded_bucket_pairs(banded_df(spark, rows), ["bk"], ["id"],
                             cap=cap)
    )
    assert got == ref_guard_pairs(rows, cap=cap)
