"""LSH bucket-join guard for the B.13 near-duplicate harness ops.

The dedup/ANN harness ops (kgx/harness.py) block candidate pairs
through banded bucket self-joins. An unguarded bucket of n members
costs O(n^2) candidate pairs inside ONE Spark task, and a hot band
bucket (thousands of near-identical documents) is exactly what a
near-dup corpus produces at scale. Entity linking does not use this
module: it runs an exact prefix-filtered join (stages.similar_edges).

Guard semantics (shared by every caller):
  * buckets with <= cap members emit the full within-bucket clique,
    strictly ordered on the first member column;
  * LARGER buckets are NOT dropped: every member is star-linked to the
    bucket's min-struct representative — linear in bucket size and
    connectivity-preserving for downstream connected-components.

Recall caveat (star-link is an APPROXIMATION conditional on bucket
homogeneity): in an oversized bucket only pairs involving the
representative are emitted, so two members both within the similarity
threshold of each other but not of the representative lose their
direct pair.  For near-identical clusters — the case that actually
produces oversized buckets — the representative is within threshold of
everyone and connectivity is preserved; heterogeneous oversized
buckets trade that tail of recall for linear cost.  Downstream
exact-similarity checks still filter every emitted pair, so the guard
can only remove candidates, never admit false ones.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_LSH_BUCKET = 64  # self-join guard: a bucket of n costs n^2 pairs


def _bucket_eq(a: str, b: str, bucket_cols: list[str]):
    return reduce(
        and_,
        [F.col(f"{a}.{c}") == F.col(f"{b}.{c}") for c in bucket_cols],
    )


def _flatten(pairs: DataFrame, member_cols: list[str]) -> DataFrame:
    sel = [F.col(f"ma.{c}").alias(f"a_{c}") for c in member_cols] + [
        F.col(f"mb.{c}").alias(f"b_{c}") for c in member_cols
    ]
    return pairs.select(*sel).dropDuplicates()


def guarded_bucket_pairs(
    banded: DataFrame,
    bucket_cols: list[str],
    member_cols: list[str],
    cap: int = MAX_LSH_BUCKET,
) -> DataFrame:
    """(bucket, member) rows -> deduped candidate pairs.

    `banded` has one row per (bucket, member); a bucket is identified
    by `bucket_cols`, a member by `member_cols`.  Returns one row per
    candidate pair with columns ``a_<c>`` / ``b_<c>`` for each member
    column, satisfying a strict order on the FIRST member column
    (``a_<first> < b_<first>`` — members whose first column ties are
    never paired).

    Buckets with <= `cap` members emit the full clique via an
    equi self-join; larger buckets star-link every member to the
    bucket's min-struct representative (see module docstring).

    The banded frame is materialized once (localCheckpoint): it feeds
    the self-join twice plus the bucket-size aggregate, and without a
    cut Catalyst re-evaluates the whole upstream signature pipeline
    for each of the four subtrees (measured ~2x the op).
    """
    first = member_cols[0]
    m = F.struct(*[F.col(c) for c in member_cols])
    df = banded.select(*bucket_cols, m.alias("m")).localCheckpoint()
    sizes = df.groupBy(*bucket_cols).agg(
        F.count("*").alias("n"), F.min("m").alias("rep")
    )
    bs = df.join(sizes, bucket_cols)
    small = bs.where(F.col("n") <= cap).select(*bucket_cols, "m")
    a, b = small.alias("a"), small.alias("b")
    cand_small = a.join(
        b,
        _bucket_eq("a", "b", bucket_cols)
        & (F.col(f"a.m.{first}") < F.col(f"b.m.{first}")),
    ).select(F.col("a.m").alias("ma"), F.col("b.m").alias("mb"))
    cand_big = bs.where(
        (F.col("n") > cap)
        & (F.col(f"m.{first}") > F.col(f"rep.{first}"))
    ).select(F.col("rep").alias("ma"), F.col("m").alias("mb"))
    return _flatten(cand_small.unionByName(cand_big), member_cols)
