"""Arrow-vectorized pandas UDFs — the only Python on the executor hot
path (SURVEY.md §2 Table B.10).

The taggers follow the iterator-of-series pattern: the frozen model is
materialized once per Python worker (from a broadcast), then every
Arrow batch runs ONE numpy DP over the whole batch (batched CRF Viterbi
— north star). `make_tagger_spans_udf` is the pipeline's tagger (batch
runner, streaming and harness): it returns span offsets as primitive
int arrays, the cheapest Arrow crossing, and stages.tag_spans builds
the span structs JVM-side. `make_tagger_udf` returns the raw
per-character BIO tags, which only the conlleval paths need.
Everything else is vectorized pandas/numpy.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgx.contract import (
    LSH_BANDS,
    LSH_ROWS,
    TAGS,
    char_bigrams,
    minhash_signature,
)
from kgx.tagcore import (
    LexiconMatcher,
    TaggerArtifact,
    decode_bio_batch_arrays,
    make_batch_emitter,
    make_emitter,
    viterbi_batch_padded,
    viterbi_batch_sorted,
)

SPAN_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("begin", T.IntegerType()),
            T.StructField("end", T.IntegerType()),
            T.StructField("surface", T.StringType()),
            T.StructField("etype", T.StringType()),
        ]
    )
)

VITERBI_CHUNK = 512  # bounds the padded DP tensor: 512 seqs x 512
# steps x 7 tags x 4B (float32 model path) ~ 7.3MB per chunk


def make_tagger_udf(spark: SparkSession, artifact: TaggerArtifact):
    """text -> array<string> BIO tags; model loaded once per worker."""
    bc = spark.sparkContext.broadcast(artifact.as_dict())

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def tag_turns(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        art = TaggerArtifact.from_dict(bc.value)
        matcher = LexiconMatcher(art)
        emit = make_emitter(art, matcher)
        a = art.transitions
        for texts in batches:
            vals = texts.fillna("").tolist()
            ems = [emit(t) for t in vals]
            paths = viterbi_batch_sorted(ems, a, chunk=VITERBI_CHUNK)
            yield pd.Series([[TAGS[j] for j in p] for p in paths])

    return tag_turns


OFFSETS_TYPE = T.StructType(
    [
        T.StructField("begins", T.ArrayType(T.IntegerType())),
        T.StructField("ends", T.ArrayType(T.IntegerType())),
        T.StructField("codes", T.ArrayType(T.IntegerType())),
    ]
)


def make_tagger_spans_udf(spark: SparkSession, artifact: TaggerArtifact):
    """text -> span OFFSETS as three primitive int arrays; surfaces and
    the span structs are assembled JVM-side (stages.tag_spans).

    Crossing the Arrow boundary with list-of-struct spans (strings per
    span) measured ~2x the tagger's actual compute at 19.7M turns;
    primitive int arrays serialize near-zero-copy and the substring /
    struct building is whole-stage-codegen JVM work."""
    bc = spark.sparkContext.broadcast(artifact.as_dict())

    @F.pandas_udf(OFFSETS_TYPE)
    def tag_offsets(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        art = TaggerArtifact.from_dict(bc.value)
        matcher = LexiconMatcher(art)
        emit_batch = make_batch_emitter(art, matcher)
        a = art.transitions
        for texts in batches:
            vals = texts.fillna("").tolist()
            nb = len(vals)
            begins: list = [None] * nb
            ends: list = [None] * nb
            codes: list = [None] * nb
            # length-sorted chunks (same rationale as
            # viterbi_batch_sorted: tight padded DP tensors), but the
            # whole chunk stays in padded-matrix form end to end —
            # emissions fill the DP tensor directly and span offsets
            # come out of one vectorized BIO pass, no per-text numpy
            # allocations or per-span Python dicts.
            order = sorted(range(nb), key=lambda i: len(vals[i]))
            for lo in range(0, nb, VITERBI_CHUNK):
                idx = order[lo : lo + VITERBI_CHUNK]
                em, lens = emit_batch([vals[i] for i in idx])
                paths = viterbi_batch_padded(em, lens, a)
                # int32 arrays, not lists: pandas/Arrow converts them
                # ~1.6x faster and they match the array<int> schema
                bs, es, cs = decode_bio_batch_arrays(paths, lens)
                for k, i in enumerate(idx):
                    begins[i] = bs[k]
                    ends[i] = es[k]
                    codes[i] = cs[k]
            yield pd.DataFrame(
                {"begins": begins, "ends": ends, "codes": codes}
            )

    return tag_offsets


# JVM-side span assembly from offsets (SQL expr; codegen-friendly).
# sequence(1, 0) DESCENDS in Spark, so the empty case is guarded.
SPANS_FROM_OFFSETS = """
CASE WHEN size(off.begins) = 0 THEN
  CAST(array() AS
       array<struct<begin:int,end:int,surface:string,etype:string>>)
ELSE
  transform(sequence(1, size(off.begins)), i -> struct(
      off.begins[i-1] AS begin,
      off.ends[i-1] AS end,
      substring(text, off.begins[i-1] + 1,
                off.ends[i-1] - off.begins[i-1]) AS surface,
      element_at(array('PER','LOC','ORG'), off.codes[i-1] + 1) AS etype))
END
"""


@F.pandas_udf(T.StringType())
def normalize_surface(s: pd.Series) -> pd.Series:
    """A.7 normalize: NFKC -> casefold -> strip (vectorized pandas str)."""
    return s.fillna("").str.normalize("NFKC").str.casefold().str.strip()


@F.pandas_udf(T.ArrayType(T.LongType()))
def minhash_sig(norms: pd.Series) -> pd.Series:
    """norm -> 64-perm MinHash signature (values < 2^31, safe as long)."""
    return pd.Series(
        [minhash_signature(n).astype(np.int64).tolist()
         for n in norms.fillna("")]
    )


def bigram_arr_col(c: str):
    """Distinct char bigrams of a string column, JVM-side (twin of
    contract.char_bigrams; substr is codepoint-based like Python
    slicing, so CJK surfaces agree). sequence(1, 0) DESCENDS in Spark
    — the short-string cases are guarded."""
    col = F.col(c)
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length(col) - 1),
            lambda i: col.substr(i, F.lit(2)),
        )
    )
    return (
        F.when(F.length(col) >= 2, grams)
        .when(F.length(col) == 1, F.array(col))
        .otherwise(F.array().cast("array<string>"))
    )


def jaccard_col(a: str, b: str):
    """Exact char-bigram Jaccard as a pure JVM expression (verify step
    after LSH blocking — replaces the Arrow-crossing pandas UDF; the
    double division of small int counts is bit-identical to the
    Python twin contract.jaccard, asserted in tests)."""
    ga, gb = bigram_arr_col(a), bigram_arr_col(b)
    inter = F.size(F.array_intersect(ga, gb))
    den = F.size(ga) + F.size(gb) - inter
    return F.when(den == 0, F.lit(1.0)).otherwise(inter / den)


@F.pandas_udf(T.ArrayType(T.StringType()))
def bigrams_udf(norms: pd.Series) -> pd.Series:
    """Distinct char bigrams (used by the dedup/text harness ops)."""
    return pd.Series([char_bigrams(n) for n in norms.fillna("")])


@F.pandas_udf(T.ArrayType(T.IntegerType()))
def hp_band_keys(embs: pd.Series) -> pd.Series:
    """Embedding -> HP_BANDS hyperplane-LSH band keys (sign-projection
    sketch over integer-quantized vectors; contract.hp_band_keys_np).
    One numpy matmul per Arrow batch — no per-row Python."""
    from kgx.contract import hp_band_keys_np

    if embs.empty:
        return pd.Series([], dtype=object)
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in embs.tolist()])
    keys = hp_band_keys_np(mat)
    return pd.Series([row.tolist() for row in keys])


def band_key_cols():
    """SQL expression producing the 16 LSH band-bucket keys from a
    64-element `sig` array column — JVM-side, no Python."""
    keys = []
    for band in range(LSH_BANDS):
        lo = band * LSH_ROWS
        parts = [F.col("sig")[i].cast("string") for i in range(lo, lo + LSH_ROWS)]
        keys.append(F.concat(F.lit(f"{band}:"), F.concat_ws("-", *parts)))
    return F.array(*keys)
