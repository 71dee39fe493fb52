"""Pipeline stages as DataFrame -> DataFrame functions (SURVEY.md §3.2).

    transcripts -ingest_bucketed-> turns
    turns -tag_extract-> tagged (spans + candidate rel, no text)
    tagged -mentions_of / triples_from_tagged-> mentions, triples_raw
    mentions + alias_dict -link_*-> nodes, lsh_edges, links
    nodes + lsh_edges -connected_components/canonicalize->
        entity_map, cc_vertices
    triples_raw + entity_map -materialize_*-> edges, vertices

This is the one stage graph: kgx.spark.run.Runner sequences it with
checkpoints, and the streaming path (kgx.spark.streaming) applies the
same functions per micro-batch.

Scale notes (SURVEY.md §4): one explicit repartition by conv_id hash up
front; the tag+extract path is partition-local after it (groupBy keys
are prefixed by conv_id). Dimension joins (alias_dict, patterns)
broadcast. Pattern matching is a constant-folded WHEN chain of literal
regexes (whole-stage codegen), not a Python loop. The CC loop
localCheckpoints every iteration to cut lineage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kgx.contract import JACCARD_TAU, SEP
from kgx.spark import lsh as lsh_guard
from kgx.spark.lsh import (
    guarded_bucket_pairs,
    guarded_bucket_pairs_incremental,
)
from kgx.spark.udfs import (
    SPANS_FROM_OFFSETS,
    band_key_cols,
    jaccard_col,
    minhash_sig,
    normalize_surface,
)

CC_MAX_ITERS = 25


def sha16_col(*cols: Column) -> Column:
    """Spark twin of contract.sha16 (verified bit-equal in tests)."""
    return F.substring(F.sha2(F.concat_ws(SEP, *cols), 256), 1, 16)


def prov_id_col(etype: Column, norm: Column) -> Column:
    return F.concat(F.lit("p_"), sha16_col(F.lit("P"), etype, norm))


def tool_id_col(tool: Column) -> Column:
    return F.concat(F.lit("t_"), sha16_col(F.lit("T"), tool))


# --- ingest -----------------------------------------------------------------


def nonempty_text(turns: DataFrame) -> DataFrame:
    """Hygiene filter: drop turns whose text is null or blank; `text`
    itself is never mutated (input_hint invariant). isNotNull is
    implied by the length predicate but stated explicitly so it pushes
    down to the parquet scan."""
    return turns.where(
        F.col("text").isNotNull() & (F.length(F.trim(F.col("text"))) > 0))


def ingest_bucketed(spark, transcripts_path: str,
                    buckets: int = 32) -> DataFrame:
    """Ingest with an explicit bucket column, shuffled ON the bucket so
    the task partitioning is aligned with the `partitionBy('bucket')`
    directory layout: each write task holds one bucket -> `buckets`
    output files, not tasks x buckets tiny ones. bucket is a function
    of conv_id, so conv_id-locality (the per-conv window/groupBy key)
    is preserved."""
    df = nonempty_text(spark.read.parquet(transcripts_path))
    df = df.withColumn(
        "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(buckets))
    )
    return df.repartition(buckets, "bucket")


# --- tag --------------------------------------------------------------------


def tag_spans(turns: DataFrame, tag_spans_udf) -> DataFrame:
    """Entity spans per turn: the tagger UDF
    (udfs.make_tagger_spans_udf) emits only primitive span offsets; the
    surfaces and span structs are built JVM-side (substring +
    transform, whole-stage codegen)."""
    return (
        turns.withColumn("off", tag_spans_udf("text"))
        .withColumn("spans", F.expr(SPANS_FROM_OFFSETS))
        .drop("off")
    )


REL_TYPE_DDL = (
    "array<struct<subj_surface:string,subj_etype:string,pred:string,"
    "obj_surface:string,obj_etype:string,subj_begin:int,obj_begin:int>>"
)


def rel_candidates_col(patterns_rows: list[dict]):
    """Candidate relation triples per turn as a JVM array expression:
    consecutive span pairs -> WHEN chain of literal pattern regexes on
    the inter-mention text (A.6). Evaluated in the SAME stage as
    tagging, so the `text` column never needs to be checkpointed."""
    spans = F.col("spans")
    pats = sorted(patterns_rows, key=lambda p: p["pred"])

    def pair_struct(i):
        m1 = F.element_at(spans, i)
        m2 = F.element_at(spans, i + 1)
        inter = F.col("text").substr(
            m1["end"] + 1, m2["begin"] - m1["end"])
        chain = None
        for p in pats:
            cond = (
                (m1["etype"] == p["subj_etype"])
                & (m2["etype"] == p["obj_etype"])
                & inter.rlike(p["regex"])
            )
            chain = (F.when(cond, p["pred"]) if chain is None
                     else chain.when(cond, p["pred"]))
        pred = (chain.otherwise(F.lit(None)) if chain is not None
                else F.lit(None).cast("string"))
        return F.struct(
            m1["surface"].alias("subj_surface"),
            m1["etype"].alias("subj_etype"),
            pred.alias("pred"),
            m2["surface"].alias("obj_surface"),
            m2["etype"].alias("obj_etype"),
            m1["begin"].alias("subj_begin"),
            m2["begin"].alias("obj_begin"),
        )

    arr = F.filter(
        F.transform(F.sequence(F.lit(1), F.size(spans) - 1), pair_struct),
        lambda x: x["pred"].isNotNull(),
    )
    # sequence(1, 0) DESCENDS -> guard turns with < 2 spans
    return F.when(F.size(spans) >= 2, arr).otherwise(
        F.array().cast(REL_TYPE_DDL)
    )


def tag_extract(turns: DataFrame, tag_spans_udf,
                patterns_rows: list[dict]) -> DataFrame:
    """Fused tag+relation pass (SURVEY §4 'tag+extract in one
    partition-local pass'): spans from the offsets UDF, candidate
    triples from the JVM WHEN-chain, `text` dropped — the checkpoint
    carries only spans + rel (+ turn keys), roughly halving the
    pipeline's biggest write."""
    tagged = tag_spans(turns, tag_spans_udf)
    return tagged.withColumn(
        "rel", rel_candidates_col(patterns_rows)
    ).drop("text")


def tag_extract_distinct(turns: DataFrame, tag_spans_udf,
                         patterns_rows: list[dict],
                         buckets: int | None = None) -> DataFrame:
    """Content-addressed twin of tag_extract: run the tagger ONCE per
    DISTINCT text and join the (spans, rel) results back to the turns.
    spans/rel are pure functions of text, so the output is
    value-identical to tag_extract (same rows, same checkpoint
    content hash — asserted in tests; the join reorders rows, so
    warehouse file bytes may differ) — and on real
    transcript corpora, where short turns ("ok", "thanks", canned tool
    acks) repeat millions of times, the Python tagger work drops from
    O(turns) to O(distinct texts). Cost: one extra shuffle of the text
    column (distinct) plus the join back; the join's probe side is
    skewed exactly on the hot duplicated texts, which AQE's skew split
    handles (same mechanism as join_skew_aqe), and the build side is
    unique-per-key so there is no pair explosion. Selected
    automatically by default: the runner probes the corpus
    duplication rate at the tag stage and flips this path on past the
    measured break-even for the artifact's cost class
    (run.TAG_DISTINCT_AUTO_MIN_RATE_*); `--tag-distinct` /
    `--no-tag-distinct` force either mode.

    Measured on the x20-duplicated 4.37M-turn fixture at local[32],
    WITH the bucket re-alignment shuffle included: tagged-stage wall
    10.2 s -> 8.4 s, same content hash. The
    bounded gain at sandbox scale is expected — the stage is dominated
    by the checkpoint write, and this repo's lexicon+CRF tagger costs
    only ~3 s of the stage at 32 cores. The flag's real leverage is
    when per-text compute dominates (long documents, or a learned
    emission model in the artifact slot — the reference contract's
    BiLSTM/BERT branch costs orders of magnitude more per turn), where
    the saving approaches the corpus duplication rate."""
    uniq = tag_spans(
        turns.select("text").distinct(), tag_spans_udf
    ).withColumn("rel", rel_candidates_col(patterns_rows))
    other = [c for c in turns.columns if c != "text"]
    out = turns.join(uniq, "text").select(*other, "spans", "rel")
    if buckets and "bucket" in turns.columns:
        # the join leaves the result hash-partitioned on text; restore
        # bucket alignment before the partitionBy('bucket') checkpoint
        # write, or every write task holds rows from ~all buckets and
        # the output explodes into tasks x buckets tiny files (the
        # anti-pattern ingest_bucketed exists to prevent)
        out = out.repartition(buckets, "bucket")
    return out


def mentions_of(tagged: DataFrame) -> DataFrame:
    m = tagged.select(
        "conv_id",
        "turn_idx",
        F.explode("spans").alias("sp"),
    )
    return m.select(
        "conv_id",
        "turn_idx",
        F.col("sp.begin").alias("begin"),
        F.col("sp.end").alias("end"),
        F.col("sp.surface").alias("surface"),
        F.col("sp.etype").alias("etype"),
    )


# --- extract ----------------------------------------------------------------


def pattern_triples_of(tagged: DataFrame) -> DataFrame:
    """A.6 pattern relations: the candidate triples tag_extract
    precomputed per turn, one row each. Per-turn, so independent of
    conversation grouping — the streaming path emits these per
    micro-batch."""
    return tagged.select(
        "conv_id", "turn_idx", "ts", F.explode("rel").alias("r")
    ).select("conv_id", "turn_idx", "r.*", "ts")


def conv_speakers_of(tagged: DataFrame) -> DataFrame:
    """A.6 speaker per conversation = first PER mention by
    (turn_idx, begin), as an ALGEBRAIC min-of-struct aggregate — the
    min over any partition of a conv's turns composes to the global
    min, so partials from micro-batches merge exactly (this is what
    makes streaming uses_tool order-independent). Returns
    (conv_id, sp struct<turn_idx,begin,surface>)."""
    return (
        mentions_of(tagged)
        .where(F.col("etype") == "PER")
        .groupBy("conv_id")
        .agg(F.min(F.struct("turn_idx", "begin", "surface")).alias("sp"))
    )


def tool_turns_of(tagged: DataFrame) -> DataFrame:
    """Tool-invocation turns (the uses_tool raw facts)."""
    return tagged.where(
        (F.col("role") == "tool") & F.col("tool").isNotNull()
    ).select("conv_id", "turn_idx", "tool", "ts")


def tool_triples_from(tool_turns: DataFrame,
                      speakers: DataFrame) -> DataFrame:
    """uses_tool triples: each tool turn joined to its conversation's
    speaker (same output schema as pattern_triples_of)."""
    sp = speakers.select(
        "conv_id", F.col("sp.surface").alias("speaker_surface")
    )
    return tool_turns.join(sp, "conv_id").select(
        "conv_id", "turn_idx",
        F.col("speaker_surface").alias("subj_surface"),
        F.lit("PER").alias("subj_etype"),
        F.lit("uses_tool").alias("pred"),
        F.col("tool").alias("obj_surface"),
        F.lit("TOOL").alias("obj_etype"),
        F.lit(-1).alias("subj_begin"),
        F.lit(-1).alias("obj_begin"),
        "ts",
    )


def triples_from_tagged(tagged: DataFrame) -> DataFrame:
    """triples_raw from the fused checkpoint: pattern relations +
    uses_tool triples (speaker = first PER mention per conv)."""
    return pattern_triples_of(tagged).unionByName(
        tool_triples_from(tool_turns_of(tagged), conv_speakers_of(tagged)))


# --- link -------------------------------------------------------------------


def dict_latest(alias_dict: DataFrame) -> DataFrame:
    """Latest alias_dict version per (etype, alias) — as-of semantics."""
    w = Window.partitionBy("etype", "alias").orderBy(F.desc("dict_ts"))
    return (
        alias_dict.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn", "dict_ts")
    )


def _dict_cols(dict_df: DataFrame) -> DataFrame:
    return dict_df.select(
        F.col("etype").alias("d_etype"),
        F.col("alias").alias("d_alias"),
        F.col("entity_id").alias("d_entity_id"),
        F.col("canonical_name").alias("d_canonical"),
    )


def link_nodes(mentions: DataFrame, dict_df: DataFrame) -> DataFrame:
    """Node rows: dict entries ∪ provisional (distinct unlinked norms)."""
    ment = mentions.withColumn("norm", normalize_surface("surface"))
    dic = _dict_cols(dict_df)
    dict_nodes = dic.select(
        F.col("d_entity_id").alias("node_id"),
        F.col("d_etype").alias("etype"),
        F.col("d_alias").alias("norm"),
        F.col("d_canonical").alias("display"),
        F.lit(0).alias("is_prov"),
    )
    prov_nodes = (
        ment.select("etype", "norm")
        .distinct()
        .join(
            F.broadcast(dic),
            (F.col("etype") == dic.d_etype) & (F.col("norm") == dic.d_alias),
            "left_anti",
        )
        .select(
            prov_id_col(F.col("etype"), F.col("norm")).alias("node_id"),
            "etype",
            "norm",
            F.col("norm").alias("display"),
            F.lit(1).alias("is_prov"),
        )
    )
    return dict_nodes.unionByName(prov_nodes)


def banded_nodes(nodes: DataFrame) -> DataFrame:
    """(etype, norm, node_id) -> one row per LSH band bucket key.

    Band keys are a pure function of `norm`, so for IMMUTABLE node
    rows they can be computed once and stored (the streaming path
    keeps them in the node_bands log — per batch the MinHash pandas
    UDF then runs over the NEW nodes only, while the accumulated
    side is a plain parquet scan of stored bands)."""
    return (
        nodes.select("etype", "norm", "node_id")
        .withColumn("sig", minhash_sig("norm"))
        .select(
            "etype", "norm", "node_id",
            F.explode(band_key_cols()).alias("bk"),
        )
    )


def _verify_pairs(pairs: DataFrame) -> DataFrame:
    """Guarded candidate pairs -> verified (src, dst, sim) edges via
    exact bigram Jaccard (A.7 verify step, pure JVM)."""
    cand = pairs.select(
        F.col("a_node_id").alias("src"),
        F.col("b_node_id").alias("dst"),
        F.col("a_norm").alias("norm_a"),
        F.col("b_norm").alias("norm_b"),
    ).dropDuplicates(["src", "dst", "norm_a", "norm_b"])
    return (
        cand.withColumn("sim", jaccard_col("norm_a", "norm_b"))
        .where(F.col("sim") >= F.lit(JACCARD_TAU))
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst", "sim")
        .dropDuplicates(["src", "dst"])
    )


def link_lsh_edges(nodes: DataFrame,
                   cap: int = lsh_guard.MAX_LSH_BUCKET) -> DataFrame:
    """MinHash-LSH blocking over distinct (etype, norm) node rows,
    verified by exact bigram Jaccard (A.7).

    Candidate pairs go through the SHARED bucket-size guard
    (kgx/spark/lsh.py — the same implementation the B.13 dedup harness
    uses): a band bucket with more than MAX_LSH_BUCKET members — a
    hot cluster of near-identical aliases, exactly what entity linking
    attracts at scale — is star-linked to its min-norm member instead
    of exploding into an O(n^2) within-bucket clique join, keeping the
    cluster connected for connected-components at linear cost."""
    return _verify_pairs(
        guarded_bucket_pairs(
            banded_nodes(nodes),
            bucket_cols=["etype", "bk"],
            member_cols=["norm", "node_id"],
            cap=cap,
        )
    )


def link_lsh_edges_incremental(
        new_nodes: DataFrame, all_nodes: DataFrame,
        cap: int = lsh_guard.MAX_LSH_BUCKET) -> DataFrame:
    """Incremental LSH edges: candidate pairs touching at least one
    NEW node (new x all banded equi-join — the cost is proportional to
    the micro-batch, not the accumulated node table), verified by the
    same exact bigram Jaccard. Pairs are normalized to the batch
    convention (norm_a < norm_b), so for buckets within the shared
    guard's cap the union with the previous edge table reproduces
    exactly the edge set a cold batch run would build (asserted in
    tests/test_streaming_canon.py). Buckets past MAX_LSH_BUCKET
    star-link so that every member is at some batch paired with the
    bucket's FINAL representative (kgx/spark/lsh.py): the verified
    union is a SUPERSET of the batch guard's verified star edges —
    every merge the batch path makes, the stream makes too; a
    heterogeneous oversized bucket may additionally merge via an
    interim representative whose similarity also passes the Jaccard
    verify (a true-similarity edge; both paths already trade exact
    clique semantics in oversized buckets — guard-level components
    pinned in tests/test_lsh_guard.py)."""
    return link_lsh_edges_incremental_banded(
        banded_nodes(new_nodes), banded_nodes(all_nodes), cap=cap
    )


def link_lsh_edges_incremental_banded(
        new_banded: DataFrame, all_banded: DataFrame,
        cap: int = lsh_guard.MAX_LSH_BUCKET) -> DataFrame:
    """link_lsh_edges_incremental over PRE-BANDED frames
    (etype, norm, node_id, bk) — the streaming path stores bands in
    the node_bands log when a node first arrives (bands are a pure
    function of the immutable norm), so the accumulated side here is
    a plain parquet scan with no per-batch MinHash recompute."""
    return _verify_pairs(
        guarded_bucket_pairs_incremental(
            new_banded,
            all_banded,
            bucket_cols=["etype", "bk"],
            member_cols=["norm", "node_id"],
            cap=cap,
        )
    )


def link_links(mentions: DataFrame, dict_df: DataFrame,
               lsh_edges: DataFrame) -> DataFrame:
    """Per-mention link rows (exact broadcast hit, LSH-supported, or
    provisional). Pass a materialized lsh_edges (read back from its
    checkpoint) so its self-join is not recomputed."""
    ment = mentions.withColumn("norm", normalize_surface("surface"))
    dic = _dict_cols(dict_df)
    exact = ment.join(
        F.broadcast(dic),
        (ment.etype == dic.d_etype) & (ment.norm == dic.d_alias),
        "left",
    ).withColumn(
        "node_id",
        F.coalesce(F.col("d_entity_id"),
                   prov_id_col(F.col("etype"), F.col("norm"))),
    )
    node_sim = (
        lsh_edges.select(F.col("src").alias("nid"), "sim")
        .unionByName(lsh_edges.select(F.col("dst").alias("nid"), "sim"))
        .groupBy("nid")
        .agg(F.max("sim").alias("best_sim"))
    )
    # node_sim is DATA-DERIVED (one row per LSH-edge endpoint) — it
    # grows with the corpus, so a broadcast hint would OOM the driver
    # at scale; leave the strategy to AQE (which will still broadcast
    # it when it happens to be small).
    return (
        exact.join(node_sim, exact.node_id == node_sim.nid,
                   "left")
        .select(
            "conv_id",
            "turn_idx",
            "begin",
            F.col("node_id").alias("entity_id"),
            F.when(F.col("d_entity_id").isNotNull(), "exact")
            .when(F.col("best_sim").isNotNull(), "lsh")
            .otherwise("prov")
            .alias("method"),
            F.when(F.col("d_entity_id").isNotNull(), F.lit(1.0))
            .otherwise(F.coalesce(F.col("best_sim"), F.lit(0.0)))
            .alias("score"),
        )
    )


# --- canon ------------------------------------------------------------------


CC_STATE_TABLE = "cc_state"


def connected_components(nodes: DataFrame, lsh_edges: DataFrame,
                         state_io=None, state_fp: str | None = None,
                         checkpoint_every: int = 5,
                         max_iters: int = CC_MAX_ITERS,
                         labels0: DataFrame | None = None) -> DataFrame:
    """Min-label propagation + pointer doubling over iterative
    DataFrame joins; localCheckpoint each iteration cuts the lineage
    (SURVEY §4). Returns (node_id, label).

    Each round does (a) neighbor-min — label(v) <- min over v's
    neighborhood — and (b) a pointer jump — label(v) <-
    label(label(v)) — so convergence is O(log diameter), not
    O(diameter): a 10^5-hop alias chain converges in ~17 rounds where
    plain propagation would need 10^5. Labels are always existing
    node ids (min over ids), so the jump lookup always hits.

    Reliability: localCheckpoint is EXECUTOR-LOCAL storage — on a real
    cluster an executor loss mid-loop makes the lineage unrecoverable.
    Pass `state_io` (a TableIO) to additionally commit the label table
    through the warehouse every `checkpoint_every` iterations, tagged
    with `state_fp`; a rerun with the same (io, fp) RESUMES from the
    last committed iteration (tested by killing a run mid-loop in
    tests/test_cc_checkpoint.py). The warehouse write doubles as a
    durable lineage cut for that iteration.

    Incremental mode: pass `labels0` (node_id, label) to SEED the
    propagation — e.g. the previous micro-batch's converged labels
    plus identity rows for new nodes (streaming incremental canon).
    Min-label propagation from any per-component-consistent seed
    converges to the same min(node_id) per component as a cold start,
    but in rounds proportional to the CHANGED region only."""
    spark = nodes.sparkSession
    start_iter = 0
    labels = None
    if state_io is not None and state_io.is_complete(CC_STATE_TABLE,
                                                     state_fp):
        man = state_io.manifest(CC_STATE_TABLE)
        start_iter = int(man.get("cc_iter", -1)) + 1
        labels = state_io.read(spark, CC_STATE_TABLE)
    if labels is None and labels0 is not None:
        labels = labels0.select("node_id", "label").localCheckpoint()
    if labels is None:
        labels = (
            nodes.select("node_id")
            .distinct()
            .withColumn("label", F.col("node_id"))
            .localCheckpoint()
        )
    sym = (
        lsh_edges.select("src", "dst")
        .unionByName(
            lsh_edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .localCheckpoint()
    )
    if sym.isEmpty():
        return labels
    from pyspark.sql import Observation

    for it in range(start_iter, max_iters):
        nbr = (
            sym.join(labels, sym.src == labels.node_id)
            .groupBy("dst")
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = labels.join(nbr, labels.node_id == nbr.dst, "left").select(
            "node_id",
            F.col("label").alias("old_label"),
            F.least(
                F.col("label"),
                F.coalesce(F.col("nbr_label"), F.col("label")),
            ).alias("label"),
        )
        # pointer doubling: follow the label one hop
        lookup = stepped.select(
            F.col("node_id").alias("l_node"),
            F.col("label").alias("l_label"),
        )
        # convergence check rides the SAME job as the checkpoint: the
        # previous label is carried as a column and the changed count
        # is an observe() metric collected while localCheckpoint
        # materializes — no separate join+count job per iteration
        # (halves Spark jobs across the loop).
        obs = Observation(f"cc_changed_{it}")
        new_labels = (
            stepped.join(lookup, stepped.label == lookup.l_node, "left")
            .select(
                "node_id",
                "old_label",
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("l_label"), F.col("label")),
                ).alias("label"),
            )
            .observe(
                obs,
                F.sum(
                    (F.col("label") != F.col("old_label")).cast("long")
                ).alias("changed"),
            )
            .localCheckpoint()
        )
        changed = _observed_changed(obs, new_labels)
        labels = new_labels.select("node_id", "label")
        if changed == 0:
            return labels
        if (
            state_io is not None
            and checkpoint_every
            and (it + 1) % checkpoint_every == 0
        ):
            state_io.write(labels, CC_STATE_TABLE,
                           inputs_fingerprint=state_fp,
                           extra={"cc_iter": it})
            labels = state_io.read(spark, CC_STATE_TABLE)
    raise RuntimeError(f"CC did not converge in {max_iters} iterations")


def _observed_changed(obs, new_labels: DataFrame,
                      timeout_s: float = 30.0) -> int:
    """Changed-label count for one CC iteration, from the observe()
    metric that rides the localCheckpoint job — fetched with a
    BOUNDED wait. Observation.get blocks forever if the runtime never
    delivers QueryExecutionListener metrics for the checkpoint action
    (it does on the pinned Spark — asserted by every CC test — but a
    hang is the wrong failure mode), so poll the non-blocking
    getRowOrEmpty until the deadline and then fall back to one
    explicit aggregate over the already-materialized frame."""
    import time

    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        try:
            # _jo / getRowOrEmpty are PySpark/Scala PRIVATE surface —
            # present on the pinned Spark 4.1, but a minor-version
            # bump may remove either; degrade to the explicit
            # aggregate instead of crashing the CC loop.
            if (obs._jo is not None
                    and obs._jo.getRowOrEmpty().isDefined()):
                return int(obs.get["changed"] or 0)
        except Exception:  # AttributeError / Py4JError
            break
        time.sleep(0.05)
    return new_labels.where(
        F.col("label") != F.col("old_label")
    ).count()


def incremental_labels(labels_prev: DataFrame, new_nodes: DataFrame,
                       new_edges: DataFrame) -> DataFrame:
    """Condensed-graph incremental connected components: given the
    previous converged labels, a batch of NEW nodes, and new edges
    (each touching at least one new node — the incremental-LSH
    invariant), return the LABEL DELTA: rows only for existing nodes
    whose component merged plus the new nodes.

    The CC itself runs on the CONDENSED graph — nodes are previous
    component labels + new node ids, edges are the new edges with
    endpoints mapped through labels_prev (new nodes map to
    themselves). A previous label is the min id of its component, so
    the condensed component minimum IS the full-graph component
    minimum; the CC input is batch-sized, never corpus-sized.
    Equivalence with a cold full-graph CC is property-tested over
    random graphs (tests/test_properties.py) and end-to-end by the
    batch==stream suite."""
    lab_src = labels_prev.select(
        F.col("node_id").alias("src"), F.col("label").alias("ls"))
    lab_dst = labels_prev.select(
        F.col("node_id").alias("dst"), F.col("label").alias("ld"))
    cedges = (
        new_edges.select("src", "dst")
        .join(lab_src, "src", "left")
        .join(lab_dst, "dst", "left")
        .select(
            F.coalesce("ls", F.col("src")).alias("src"),
            F.coalesce("ld", F.col("dst")).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )
    cnodes = (
        cedges.select(F.col("src").alias("node_id"))
        .unionByName(cedges.select(F.col("dst").alias("node_id")))
        .unionByName(new_nodes.select("node_id"))
        .distinct()
    )
    clabels = connected_components(
        cnodes, cedges.withColumn("sim", F.lit(1.0)))
    changed = clabels.where(F.col("node_id") != F.col("label"))

    # delta: existing nodes in re-labeled components + new nodes
    # (coalesce-to-self covers isolated new nodes)
    delta_old = labels_prev.join(
        changed.select(F.col("node_id").alias("label"),
                       F.col("label").alias("nl")),
        "label",
    ).select("node_id", F.col("nl").alias("label"))
    delta_new = (
        new_nodes.select("node_id")
        .distinct()
        .join(clabels, "node_id", "left")
        .select("node_id",
                F.coalesce("label", F.col("node_id")).alias("label"))
    )
    return delta_old.unionByName(delta_new)


SALT_K = 16  # fan-out CAP per hot key (raise with cluster width)
SALT_HOT_MIN = 1024  # a key is salt-eligible only past this degree


def salted_members(member: DataFrame, key: str = "label",
                   member_col: str = "node_id",
                   hot_min: int = SALT_HOT_MIN) -> DataFrame:
    """Quantile-driven per-key salt fan-out (SURVEY §4): instead of a
    static SALT_K for every key, measure each key's degree once (a
    partial-aggregated count — one shuffled row per key), derive the
    skew threshold from the degree distribution itself (p95 quantile,
    floored at `hot_min` so 'hot' means a genuinely large reducer
    group, not the top of a uniformly tiny distribution), and fan out
    ONLY the hot keys: fan = ceil(degree / threshold) capped at
    SALT_K. Cold keys keep salt 0, so phase-2 merge touches one row
    per cold key and the salted plan degenerates to the unsalted one
    on unskewed data.

    Scale shape: the hot-key table is tiny by construction (degree >
    max(p95, hot_min) keys) and is BROADCAST back onto the members —
    the member frame is never pre-shuffled by key just to learn its
    fan-out; the only wide exchange stays the phase-1 (key, salt)
    aggregation. Output equality with any static salt (including
    none) holds because both downstream combines are algebraic
    (min-of-struct) or set-union (collect_set) — pinned by
    tests/test_salt_fanout.py and the oracle-parity suite."""
    deg = member.groupBy(key).agg(F.count("*").alias("_deg"))
    p95 = deg.select(
        F.percentile_approx("_deg", F.lit(0.95)).alias("_p95"))
    hot = (
        deg.crossJoin(F.broadcast(p95))
        .where((F.col("_deg") > F.col("_p95"))
               & (F.col("_deg") > hot_min))
        .select(
            key,
            F.least(
                F.lit(SALT_K),
                F.ceil(F.col("_deg")
                       / F.greatest(F.col("_p95"), F.lit(hot_min))),
            ).cast("int").alias("_fan"),
        )
    )
    return (
        member.join(F.broadcast(hot), key, "left")
        .withColumn(
            "salt",
            F.when(F.col("_fan").isNull(), F.lit(0)).otherwise(
                F.pmod(F.xxhash64(member_col), F.col("_fan"))
            ),
        )
        .drop("_fan")
    )


def canonicalize(nodes: DataFrame, labels: DataFrame):
    """A.8: per-component canonical node + entity_map + cc vertices.

    The alias list is a two-phase SALTED aggregation (north star:
    "salted aggregation for high-degree nodes"): collect_set is
    holistic — a hot component (an entity with a huge alias set) would
    funnel every row to one reducer. Phase 1 collects per (label,
    salt); phase 2 merges the <=SALT_K partial sets per label. min()
    over structs is algebraic, so the canonical-node pick composes
    across phases unchanged. Equality with the unsalted form is
    covered by the oracle-parity and distribution-invariance tests.
    The per-label fan-out is degree-quantile-driven (salted_members),
    not static.

    The member frame is localCheckpointed once: it feeds THREE
    consumers (the degree probe, the two-phase aggregation, and
    entity_map), and nodes-join-labels would otherwise re-execute per
    consumer per action. Members are entity-alias rows — bounded by
    distinct mentions, not corpus size — so the materialization is
    small even at 100 TB of turns."""
    member = salted_members(
        nodes.join(labels, "node_id").localCheckpoint())
    partial = member.groupBy("label", "salt").agg(
        F.min(
            F.struct("is_prov", "etype", "norm", "node_id", "display")
        ).alias("c"),
        F.collect_set("norm").alias("al"),
    )
    canon = partial.groupBy("label").agg(
        F.min("c").alias("c"),
        F.sort_array(
            F.array_distinct(F.flatten(F.collect_list("al")))
        ).alias("aliases"),
    )
    member = member.drop("salt")
    entity_map = (
        member.select("node_id", "label")
        .distinct()
        .join(canon.select("label", F.col("c.node_id").alias("canonical_id")),
              "label")
        .select("node_id", "canonical_id")
    )
    cc_vertices = canon.select(
        F.col("c.node_id").alias("entity_id"),
        F.col("c.display").alias("canonical_name"),
        F.col("c.etype").alias("etype"),
        "aliases",
    )
    return entity_map, cc_vertices


# --- materialize -------------------------------------------------------------


def triples_node_keyed(triples_raw: DataFrame,
                       dict_df: DataFrame) -> DataFrame:
    """Triples keyed by STABLE node ids (dict entity / provisional /
    tool) — node ids never change as the corpus grows, unlike
    canonical ids which move when components merge. This is the
    stateless per-batch half of edge materialization; the canonical
    re-key happens in edges_canonical."""
    dic_s = dict_df.select(
        F.col("etype").alias("s_etype"), F.col("alias").alias("s_alias"),
        F.col("entity_id").alias("s_ent"),
    )
    dic_o = dict_df.select(
        F.col("etype").alias("o_etype"), F.col("alias").alias("o_alias"),
        F.col("entity_id").alias("o_ent"),
    )
    return (
        triples_raw.withColumn("subj_norm", normalize_surface("subj_surface"))
        .withColumn("obj_norm", normalize_surface("obj_surface"))
        .join(
            F.broadcast(dic_s),
            (F.col("subj_etype") == F.col("s_etype"))
            & (F.col("subj_norm") == F.col("s_alias")),
            "left",
        )
        .join(
            F.broadcast(dic_o),
            (F.col("obj_etype") == F.col("o_etype"))
            & (F.col("obj_norm") == F.col("o_alias")),
            "left",
        )
        .withColumn(
            "subj_node",
            F.coalesce(F.col("s_ent"),
                       prov_id_col(F.col("subj_etype"), F.col("subj_norm"))),
        )
        .withColumn(
            "obj_node",
            F.when(F.col("pred") == "uses_tool",
                   tool_id_col(F.col("obj_surface")))
            .otherwise(
                F.coalesce(F.col("o_ent"),
                           prov_id_col(F.col("obj_etype"),
                                       F.col("obj_norm")))),
        )
    )


def edges_partial(keyed: DataFrame) -> DataFrame:
    """Node-keyed partial edge aggregate. weight/first_ts/last_ts are
    sum/min/max — commutative-associative, so partials from disjoint
    batches merge into exactly the full-data aggregate (this is what
    makes the streaming edges_raw an append-only aggregation log)."""
    return keyed.groupBy("subj_node", "pred", "obj_node").agg(
        F.count("*").alias("weight"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


def edges_canonical(partial: DataFrame,
                    entity_map: DataFrame) -> DataFrame:
    """Re-key node-level partial edges through the CURRENT canonical
    map and merge: canonical ids move when components merge, so this
    is a view over the stable node-keyed state, never a stored table
    that would need rewriting on a merge."""
    map_s = entity_map.select(F.col("node_id").alias("sn"),
                              F.col("canonical_id").alias("subj_id"))
    map_o = entity_map.select(F.col("node_id").alias("on"),
                              F.col("canonical_id").alias("obj_canon"))
    keyed = (
        partial.join(map_s, partial.subj_node == map_s.sn)
        .join(map_o, partial.obj_node == map_o.on, "left")
        .withColumn(
            "obj_id",
            F.when(F.col("pred") == "uses_tool", F.col("obj_node"))
            .otherwise(F.col("obj_canon")),
        )
    )
    return keyed.groupBy("subj_id", "pred", "obj_id").agg(
        F.sum("weight").alias("weight"),
        F.min("first_ts").alias("first_ts"),
        F.max("last_ts").alias("last_ts"),
    )


def materialize_edges(triples_raw: DataFrame, dict_df: DataFrame,
                      entity_map: DataFrame) -> DataFrame:
    """Canonical edges (A.8/A.9): triples re-keyed through the
    mention→canonical map, weight = support count."""
    return edges_canonical(
        edges_partial(triples_node_keyed(triples_raw, dict_df)),
        entity_map,
    )


def materialize_vertices(edges: DataFrame, cc_vertices: DataFrame,
                         triples_raw: DataFrame) -> DataFrame:
    """Canonical vertices with degrees. Pass a materialized edges
    (read back from its checkpoint) so the big triples join is not
    recomputed for the degree aggregate."""
    degree = (
        edges.select(
            F.explode(
                F.array_distinct(F.array("subj_id", "obj_id"))
            ).alias("entity_id")
        )
        .groupBy("entity_id")
        .agg(F.count("*").alias("degree"))
    )
    tool_vertices = (
        triples_raw.where(F.col("pred") == "uses_tool")
        .select(F.col("obj_surface").alias("canonical_name"))
        .distinct()
        .select(
            tool_id_col(F.col("canonical_name")).alias("entity_id"),
            "canonical_name",
            F.lit("TOOL").alias("etype"),
            F.array(F.col("canonical_name")).alias("aliases"),
        )
    )
    return (
        cc_vertices.unionByName(tool_vertices)
        .join(degree, "entity_id", "left")
        .withColumn("degree", F.coalesce(F.col("degree"), F.lit(0)))
    )
