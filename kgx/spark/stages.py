"""Pipeline stages as DataFrame -> DataFrame functions (SURVEY.md §3.2).

    transcripts -ingest_bucketed-> turns
    turns -tag_extract-> tagged (spans + candidate rel, no text)
    tagged -mentions_of / triples_from_tagged-> mentions, triples_raw
    mentions + alias_dict -link_nodes / similar_edges / link_links->
        nodes, lsh_edges, links (resolve is the one surface -> node id
        rule: JVM normalize, broadcast dict lookup, provisional id)
    nodes + lsh_edges -connected_components/canonicalize->
        entity_map, cc_vertices
    triples_raw + entity_map -materialize_*-> edges, vertices

This is the one stage graph: kgx.spark.run.Runner sequences it with
checkpoints, and the streaming path (kgx.spark.streaming) applies the
same functions per micro-batch.

Scale notes (SURVEY.md §4): ingest repartitions once by a conv_id
hash bucket, and tagging is per row. That locality does not survive
the runner's checkpoints: every stage reads its input back from
parquet, so the extract stage's per-conversation groupBys shuffle by
conv_id again. Dimension joins (alias_dict, patterns) broadcast.
Pattern matching is a constant-folded WHEN chain of literal regexes
(whole-stage codegen), not a Python loop. Similarity linking
(similar_edges) is one exact prefix-filtered equi-join over the
distinct (etype, norm) nodes; a streaming batch that adds nodes runs
it with its new nodes against the accumulated node log (one scan and
one bigram-frequency aggregate of that log). The CC loop iterates over
the edge endpoints only (nodes no edge names are unioned back once,
after convergence) and localCheckpoints every iteration to cut
lineage; the durable cut is the optional warehouse commit of its
state every CC_COMMIT_EVERY iterations (connected_components).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from kgx.contract import JACCARD_TAU, SEP
from kgx.spark.udfs import (
    SPANS_FROM_OFFSETS,
    bigram_arr_col,
    jaccard_col,
    norm_col,
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
    automatically: the runner probes the corpus duplication rate at
    the tag stage and takes this path past the measured break-even
    (run.TAG_DISTINCT_AUTO_MIN_RATE_LEXICON).

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


def resolve(df: DataFrame, etype: str, surface: str, dict_df: DataFrame,
            out: str) -> DataFrame:
    """A.7's one node-id rule: adds `{out}_norm` (the normalized
    surface), `{out}_ent` (the latest alias_dict entity for
    (etype, norm), null on a miss) and `{out}` = the entity, else the
    provisional id. One broadcast left join per call."""
    norm, ent = f"{out}_norm", f"{out}_ent"
    dic = dict_df.select(F.col("etype").alias(etype),
                         F.col("alias").alias(norm),
                         F.col("entity_id").alias(ent))
    # the norm is projected before the join: reflect is nondeterministic
    # to Catalyst and may not sit in a join condition
    return (
        df.withColumn(norm, norm_col(surface))
        .join(F.broadcast(dic), [etype, norm], "left")
        .withColumn(out, F.coalesce(F.col(ent),
                                    prov_id_col(F.col(etype), F.col(norm))))
    )


def link_nodes(mentions: DataFrame, dict_df: DataFrame) -> DataFrame:
    """Node rows: dict entries ∪ provisional (distinct unlinked norms)."""
    dict_nodes = dict_df.select(
        F.col("entity_id").alias("node_id"),
        "etype",
        F.col("alias").alias("norm"),
        F.col("canonical_name").alias("display"),
        F.lit(0).alias("is_prov"),
    )
    prov_nodes = (
        resolve(mentions, "etype", "surface", dict_df, "node_id")
        .where(F.col("node_id_ent").isNull())
        .select(
            "node_id",
            "etype",
            F.col("node_id_norm").alias("norm"),
            F.col("node_id_norm").alias("display"),
            F.lit(1).alias("is_prov"),
        )
        .distinct()
    )
    return dict_nodes.unionByName(prov_nodes)


def similar_edges(new: DataFrame, nodes: DataFrame) -> DataFrame:
    """A.7 similarity edges: verified (src, dst, sim) for every
    same-etype node pair whose exact char-bigram Jaccard is >=
    JACCARD_TAU and that has at least one endpoint in `new`. `nodes`
    must contain `new`. Batch linking passes the full node table as
    both; the streaming path passes a batch's new nodes and the
    accumulated node log, so each pair is found in the batch where its
    later endpoint arrives and the union over batches IS the batch
    edge set.

    Candidates come from a prefix-filtered set-similarity join, which
    is exact (no true pair is missed), unlike MinHash blocking:
      * tokens are the bigram sets jaccard_col verifies, ordered per
        etype by (document frequency over `nodes`, token);
      * each node keeps its first n - floor(tau * n) + 1 tokens, n the
        size of its bigram set. Two sets with Jaccard >= tau share a
        token within their first n - ceil(tau * n) + 1, and floor
        never exceeds ceil, so float rounding can only add candidates;
      * candidates are an equi-join on (etype, token) of the new
        side's prefixes with the accumulated side's, ordered so
        norm_a < norm_b, then verified by _verify_pairs.
    Everything runs in the JVM (no Python UDF).

    Trade-offs: a cluster of k mutually similar aliases yields all of
    its true edges, up to k(k-1)/2, where MinHash bucketing used to
    star-link a hot bucket. Nodes are distinct (etype, norm) aliases,
    bounded by vocabulary, not by corpus size (at most 310 on the test
    fixtures). A call scans `nodes`
    once: its bigrams are shuffled once for the frequency count (a
    window) and both join sides reuse that exchange, so a stream batch
    that adds nodes pays one pass over the accumulated node log."""
    toks = nodes.select(
        "etype", "norm", "node_id",
        F.explode(bigram_arr_col("norm")).alias("tok"),
    ).withColumn(
        "df", F.count("*").over(Window.partitionBy("etype", "tok")))
    ranked = F.col("ranked")
    n = F.size(ranked)
    prefix = (
        toks.groupBy("etype", "norm", "node_id")
        .agg(F.sort_array(F.collect_list(F.struct("df", "tok")))
             .alias("ranked"))
        .select(
            "etype", "norm", "node_id",
            F.explode(F.slice(
                ranked, 1, n - F.floor(F.lit(JACCARD_TAU) * n) + 1
            )).alias("t"),
        )
        .select("etype", "norm", "node_id", F.col("t.tok").alias("tok"))
    )
    a = prefix.join(new.select("etype", "norm"), ["etype", "norm"],
                    "left_semi").alias("a")
    b = prefix.alias("b")
    # a.norm != b.norm, so ordering the (norm, node_id) structs orders
    # each pair by norm
    ma = F.struct(F.col("a.norm"), F.col("a.node_id"))
    mb = F.struct(F.col("b.norm"), F.col("b.node_id"))
    lo, hi = F.least(ma, mb), F.greatest(ma, mb)
    pairs = a.join(
        b,
        (F.col("a.etype") == F.col("b.etype"))
        & (F.col("a.tok") == F.col("b.tok"))
        & (F.col("a.norm") != F.col("b.norm")),
    ).select(
        lo["node_id"].alias("src"),
        hi["node_id"].alias("dst"),
        lo["norm"].alias("norm_a"),
        hi["norm"].alias("norm_b"),
    )
    return _verify_pairs(pairs)


def _verify_pairs(pairs: DataFrame) -> DataFrame:
    """Candidate (src, dst, norm_a, norm_b) pairs -> verified
    (src, dst, sim) edges via exact bigram Jaccard (A.7 verify step,
    pure JVM)."""
    return (
        pairs.dropDuplicates(["src", "dst", "norm_a", "norm_b"])
        .withColumn("sim", jaccard_col("norm_a", "norm_b"))
        .where(F.col("sim") >= F.lit(JACCARD_TAU))
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst", "sim")
        .dropDuplicates(["src", "dst"])
    )


def link_links(mentions: DataFrame, dict_df: DataFrame,
               lsh_edges: DataFrame) -> DataFrame:
    """Per-mention link rows: exact broadcast hit, similarity-supported
    (method "lsh", the contract's name) or provisional. Pass a
    materialized lsh_edges (read back from its checkpoint) so the
    similarity join is not recomputed."""
    exact = resolve(mentions, "etype", "surface", dict_df, "node_id")
    node_sim = (
        lsh_edges.select(F.col("src").alias("nid"), "sim")
        .unionByName(lsh_edges.select(F.col("dst").alias("nid"), "sim"))
        .groupBy("nid")
        .agg(F.max("sim").alias("best_sim"))
    )
    # node_sim is DATA-DERIVED (one row per similarity-edge endpoint) — it
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
            F.when(F.col("node_id_ent").isNotNull(), "exact")
            .when(F.col("best_sim").isNotNull(), "lsh")
            .otherwise("prov")
            .alias("method"),
            F.when(F.col("node_id_ent").isNotNull(), F.lit(1.0))
            .otherwise(F.coalesce(F.col("best_sim"), F.lit(0.0)))
            .alias("score"),
        )
    )


# --- canon ------------------------------------------------------------------


CC_STATE_TABLE = "cc_state"
# The loop commits its state to the warehouse (when given a state_io)
# every this many iterations: that commit is the durable cut a rerun
# resumes from; the per-iteration localCheckpoint only cuts lineage
# (executor-local, lost with the executor).
CC_COMMIT_EVERY = 5


def connected_components(nodes: DataFrame | None, lsh_edges: DataFrame,
                         state_io=None, state_fp: str | None = None,
                         max_iters: int = CC_MAX_ITERS) -> DataFrame:
    """Min-label propagation + pointer doubling over iterative
    DataFrame joins; localCheckpoint each iteration cuts the lineage
    (SURVEY §4). Returns (node_id, label) for every edge endpoint and
    every node of `nodes` (None: the endpoints only); a node no edge
    names keeps label = node_id.

    The loop runs over the edge endpoints only: labels start from the
    symmetric edge frame, and the nodes no edge names are unioned back
    once, by a lazy anti-join, after convergence. A graph with no
    edges converges in its first (empty) round.

    Each round does (a) neighbor-min — label(v) <- min over v's
    neighborhood — and (b) a pointer jump — label(v) <-
    label(label(v)) — so convergence is O(log diameter), not
    O(diameter): a 10^5-hop alias chain converges in ~17 rounds where
    plain propagation would need 10^5. Labels are always existing
    node ids (min over ids), so the jump lookup always hits.

    Durability: localCheckpoint only cuts lineage. It is
    executor-local storage, so on a real cluster an executor loss
    mid-loop makes the lineage unrecoverable. The durable cut is the
    warehouse commit: pass `state_io` (a TableIO) to commit the label
    table every CC_COMMIT_EVERY iterations, tagged with `state_fp`
    (the Runner always does). A rerun with the same (io, fp) RESUMES
    from the last committed iteration (tested by killing a run
    mid-loop in tests/test_cc_checkpoint.py)."""
    spark = lsh_edges.sparkSession
    sym = (
        lsh_edges.select("src", "dst")
        .unionByName(
            lsh_edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .localCheckpoint()
    )
    start_iter = 0
    if state_io is not None and state_io.is_complete(CC_STATE_TABLE,
                                                     state_fp):
        man = state_io.manifest(CC_STATE_TABLE)
        start_iter = int(man.get("cc_iter", -1)) + 1
        labels = state_io.read(spark, CC_STATE_TABLE)
    else:
        labels = (
            sym.select(F.col("src").alias("node_id"))
            .distinct()
            .withColumn("label", F.col("node_id"))
        )
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
        # the previous label is carried as a column, so the changed
        # count rides the checkpoint job instead of a separate
        # join+count action per round
        obs = Observation(f"cc_changed_{it}")
        labels = (
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
            .select("node_id", "label")
        )
        if not obs.get["changed"]:
            break
        if state_io is not None and (it + 1) % CC_COMMIT_EVERY == 0:
            state_io.write(labels, CC_STATE_TABLE,
                           inputs_fingerprint=state_fp,
                           extra={"cc_iter": it})
            labels = state_io.read(spark, CC_STATE_TABLE)
    else:
        raise RuntimeError(f"CC did not converge in {max_iters} iterations")
    if nodes is None:
        return labels
    isolated = (
        nodes.select("node_id")
        .distinct()
        .join(labels, "node_id", "left_anti")
        .withColumn("label", F.col("node_id"))
    )
    return labels.unionByName(isolated)


def touched_components(map_prev: DataFrame, new_nodes: DataFrame,
                       new_edges: DataFrame) -> DataFrame:
    """Condensed-graph incremental connected components: given the
    entity_map before a batch (node_id -> canonical_id), the batch's
    NEW nodes and its new edges (each touching at least one new node —
    what similar_edges returns for a batch's new nodes), return
    (node_id, label) for every node of every component the batch
    touches: the new nodes plus all members of each old component a
    new edge reaches. Untouched components are not returned.

    The CC runs on the CONDENSED graph: edges are the new edges with
    endpoints mapped through map_prev.canonical_id (new nodes map to
    themselves), minus self-loops, plus the new nodes (a new node no
    condensed edge names keeps its own id). A canonical id names its
    component uniquely, so the CC input is batch-sized, never
    corpus-sized. A label only groups a component for canonicalize;
    it need not be a min node id.
    Against an empty map_prev the condensed graph is the whole graph.
    Equivalence with a cold full-graph CC is property-tested over
    random graphs (tests/test_properties.py) and end-to-end by the
    batch==stream suite."""
    rep_src = map_prev.select(
        F.col("node_id").alias("src"), F.col("canonical_id").alias("cs"))
    rep_dst = map_prev.select(
        F.col("node_id").alias("dst"), F.col("canonical_id").alias("cd"))
    cedges = (
        new_edges.select("src", "dst")
        .join(rep_src, "src", "left")
        .join(rep_dst, "dst", "left")
        .select(
            F.coalesce("cs", F.col("src")).alias("src"),
            F.coalesce("cd", F.col("dst")).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )
    clabels = connected_components(new_nodes, cedges)
    old = map_prev.join(
        clabels.withColumnRenamed("node_id", "canonical_id"),
        "canonical_id",
    ).select("node_id", "label")
    new = new_nodes.select("node_id").distinct().join(clabels, "node_id")
    return old.unionByName(new)


SALT_K = 16  # fan-out CAP per hot key (raise with cluster width)
SALT_HOT_MIN = 1024  # a key is salt-eligible only past this degree


def salted_members(member: DataFrame) -> DataFrame:
    """Quantile-driven per-label salt fan-out (SURVEY §4): instead of a
    static SALT_K for every label, measure each label's degree once (a
    partial-aggregated count — one shuffled row per label), derive the
    skew threshold from the degree distribution itself (p95 quantile,
    floored at SALT_HOT_MIN so 'hot' means a genuinely large reducer
    group, not the top of a uniformly tiny distribution), and fan out
    ONLY the hot labels: fan = ceil(degree / threshold) capped at
    SALT_K, salt = hash(node_id) mod fan. Cold labels keep salt 0, so
    phase-2 merge touches one row per cold label and the salted plan
    degenerates to the unsalted one on unskewed data.

    Scale shape: the hot-label table is tiny by construction (degree >
    max(p95, SALT_HOT_MIN) labels) and is BROADCAST back onto the
    members — the member frame is never pre-shuffled by label just to
    learn its fan-out; the only wide exchange stays the phase-1
    (label, salt) aggregation. Output equality with any static salt
    (including none) holds because both downstream combines are
    algebraic (min-of-struct) or set-union (collect_set) — pinned by
    tests/test_salt_fanout.py and the oracle-parity suite."""
    deg = member.groupBy("label").agg(F.count("*").alias("_deg"))
    p95 = deg.select(
        F.percentile_approx("_deg", F.lit(0.95)).alias("_p95"))
    hot = (
        deg.crossJoin(F.broadcast(p95))
        .where((F.col("_deg") > F.col("_p95"))
               & (F.col("_deg") > SALT_HOT_MIN))
        .select(
            "label",
            F.least(
                F.lit(SALT_K),
                F.ceil(F.col("_deg")
                       / F.greatest(F.col("_p95"), F.lit(SALT_HOT_MIN))),
            ).cast("int").alias("_fan"),
        )
    )
    return (
        member.join(F.broadcast(hot), "label", "left")
        .withColumn(
            "salt",
            F.when(F.col("_fan").isNull(), F.lit(0)).otherwise(
                F.pmod(F.xxhash64("node_id"), F.col("_fan"))
            ),
        )
        .drop("_fan")
    )


def canonicalize(nodes: DataFrame, labels: DataFrame):
    """A.8: per-component canonical node + entity_map + cc vertices.

    One two-phase SALTED aggregation (north star: "salted aggregation
    for high-degree nodes") builds a row per component holding its
    canonical node, its aliases and its member node ids: collect_set
    is holistic — a hot component (an entity with a huge alias set)
    would funnel every row to one reducer. Phase 1 collects per
    (label, salt); phase 2 merges the <=SALT_K partial sets per label.
    min() over structs is algebraic, so the canonical-node pick
    composes across phases unchanged. Equality with the unsalted form
    is covered by the oracle-parity and distribution-invariance tests.
    The per-label fan-out is degree-quantile-driven (salted_members),
    not static.

    That per-component frame is localCheckpointed once and both
    outputs read it: cc_vertices projects it and entity_map explodes
    its member ids, so neither re-runs the two-phase plan and nothing
    joins back onto the members. It has one row per component, with
    id and alias sets bounded by distinct mentions, not corpus size,
    so it stays small even at 100 TB of turns."""
    member = salted_members(nodes.join(labels, "node_id"))
    partial = member.groupBy("label", "salt").agg(
        F.min(
            F.struct("is_prov", "etype", "norm", "node_id", "display")
        ).alias("c"),
        F.collect_set("norm").alias("al"),
        F.collect_set("node_id").alias("ids"),
    )
    canon = partial.groupBy("label").agg(
        F.min("c").alias("c"),
        F.sort_array(
            F.array_distinct(F.flatten(F.collect_list("al")))
        ).alias("aliases"),
        F.array_distinct(F.flatten(F.collect_list("ids"))).alias("ids"),
    ).localCheckpoint()
    entity_map = canon.select(
        F.explode("ids").alias("node_id"),
        F.col("c.node_id").alias("canonical_id"),
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
    keyed = resolve(
        resolve(triples_raw, "subj_etype", "subj_surface", dict_df,
                "subj_node"),
        "obj_etype", "obj_surface", dict_df, "obj_node")
    return keyed.withColumn(
        "obj_node",
        F.when(F.col("pred") == "uses_tool",
               tool_id_col(F.col("obj_surface")))
        .otherwise(F.col("obj_node")),
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
