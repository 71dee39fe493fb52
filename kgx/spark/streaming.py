"""Structured Streaming surface (SURVEY.md §2 B.9).

The north rule is batch (checkpoint-resumable spark-submit jobs), but
the engine also exposes the incremental-ingest path as a real
Structured Streaming job: new transcript parquet files landing in a
directory are tagged with the same offsets tagger UDF
(udfs.make_tagger_spans_udf + stages.tag_spans) the batch runner uses
and rolled into watermarked tumbling-window mention counts. The
incremental KG path (incremental_canon_updater) runs the batch
runner's fused tag+relation pass (stages.tag_extract) per micro-batch
and folds the same pattern/uses_tool triples into its logs. The stage
functions are shared — DataFrame code is identical for batch and
streaming in Spark; only source/sink differ.

At production scale this is the "10^12 turns keep arriving" story:
file (or Iceberg/Kafka) source -> per-microbatch tagging ->
windowed/stateful aggregation with late-data handling -> append sink,
with exactly-once bookkeeping from the streaming checkpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgx.spark import stages

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def stream_transcripts(spark: SparkSession, input_dir: str,
                       max_files_per_trigger: int = 8) -> DataFrame:
    """File-source stream of transcript turns (new parquet files are
    the arrival unit; Iceberg/Kafka sources are drop-ins)."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def parse_kafka_transcripts(records: DataFrame) -> DataFrame:
    """Kafka-record -> transcript-turn projection (the schema half of
    the Kafka source, shared by stream_transcripts_kafka and the
    tests): `value` is a UTF-8 JSON turn; rows whose JSON is missing
    an event time fall back to the broker ingest timestamp, so every
    turn is watermarkable. Works identically on a batch DataFrame of
    Kafka-shaped rows — which is how it is value-tested without a
    broker (tests/test_streaming.py)."""
    turn = F.from_json(F.col("value").cast("string"), TRANSCRIPT_SCHEMA)
    return records.select(
        turn.alias("t"), F.col("timestamp").alias("_kafka_ts")
    ).select(
        "t.conv_id", "t.turn_idx", "t.role", "t.text", "t.tool",
        F.coalesce("t.ts", "_kafka_ts").alias("ts"),
    )


def stream_transcripts_kafka(spark: SparkSession, bootstrap_servers: str,
                             topic: str,
                             starting_offsets: str = "earliest") -> DataFrame:
    """Kafka-source stream of transcript turns — the drop-in
    alternative to the file source for a deployment where turns arrive
    on a topic instead of as parquet files. Offsets live in the same
    streaming checkpoint, so exactly-once bookkeeping is unchanged.

    The spark-sql-kafka connector jar is not shipped in this sandbox,
    so `load()` raises and we re-raise with the deployment hint; the
    projection itself (parse_kafka_transcripts) is real and
    value-tested against batch Kafka-shaped rows."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    try:
        raw = reader.load()
    except Exception as exc:  # connector jar absent
        raise RuntimeError(
            "Kafka source needs the spark-sql-kafka-0-10 connector on "
            "the classpath (spark-submit --packages org.apache.spark:"
            f"spark-sql-kafka-0-10_2.13:<spark-version>): {exc}"
        ) from exc
    return parse_kafka_transcripts(raw)


def stream_mentions(turns: DataFrame, tag_spans_udf) -> DataFrame:
    """Streaming tag+decode -> exploded mention rows (stateless: the
    pandas UDF runs per micro-batch exactly as in batch)."""
    tagged = stages.tag_spans(stages.nonempty_text(turns), tag_spans_udf)
    return tagged.select(
        "conv_id", "turn_idx", "ts", F.explode("spans").alias("sp")
    ).select(
        "conv_id", "turn_idx", "ts",
        F.col("sp.begin").alias("begin"),
        F.col("sp.end").alias("end"),
        F.col("sp.surface").alias("surface"),
        F.col("sp.etype").alias("etype"),
    )


def windowed_mention_counts(turns: DataFrame, tag_spans_udf,
                            window: str = "10 minutes",
                            watermark: str = "30 minutes") -> DataFrame:
    """Watermarked tumbling-window mention counts per entity type.

    Late turns beyond the watermark are dropped (documented at-most
    lateness); state for closed windows is reclaimed — this is what
    bounds memory on an unbounded stream."""
    tagged = stages.tag_spans(stages.nonempty_text(turns), tag_spans_udf)
    mentions = tagged.select(
        "ts", F.explode("spans").alias("sp")
    ).select("ts", F.col("sp.etype").alias("etype"))
    return (
        mentions.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "etype")
        .agg(F.count("*").alias("n_mentions"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "etype",
            "n_mentions",
        )
    )


def run_available_now(query_df: DataFrame, checkpoint_dir: str,
                      out_table: str, output_mode: str = "append"):
    """Drain everything currently available (Trigger.AvailableNow) into
    an in-memory sink; returns the StreamingQuery after completion.
    The checkpoint dir carries source offsets -> restarting later only
    processes files that arrived in between (incremental ingest)."""
    q = (
        query_df.writeStream.format("memory")
        .queryName(out_table)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


CANON_TABLES = ("nodes", "node_bands", "lsh_edges", "cc_labels",
                "entity_map", "cc_vertices", "edges_raw", "tool_turns",
                "conv_speakers")

EDGES_AGG_SPEC = {
    "keys": ["subj_node", "pred", "obj_node"],
    "sum": ["weight"],
    "min": ["first_ts"],
    "max": ["last_ts"],
}

SPEAKERS_AGG_SPEC = {"keys": ["conv_id"], "min": ["sp"]}


def _canon_marker_path(io) -> str:
    import os

    return os.path.join(io.warehouse, "_canon_commit.json")


def canon_last_applied(io) -> int:
    """Highest fully-committed micro-batch id (-1 before any)."""
    import json
    import os

    p = _canon_marker_path(io)
    if not os.path.exists(p):
        return -1
    with open(p) as f:
        return int(json.load(f)["batch_id"])


def _canon_mark_applied(io, batch_id: int) -> None:
    import json
    import os

    tmp = _canon_marker_path(io) + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"batch_id": batch_id}, f)
    os.replace(tmp, _canon_marker_path(io))


def incremental_canon_updater(spark: SparkSession, warehouse: str,
                              dict_df: DataFrame, tag_spans_udf=None,
                              patterns_rows: list | None = None,
                              compact_every: int = 0,
                              max_segments: int = 16):
    """foreachBatch sink that streams the WHOLE KG forward: each
    micro-batch of raw turns is tagged in-batch, its mentions merged
    into the accumulated canonical node state (B.9 'incremental
    link/canon'), and its triples folded into an ADDITIVE node-keyed
    edge log (incremental edge materialization).

    Edge materialization is split on the mutability boundary: the
    stored state (edges_raw) is keyed by STABLE node ids with
    sum/min/max aggregates — a pure aggregation log whose per-batch
    delta is the batch's own partial aggregate — while canonical ids,
    which MOVE when components merge, are applied as a re-key VIEW
    (canonical_edges) over that state. Storing canonical-keyed edges
    would force a rewrite of every edge of every merged component per
    batch; the node-keyed log never rewrites anything.

    uses_tool triples are exact under ARBITRARY arrival order — even a
    conversation split mid-way across micro-batches: the raw facts
    (tool turns; per-batch first-PER-mention partials, whose
    min-of-struct merge composes to the conversation's global first
    mention) are logged per batch, and the speaker JOIN happens in the
    canonical_edges view — so a speaker that only arrives in a later
    batch retroactively keys every earlier tool turn of its
    conversation, exactly as the batch pipeline would.

    Per-batch COMPUTE and IO are both proportional to the batch, not
    to accumulated history:

    * new (etype, norm) nodes are diffed against the node log and only
      the delta segment is appended (TableIO.append);
    * LSH candidate edges are generated only for new x all and
      appended (an edge needs >=1 new endpoint, so no old pair can
      reappear — append needs no global dedup);
    * connected components run on the CONDENSED graph — nodes = old
      component labels + new node ids, edges = the new LSH edges with
      endpoints mapped through the previous labels. An old label is
      the min id of its component, so the condensed component minimum
      IS the full-graph component minimum; the CC input is
      batch-sized, never corpus-sized;
    * only labels that actually changed (merged components + new
      nodes) are appended to the keyed cc_labels log (latest-wins on
      read), and entity_map / cc_vertices are recomputed only for the
      affected components, with tombstones for canonical vertices that
      merged away.

    Restart safety (exactly-once on an at-least-once foreachBatch):
    every segment written for a batch carries a batch tag, and a
    commit marker records the last FULLY applied batch, written only
    after all five tables' deltas landed. A replayed batch id at or
    below the marker is a no-op; a half-applied batch (crash between
    table commits) is rolled back segment-exactly with prune_batch()
    before the replay recomputes it. Final (entity_map, cc_vertices)
    equal the batch pipeline's on the same data, and per-batch write
    volume is asserted O(batch) — tests/test_streaming_canon.py.

    `compact_every` > 0 compacts the logs every K batches (O(state)
    amortized over K). Independently, `max_segments` (DEFAULT ON at
    16; 0 disables) auto-compacts any log table whose segment count
    exceeds it after a batch commits, so an unconfigured long-running
    stream has BOUNDED read fan-in: each table accumulates at most
    ~max_segments delta segments before folding back to one, i.e.
    O(state) compaction IO amortized over max_segments batches —
    the same amortization as compact_every, but triggered by the
    fan-in it exists to bound (tests/test_streaming_canon.py pins
    the default bound over a many-batch run)."""
    from kgx.spark.io import TableIO

    if tag_spans_udf is None or patterns_rows is None:
        raise ValueError(
            "incremental_canon_updater requires tag_spans_udf and "
            "patterns_rows (pass patterns_rows=[] explicitly for a "
            "deployment with no relation patterns) — a silent default "
            "would stream a KG missing every pattern edge")
    io = TableIO(warehouse)

    def update(turns_batch: DataFrame, batch_id: int) -> None:
        applied = canon_last_applied(io)
        if batch_id <= applied:
            return  # replay of a fully-committed batch: no-op
        tag = f"b{batch_id}"
        for tbl in CANON_TABLES:
            io.prune_batch(tbl, tag)  # roll back a crashed half-apply

        def finish() -> None:
            _canon_mark_applied(io, batch_id)
            periodic = bool(compact_every
                            and (batch_id + 1) % compact_every == 0)
            for tbl in CANON_TABLES:
                m = io.manifest(tbl)
                # single-segment tables have nothing to merge —
                # rewriting them would burn O(state) IO per
                # boundary on sparse streams for zero fan-in gain
                if (m is None or m.get("kind") != "log"
                        or len(m["segments"]) <= 1):
                    continue
                over_fanin = bool(max_segments
                                  and len(m["segments"]) > max_segments)
                if periodic or over_fanin:
                    io.compact(spark, tbl)

        clean = stages.nonempty_text(turns_batch)
        if clean.isEmpty():
            finish()
            return
        tagged = stages.tag_extract(
            clean, tag_spans_udf, patterns_rows).localCheckpoint()
        mentions_batch = stages.mentions_of(tagged)

        def append_edge_delta() -> None:
            # pattern relations are per-turn facts: aggregate and fold
            # into the additive edge log now. uses_tool triples need
            # the conversation's GLOBAL first PER mention, so only the
            # raw facts are logged (tool turns + the batch's speaker
            # partial — min-of-struct merges across batches); the
            # speaker join happens in the canonical_edges view.
            delta = stages.edges_partial(stages.triples_node_keyed(
                stages.pattern_triples_of(tagged), dict_df))
            io.append(delta, "edges_raw", agg_spec=EDGES_AGG_SPEC,
                      batch_tag=tag)
            io.append(stages.tool_turns_of(tagged), "tool_turns",
                      batch_tag=tag)
            io.append(stages.conv_speakers_of(tagged), "conv_speakers",
                      agg_spec=SPEAKERS_AGG_SPEC, batch_tag=tag)

        nodes_b = stages.link_nodes(mentions_batch, dict_df)

        # cold start keys on STATE existence, not the commit marker: a
        # first batch that was entirely filtered (empty text) marks
        # itself applied without seeding any table, and the next batch
        # must still take this branch
        if io.manifest("nodes") is None:
            # cold start: first batch seeds the logs (a node row is
            # one (node_id, norm) alias — never dedup by node_id
            # alone, a dict entity keeps one row per alias)
            io.append(nodes_b.dropDuplicates(["node_id", "norm"]),
                      "nodes", batch_tag=tag)
            nodes0 = io.read(spark, "nodes")
            # band keys are computed ONCE per node (pure function of
            # the immutable norm) and stored, so later batches scan
            # them instead of re-running MinHash over accumulated state
            io.append(stages.banded_nodes(nodes0), "node_bands",
                      batch_tag=tag)
            io.append(stages.link_lsh_edges(nodes0), "lsh_edges",
                      batch_tag=tag)
            edges0 = io.read(spark, "lsh_edges")
            labels = stages.connected_components(nodes0, edges0)
            io.append(labels, "cc_labels", log_keys=["node_id"],
                      batch_tag=tag)
            labels = io.read(spark, "cc_labels")
            entity_map, cc_vertices = stages.canonicalize(nodes0, labels)
            io.append(entity_map, "entity_map", log_keys=["node_id"],
                      batch_tag=tag)
            io.append(cc_vertices, "cc_vertices",
                      log_keys=["entity_id"], batch_tag=tag)
            append_edge_delta()
            finish()
            return

        # pre-batch state: _read_log pins segment paths at read() time,
        # so these stay consistent across the appends below
        nodes_prev = io.read(spark, "nodes")
        labels_prev = io.read(spark, "cc_labels")
        new_only = (
            nodes_b.join(nodes_prev.select("node_id"), "node_id",
                         "left_anti")
            .dropDuplicates(["node_id", "norm"])
            .localCheckpoint()
        )
        if new_only.isEmpty():
            # no graph change, but the batch's triples still count
            append_edge_delta()
            finish()
            return
        io.append(new_only, "nodes", batch_tag=tag)
        nodes_all = io.read(spark, "nodes")
        if io.manifest("node_bands") is None:
            # one-time migration for a warehouse created before the
            # stored-bands log: seed from the pre-batch node state
            # (O(state) once; the segment carries this batch's tag so
            # a crash rollback simply redoes the seeding)
            io.append(stages.banded_nodes(nodes_prev), "node_bands",
                      batch_tag=tag)
        new_bands = stages.banded_nodes(new_only).localCheckpoint()
        io.append(new_bands, "node_bands", batch_tag=tag)
        lsh_new = stages.link_lsh_edges_incremental_banded(
            new_bands, io.read(spark, "node_bands")
        ).localCheckpoint()
        io.append(lsh_new.select("src", "dst", "sim"), "lsh_edges",
                  batch_tag=tag)

        # condensed-graph incremental CC (batch-sized input) -> label
        # delta for merged components + new nodes
        delta_labels = stages.incremental_labels(
            labels_prev, new_only, lsh_new
        ).localCheckpoint()

        # affected components, before and after this batch
        aff_new = delta_labels.select("label").distinct()
        # existing changed nodes = delta rows whose node_id was already
        # labeled (new nodes are absent from labels_prev)
        aff_prev = (
            labels_prev.join(delta_labels.select("node_id"), "node_id",
                             "left_semi")
            .select("label")
            .unionByName(
                labels_prev.select("label").join(aff_new, "label",
                                                 "left_semi")
            )
            .distinct()
        )
        prev_members = labels_prev.join(aff_prev, "label", "left_semi")
        _, prev_cv = stages.canonicalize(nodes_prev, prev_members)
        prev_canon = prev_cv.select("entity_id").localCheckpoint()

        io.append(delta_labels, "cc_labels", log_keys=["node_id"],
                  batch_tag=tag)
        labels_now = io.read(spark, "cc_labels")
        members_now = labels_now.join(aff_new, "label", "left_semi")
        em_delta, cv_delta = stages.canonicalize(nodes_all, members_now)
        cv_delta = cv_delta.localCheckpoint()
        tombstones = prev_canon.join(cv_delta.select("entity_id"),
                                     "entity_id", "left_anti")
        io.append(em_delta, "entity_map", log_keys=["node_id"],
                  batch_tag=tag)
        io.append(cv_delta, "cc_vertices", log_keys=["entity_id"],
                  batch_tag=tag, deletes=tombstones)
        append_edge_delta()
        finish()

    return update


def run_incremental_canon(spark: SparkSession, arrivals_dir: str | None,
                          checkpoint_dir: str, warehouse: str,
                          tag_spans_udf, dict_df: DataFrame,
                          patterns_rows: list | None = None,
                          max_files_per_trigger: int = 1,
                          compact_every: int = 0,
                          max_segments: int = 16,
                          turns: DataFrame | None = None):
    """Drain currently-available transcript arrivals through the
    incremental link/canon/edge path (Trigger.AvailableNow);
    restarting with the same checkpoint processes only arrivals since
    the last run, merging them into the same warehouse state.

    Pass `turns` to use any source stream (e.g.
    stream_transcripts_kafka); default is the file source over
    `arrivals_dir`. The updater is source-agnostic — offsets live in
    the streaming checkpoint either way."""
    if turns is None:
        turns = stream_transcripts(
            spark, arrivals_dir,
            max_files_per_trigger=max_files_per_trigger)
    q = (
        turns.writeStream
        .foreachBatch(incremental_canon_updater(
            spark, warehouse, dict_df, tag_spans_udf,
            patterns_rows=patterns_rows, compact_every=compact_every,
            max_segments=max_segments))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def canonical_edges(spark: SparkSession, warehouse: str,
                    dict_df: DataFrame) -> DataFrame:
    """Canonical KG edges as a VIEW over the streamed state: the
    additive node-keyed edges_raw log, plus uses_tool edges derived
    at read time from the tool-turn log joined to the merged
    conversation speakers (so late-arriving speakers re-key earlier
    tool turns), all re-keyed through the current entity_map. Equals
    the batch pipeline's edges table on the same data under any
    arrival split — tests/test_streaming_canon.py."""
    from kgx.spark.io import TableIO

    io = TableIO(warehouse)
    tool = stages.tool_triples_from(io.read(spark, "tool_turns"),
                                    io.read(spark, "conv_speakers"))
    partial = io.read(spark, "edges_raw").unionByName(
        stages.edges_partial(stages.triples_node_keyed(tool, dict_df))
    )
    return stages.edges_canonical(partial, io.read(spark, "entity_map"))


def conv_state_tracker(turns: DataFrame, timeout_ms: int = 0) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-conversation running summary (turns seen, chars, roles, last
    turn_idx/ts) maintained across micro-batches — the building block
    for streaming conv-level features (e.g. "tag only when a conv goes
    quiet"). State lives in the streaming state store (RocksDB/HDFS-
    backed on a cluster), so it survives restarts with the checkpoint.

    Emits one updated summary row per conv per micro-batch it appears
    in. With timeout_ms > 0, idle convs time out and emit a final row
    flagged closed=true.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    out_schema = (
        "conv_id string, n_turns bigint, n_chars bigint, "
        "n_tool_turns bigint, max_turn_idx int, closed boolean"
    )
    state_schema = (
        "n_turns bigint, n_chars bigint, n_tool_turns bigint, "
        "max_turn_idx int"
    )

    def track(key, pdfs, state: GroupState):
        (conv_id,) = key
        if state.hasTimedOut:
            n_turns, n_chars, n_tool, max_idx = state.get
            state.remove()
            yield pd.DataFrame(
                [[conv_id, n_turns, n_chars, n_tool, max_idx, True]],
                columns=["conv_id", "n_turns", "n_chars",
                         "n_tool_turns", "max_turn_idx", "closed"],
            )
            return
        n_turns, n_chars, n_tool, max_idx = (
            state.get if state.exists else (0, 0, 0, -1)
        )
        for pdf in pdfs:
            n_turns += len(pdf)
            n_chars += int(pdf["text"].fillna("").str.len().sum())
            n_tool += int((pdf["role"] == "tool").sum())
            max_idx = max(max_idx, int(pdf["turn_idx"].max()))
        state.update((n_turns, n_chars, n_tool, max_idx))
        if timeout_ms > 0:
            state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(
            [[conv_id, n_turns, n_chars, n_tool, max_idx, False]],
            columns=["conv_id", "n_turns", "n_chars", "n_tool_turns",
                     "max_turn_idx", "closed"],
        )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms > 0
        else GroupStateTimeout.NoTimeout
    )
    return turns.groupBy("conv_id").applyInPandasWithState(
        track, out_schema, state_schema, "update", timeout
    )


def dedup_turns_stream(turns: DataFrame,
                       watermark: str = "1 hour") -> DataFrame:
    """Stateful streaming dedupe (B.9): at-least-once sources can
    redeliver a turn; dropDuplicatesWithinWatermark keys on
    (conv_id, turn_idx) and reclaims state once the watermark passes —
    bounded memory on an unbounded stream, unlike dropDuplicates."""
    return turns.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["conv_id", "turn_idx"]
    )
