"""Structured Streaming surface (SURVEY.md §2 B.9).

The north rule is batch (checkpoint-resumable spark-submit jobs), but
the engine also exposes the incremental-ingest path as a real
Structured Streaming job: new transcript parquet files landing in a
directory are tagged with the same offsets tagger UDF
(udfs.make_tagger_spans_udf + stages.tag_spans) the batch runner uses
and rolled into watermarked tumbling-window mention counts. The
incremental KG path (incremental_canon_updater) runs the batch
runner's fused tag+relation pass (stages.tag_extract) per micro-batch
and folds the same pattern/uses_tool triples into its logs. It runs
one path for every micro-batch, the first included: its component
state is the entity_map log, and a cold warehouse starts from an empty
one. The stage functions are shared — DataFrame code is identical for
batch and streaming in Spark; only source/sink differ.

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
    return (
        stream_mentions(turns, tag_spans_udf)
        .withWatermark("ts", watermark)
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


CANON_TABLES = ("nodes", "lsh_edges", "entity_map", "cc_vertices",
                "edges_raw", "tool_turns", "conv_speakers")

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
                              dict_df: DataFrame, tag_spans_udf,
                              patterns_rows: list,
                              compact_every: int = 16):
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

    Every micro-batch, the first included, runs one path. The
    component state is the entity_map log: it maps every node to its
    component's canonical id, which names the component uniquely. A
    warehouse with no node log starts from an empty node log and an
    empty entity_map, against which the batch's nodes are all new and
    its condensed graph is the whole graph. Per-batch COMPUTE and IO
    are both proportional to the batch, not to accumulated history:

    * new (etype, norm) nodes are diffed against the node log and only
      the delta segment is appended (TableIO.append);
    * similarity edges are generated only for pairs with a new
      endpoint (stages.similar_edges(new, all)) and appended: no old
      pair can reappear, so append needs no global dedup, and each
      pair lands in the batch where its later endpoint arrives, so the
      log equals the batch pipeline's lsh_edges by construction. The
      one per-batch pass over accumulated state is this call's scan
      of the node log (plus one bigram-frequency aggregate over it);
      a batch that adds no node skips it;
    * connected components run on the CONDENSED graph
      (stages.touched_components) — nodes = the canonical ids the new
      edges reach + new node ids, edges = the new similarity edges
      with endpoints mapped through the previous entity_map; the CC
      input is batch-sized, never corpus-sized;
    * entity_map / cc_vertices are recomputed only for the touched
      components, with tombstones for canonical vertices that merged
      away: the touched nodes' canonical ids before the batch are read
      from the entity_map log, never recomputed;
    * every log read takes its schema from the table's manifest, so
      reading state runs no schema-inference job.

    Restart safety (exactly-once on an at-least-once foreachBatch):
    every segment written for a batch carries a batch tag, and a
    commit marker records the last FULLY applied batch, written only
    after all seven tables' deltas landed. A replayed batch id at or
    below the marker is a no-op; a half-applied batch (crash between
    table commits) is rolled back segment-exactly with prune_batch()
    before the replay recomputes it. Final (entity_map, cc_vertices)
    equal the batch pipeline's on the same data, and per-batch write
    volume is asserted O(batch) — tests/test_streaming_canon.py.

    Compaction bounds read fan-in: after a batch commits, every log
    table holding at least `compact_every` segments (and more than
    one) is folded back to one segment, so O(state) compaction IO is
    amortized over about `compact_every` appends to that table. A
    table the batch did not append to is not rewritten, and a
    compaction that failed after the marker is retried at the next
    batch. The default (16) keeps an unconfigured long-running stream
    bounded; 0 never compacts."""
    from kgx.spark.io import TableIO

    io = TableIO(warehouse)

    def update(turns_batch: DataFrame, batch_id: int) -> None:
        applied = canon_last_applied(io)
        if batch_id <= applied:
            return  # replay of a fully-committed batch: no-op
        tag = f"b{batch_id}"
        for tbl in CANON_TABLES:
            io.prune_batch(tbl, tag)  # roll back a crashed half-apply
        clean = stages.nonempty_text(turns_batch)
        if not clean.isEmpty():
            apply(clean, tag)
        _canon_mark_applied(io, batch_id)
        for tbl in CANON_TABLES:
            segments = (io.manifest(tbl) or {}).get("segments", ())
            if compact_every and len(segments) >= max(compact_every, 2):
                io.compact(spark, tbl)

    def apply(clean: DataFrame, tag: str) -> None:
        tagged = stages.tag_extract(
            clean, tag_spans_udf, patterns_rows).localCheckpoint()
        nodes_b = stages.link_nodes(stages.mentions_of(tagged), dict_df)
        # pre-batch state: _read_log pins segment paths at read() time,
        # so these stay consistent across the appends below. It keys on
        # the node log, not the commit marker: a batch of blank turns
        # marks itself applied without seeding any table.
        if io.manifest("nodes") is None:
            nodes_prev = nodes_b.limit(0)
            map_prev = nodes_prev.select(
                "node_id", F.col("node_id").alias("canonical_id"))
        else:
            nodes_prev = io.read(spark, "nodes")
            map_prev = io.read(spark, "entity_map")
        # a node row is one (node_id, norm) alias — never dedup by
        # node_id alone, a dict entity keeps one row per alias
        new_only = (
            nodes_b.join(nodes_prev.select("node_id"), "node_id",
                         "left_anti")
            .dropDuplicates(["node_id", "norm"])
            .localCheckpoint()
        )
        if not new_only.isEmpty():
            io.append(new_only, "nodes", batch_tag=tag)
            nodes_all = io.read(spark, "nodes")
            lsh_new = stages.similar_edges(
                new_only, nodes_all).localCheckpoint()
            io.append(lsh_new.select("src", "dst", "sim"), "lsh_edges",
                      batch_tag=tag)
            members = stages.touched_components(
                map_prev, new_only, lsh_new).localCheckpoint()
            em_delta, cv_delta = stages.canonicalize(nodes_all, members)
            # the touched nodes' canonical ids before the batch that
            # are no longer canonical are the tombstones
            tombstones = (
                map_prev.join(members, "node_id", "left_semi")
                .select(F.col("canonical_id").alias("entity_id"))
                .distinct()
                .join(cv_delta.select("entity_id"), "entity_id",
                      "left_anti")
            )
            io.append(em_delta, "entity_map", log_keys=["node_id"],
                      batch_tag=tag)
            io.append(cv_delta, "cc_vertices", log_keys=["entity_id"],
                      batch_tag=tag, deletes=tombstones)
        # pattern relations are per-turn facts: aggregate and fold into
        # the additive edge log now. uses_tool triples need the
        # conversation's GLOBAL first PER mention, so only the raw
        # facts are logged (tool turns + the batch's speaker partial —
        # min-of-struct merges across batches); the speaker join
        # happens in the canonical_edges view.
        delta = stages.edges_partial(stages.triples_node_keyed(
            stages.pattern_triples_of(tagged), dict_df))
        io.append(delta, "edges_raw", agg_spec=EDGES_AGG_SPEC,
                  batch_tag=tag)
        io.append(stages.tool_turns_of(tagged), "tool_turns",
                  batch_tag=tag)
        io.append(stages.conv_speakers_of(tagged), "conv_speakers",
                  agg_spec=SPEAKERS_AGG_SPEC, batch_tag=tag)

    return update


def run_incremental_canon(spark: SparkSession, arrivals_dir: str | None,
                          checkpoint_dir: str, warehouse: str,
                          tag_spans_udf, dict_df: DataFrame,
                          patterns_rows: list,
                          max_files_per_trigger: int = 1,
                          compact_every: int = 16,
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
            patterns_rows=patterns_rows, compact_every=compact_every))
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
