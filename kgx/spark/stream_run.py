"""Streaming KG CLI — the incremental counterpart of kgx.spark.run.

Drains transcript parquet files arriving in --arrivals through the
incremental link/canon/edge path (Trigger.AvailableNow) into a
TableIO warehouse of delta logs, then reports the resolved state.
Re-running with the same --checkpoint only processes files that
arrived since the last run; crashes roll back half-applied batches
and replay exactly-once (batch-tagged segments + commit marker).
Every batch, the first included, runs the same incremental path; after
a batch, each delta log holding at least --compact-every segments is
folded back to one (0 never compacts).

    python -m kgx.spark.stream_run --arrivals /data/in \
        --out /data/wh --checkpoint /data/ck --dims fixtures/t1 \
        [--compact-every 16] [--max-files-per-trigger 4]

`--kafka BOOTSTRAP_SERVERS/TOPIC` swaps the file source for a Kafka
topic (same checkpoint/exactly-once semantics; needs the
spark-sql-kafka connector on the classpath).

--dims points at a directory holding alias_dict.parquet,
patterns.parquet and the tagger artifact (the same layout the batch
CLI's --input uses).
"""

from __future__ import annotations

import argparse
import json
import time


def main(argv=None) -> dict:
    ap = argparse.ArgumentParser(description=__doc__)
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--arrivals",
                     help="directory watched for transcript parquet files")
    src.add_argument("--kafka",
                     help="Kafka source instead of files: "
                     "BOOTSTRAP_SERVERS/TOPIC (needs the "
                     "spark-sql-kafka connector on the classpath)")
    ap.add_argument("--out", required=True, help="warehouse directory")
    ap.add_argument("--checkpoint", required=True,
                    help="streaming checkpoint (source offsets)")
    ap.add_argument("--dims", required=True,
                    help="directory with alias_dict.parquet, "
                    "patterns.parquet and the tagger artifact")
    ap.add_argument("--artifact", default="tagger_v1.npz")
    ap.add_argument("--compact-every", type=int, default=16,
                    help="after a batch, compact every delta log that "
                    "holds at least this many segments — the read "
                    "fan-in bound (0 = never)")
    ap.add_argument("--max-files-per-trigger", type=int, default=4)
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args(argv)

    from kgx.spark import streaming
    from kgx.spark.io import TableIO
    from kgx.spark.run import load_dims
    from kgx.spark.session import get_spark
    from kgx.spark.udfs import make_tagger_spans_udf

    spark = get_spark("kgx-stream", cores=args.cores)
    dims = load_dims(spark, args.dims, artifact=args.artifact)
    udf = make_tagger_spans_udf(spark, dims["artifact"])
    dict_df = dims["dict_df"]

    turns = None
    if args.kafka:
        bootstrap, _, topic = args.kafka.rpartition("/")
        if not bootstrap or not topic:
            raise SystemExit("--kafka expects BOOTSTRAP_SERVERS/TOPIC")
        turns = streaming.stream_transcripts_kafka(spark, bootstrap, topic)

    t0 = time.time()
    streaming.run_incremental_canon(
        spark, args.arrivals, args.checkpoint, args.out, udf, dict_df,
        patterns_rows=dims["patterns_rows"],
        max_files_per_trigger=args.max_files_per_trigger,
        compact_every=args.compact_every,
        turns=turns,
    )
    io = TableIO(args.out)
    state = {}
    for tbl in streaming.CANON_TABLES:
        m = io.manifest(tbl)
        if m is not None:
            state[tbl] = {"rows": m["rows"],
                          "segments": len(m["segments"])}
    # the edge view reads four tables; a crash-torn warehouse (no
    # committed batch yet) may hold only a prefix of them — report the
    # view as unavailable instead of raising
    view_deps = ("edges_raw", "tool_turns", "conv_speakers",
                 "entity_map")
    n_edges = (
        streaming.canonical_edges(spark, args.out, dict_df).count()
        if all(d in state for d in view_deps) else None
    )
    report = {
        "wall_s": round(time.time() - t0, 3),
        "last_applied_batch": streaming.canon_last_applied(io),
        "tables": state,
        "canonical_edges": n_edges,
    }
    print(json.dumps(report))
    return report


if __name__ == "__main__":
    main()
