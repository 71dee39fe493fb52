"""Checkpoint-resumable pipeline runner (north_rule: "resumable from
checkpoint with per-partition lineage + metrics").

Each stage writes its output table(s) as parquet + a manifest through
kgx.spark.io.TableIO; the manifest lands only after a successful write
(commit marker) and records an inputs fingerprint. On re-run, a stage
whose manifest is complete AND whose inputs fingerprint is unchanged is
skipped — so a run killed after stage k resumes at k+1 and produces
byte-identical output (tested in tests/test_resume.py).

Lineage costs (nearly) nothing extra: row count and an
order-insensitive content signature are collected DURING the write job
via `df.observe` (sum of per-row murmur3 — commutative, so invariant
under partitioning/parallelism; this is what the local[8]-vs-local[32]
equality assertion in bench uses), and per-output-file counters
(rows, bytes) come from the parquet footers (driver-side metadata
read) into the `metrics` table. No second scan of the data per stage —
at 100 TB a re-scan per stage would double the pipeline's IO.

Each stage's outputs are built lazily (one builder per table), so the
eager work a stage needs — the tag stage's duplication-rate probe, the
canon stage's connected-components loop — runs only when that stage
has a table left to commit. Every event in `Runner.events` has a
unique (stage, table) key; the probe's is (tag, tag_probe) and the CC
loop's is (canon, cc_loop).

The same runner backs the in-process fixture pipeline
(kgx.spark.pipeline.run_fixture_pipeline), so the oracle-parity tests
check the code path the CLI ships.

CLI (also the spark-submit entry point; see scripts/submit.sh):

    python -m kgx.spark.run --input fixtures/bench --out /tmp/wh \
        --run-id r1 --stages all [--buckets 32] [--stop-after tag]

`--stop-after` simulates a mid-run failure for resume tests.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgx.spark import stages
from kgx.spark.io import TableIO, fingerprint_paths
from kgx.tagcore import TaggerArtifact

STAGES = ("ingest", "tag", "extract", "link", "canon", "materialize")

# Auto tag-distinct break-even (turns / distinct texts), measured:
# the content-addressed path pays a text shuffle + join back, and
# saves tagger-cost * (1 - 1/rate), so the break-even rate depends on
# PER-TEXT TAGGER COST. With the cheap lexicon artifacts, an
# alternated same-window A/B showed a net LOSS at rate 8.6 on the
# 218k-turn bench corpus (tag stage +1.0 s) and a net win at rate 20
# on the 4.37M-turn x20 corpus (10.2 -> 8.4 s) — the lexicon
# threshold sits between. A learned-emission artifact (the reference
# contract's BiLSTM/BERT branch) is orders of magnitude costlier per
# text, where the ~1.2 break-even of the original estimate applies.
TAG_DISTINCT_AUTO_MIN_RATE_LEXICON = 15.0
TAG_DISTINCT_AUTO_MIN_RATE_LEARNED = 1.2
_LEXICON_KINDS = {"lexicon_crf", "lexicon_ctx_crf"}

METRICS_SCHEMA = (
    "run_id string, stage string, table string, partition_id int, "
    "rows bigint, bytes bigint, content_hash string"
)


def content_sig_col(df: DataFrame):
    """Order/partitioning-invariant content signature aggregate:
    sum of per-row murmur3 hashes, computed JVM-side inside whatever
    job consumes it (no extra scan). F.hash handles nested
    array/struct columns natively — no stringification (casting a
    spans array<struct> to string per row measured ~30% of the tag
    stage). Engine-specific values, but only ever compared
    Spark-to-Spark (resume identity, N-vs-4N equality)."""
    return F.sum(
        F.hash(*[F.col(c) for c in df.columns]).cast("bigint")
    ).alias("sig")


def load_dims(spark: SparkSession, dims_dir: str,
              artifact: str = "tagger_v1.npz") -> dict:
    """Load the dimension inputs every pipeline flavor needs — the
    latest alias dictionary, the relation patterns as plain dicts, and
    the tagger artifact — from one directory layout. Single source of
    truth for the batch CLI, the streaming CLI, the harness and tests
    (a schema or slot change lands in exactly one place)."""
    return {
        "dict_df": stages.dict_latest(
            spark.read.parquet(os.path.join(dims_dir,
                                            "alias_dict.parquet"))),
        "patterns_rows": [
            r.asDict()
            for r in spark.read.parquet(
                os.path.join(dims_dir, "patterns.parquet")).collect()
        ],
        "artifact": TaggerArtifact.load(
            os.path.join(dims_dir, artifact)),
    }


class Runner:
    """The tag stage writes the FUSED checkpoint (spans + precomputed
    candidate relations, no text — SURVEY §4 "tag+extract in one
    partition-local pass"): relation matching runs JVM-side in the same
    job as the tagger UDF, and dropping `text` roughly halves the
    pipeline's biggest write. (Alternatives measured and rejected:
    caching the spans DataFrame costs ~2.5x the parquet write;
    recomputing the tagger per downstream output doubles UDF work.)"""

    def __init__(self, spark: SparkSession, input_dir: str, out: str,
                 run_id: str, buckets: int = 32,
                 artifact: str = "tagger_v1.npz",
                 cc_checkpoint_every: int = 5,
                 tag_distinct: bool | None = None):
        self.spark = spark
        self.input_dir = input_dir
        self.io = TableIO(out)
        self.run_id = run_id
        self.buckets = buckets
        self.artifact_path = os.path.join(input_dir, artifact)
        # reliable (warehouse-backed) CC state commits every k
        # iterations; 0 disables (sandbox-fast, executor-local only)
        self.cc_checkpoint_every = cc_checkpoint_every
        # content-addressed tagging: tag distinct texts, join back
        # (value-identical output/content hashes; wins when the corpus
        # repeats turns). True/False force the mode; None (default)
        # decides per run from a measured duplication-rate probe in
        # stage_tag.
        self.tag_distinct = tag_distinct
        self._tagger = None
        self._artifact_obj = None
        self.events: list[dict] = []
        self._metrics_rows: list[dict] = []

    # -- plumbing ------------------------------------------------------

    def tagger(self):
        if self._tagger is None:
            from kgx.spark.udfs import make_tagger_spans_udf

            self._tagger = make_tagger_spans_udf(
                self.spark, self.artifact_obj()
            )
        return self._tagger

    def artifact_obj(self) -> TaggerArtifact:
        """One parse of the artifact npz per run — shared by the
        tagger UDF and the auto-tag-distinct probe's kind check."""
        if self._artifact_obj is None:
            self._artifact_obj = TaggerArtifact.load(self.artifact_path)
        return self._artifact_obj

    def in_path(self, name: str) -> str:
        return os.path.join(self.input_dir, f"{name}.parquet")

    def _commit(self, stage: str, table: str, df: DataFrame,
                fingerprint: str, partition_by=None) -> None:
        from pyspark.sql import Observation

        t0 = time.time()
        obs = Observation(f"{self.run_id}:{table}")
        observed = df.observe(obs, F.count(F.lit(1)).alias("rows"),
                              content_sig_col(df))
        # the manifest (commit marker) is written exactly ONCE, after
        # the Observation values are in hand — defer_manifest keeps a
        # crash from leaving a complete-but-hashless manifest behind
        man = self.io.write(
            observed, table, partition_by=partition_by,
            inputs_fingerprint=fingerprint, rows=None,
            extra={"run_id": self.run_id, "stage": stage},
            defer_manifest=True,
        )
        got = obs.get
        content = format(int(got["sig"] or 0) % (1 << 63), "016x")
        man["rows"] = int(got["rows"])
        man["snapshots"][-1]["rows"] = man["rows"]
        man["content_hash"] = content
        self.io.finalize(table, man)

        # per-output-file lineage counters from parquet footers;
        # buffered and flushed as one write at end of run (each tiny
        # append is otherwise its own Spark job)
        stats = self.io.file_stats(table, man["version"])
        wall_ms = int((time.time() - t0) * 1000)
        self._metrics_rows.extend(
            {"run_id": self.run_id, "stage": stage, "table": table,
             "partition_id": i, "rows": r, "bytes": b,
             "content_hash": "", "wall_ms": wall_ms}
            for i, (_, r, b) in enumerate(stats)
        )
        self.events.append(
            {"stage": stage, "table": table, "rows": man["rows"],
             "partitions": len(stats),
             "content_hash": content,
             "wall_s": round(time.time() - t0, 3), "skipped": False}
        )

    def flush_metrics(self) -> None:
        if not self._metrics_rows:
            return
        import pandas as pd

        # Arrow path (pandas -> createDataFrame) instead of a list of
        # dicts: the row-list path plans a 32-slice Python RDD whose
        # pickling re-runs on every action — measured ~5 s per flush
        # for a few hundred rows vs ~1 s via Arrow.
        mdf = self.spark.createDataFrame(
            pd.DataFrame(self._metrics_rows),
            METRICS_SCHEMA + ", wall_ms bigint")
        mdf.coalesce(1).write.mode("append").parquet(
            self.io.path("metrics"))
        self._metrics_rows = []

    def _fingerprint(self, input_paths: list[str]) -> str:
        return fingerprint_paths(*input_paths) + f"|b{self.buckets}"

    def _stage(self, stage: str, builders: dict,
               input_paths: list[str], partition_by=None) -> None:
        """Commit each of a stage's tables from its builder, in order.
        A builder runs only when some table of the stage is pending, so
        a resumed run pays none of a finished stage's eager work; a
        builder may read back the tables committed before it (so
        shared sub-plans — the LSH self-join, the big edges join — run
        once, not once per dependent output)."""
        fp = self._fingerprint(input_paths)
        if all(self.io.is_complete(t, fp) for t in builders):
            for t in builders:
                self.events.append(
                    {"stage": stage, "table": t, "skipped": True,
                     "rows": self.io.manifest(t)["rows"]}
                )
            return
        for t, build in builders.items():
            self._commit(stage, t, build(), fp, partition_by=partition_by)

    def read(self, table: str) -> DataFrame:
        return self.io.read(self.spark, table)

    # -- stages --------------------------------------------------------

    def run(self, upto: str | None = None, only=None) -> list[dict]:
        wanted = list(STAGES if not only else only)
        unknown = [s for s in wanted if s not in STAGES]
        if unknown:
            raise SystemExit(
                f"unknown stage(s) {unknown}; valid: {', '.join(STAGES)}")
        try:
            for stage in wanted:
                getattr(self, f"stage_{stage}")()
                if upto is not None and stage == upto:
                    break
        finally:
            self.flush_metrics()
        return self.events

    def stage_ingest(self):
        self._stage(
            "ingest",
            {"turns": lambda: stages.ingest_bucketed(
                self.spark, self.in_path("transcripts"),
                buckets=self.buckets)},
            [self.in_path("transcripts")], partition_by=["bucket"])

    def patterns_rows(self) -> list[dict]:
        return [
            r.asDict()
            for r in self.spark.read.parquet(
                self.in_path("patterns")).collect()
        ]

    def stage_tag(self):
        self._stage("tag", {"tagged": self._tagged},
                    [self.io.path("turns"), self.artifact_path,
                     self.in_path("patterns")],
                    partition_by=["bucket"])

    def _tagged(self) -> DataFrame:
        turns = self.read("turns")
        distinct = self.tag_distinct
        if distinct is None:
            distinct = self._probe_dup_rate(turns)
        if distinct:
            return stages.tag_extract_distinct(
                turns, self.tagger(), self.patterns_rows(),
                buckets=self.buckets)
        return stages.tag_extract(turns, self.tagger(),
                                  self.patterns_rows())

    def _probe_dup_rate(self, turns: DataFrame) -> bool:
        """Auto mode: one cheap column-pruned aggregate over the
        already-checkpointed turns table (count + HLL distinct of
        `text`) measures the duplication rate; past the measured
        break-even for the loaded artifact's per-text cost class
        (constants above) the content-addressed path wins. The probe's
        outcome only picks between two VALUE-IDENTICAL plans (same
        content hashes — tests/test_resume.py cross-mode flip), so HLL
        approximation error cannot affect output, and the stage
        fingerprint is mode-independent, so resume is unaffected by
        what a previous run chose."""
        t0 = time.time()
        row = turns.agg(
            F.count("text").alias("n"),
            F.approx_count_distinct("text").alias("d"),
        ).collect()[0]
        rate = row["n"] / max(row["d"], 1)
        kind = self.artifact_obj().kind
        threshold = (TAG_DISTINCT_AUTO_MIN_RATE_LEXICON
                     if kind in _LEXICON_KINDS
                     else TAG_DISTINCT_AUTO_MIN_RATE_LEARNED)
        distinct = rate >= threshold
        # event carries the standard stage/table/rows/wall_s shape —
        # downstream consumers (scaling_bench stage_walls, the resume
        # tests) index those keys on every event
        self.events.append(
            {"stage": "tag", "table": "tag_probe",
             "probe": "dup_rate", "dup_rate": round(rate, 3),
             "auto_tag_distinct": distinct,
             "rows": int(row["n"]),
             "wall_s": round(time.time() - t0, 3),
             "skipped": False}
        )
        return distinct

    def stage_extract(self):
        self._stage(
            "extract",
            {"triples_raw": lambda: stages.triples_from_tagged(
                self.read("tagged")),
             "mentions": lambda: stages.mentions_of(self.read("tagged"))},
            [self.io.path("tagged")])

    def stage_link(self):
        mentions = self.read("mentions")
        dict_df = stages.dict_latest(
            self.spark.read.parquet(self.in_path("alias_dict")))
        self._stage(
            "link",
            {
                "nodes": lambda: stages.link_nodes(mentions, dict_df),
                "lsh_edges": lambda: stages.link_lsh_edges(
                    self.read("nodes")),
                "links": lambda: stages.link_links(
                    mentions, dict_df, self.read("lsh_edges")),
            },
            [self.io.path("mentions"), self.in_path("alias_dict")])

    def stage_canon(self):
        inputs = [self.io.path("nodes"), self.io.path("lsh_edges")]

        @functools.cache
        def canon():
            # the CC loop runs its per-iteration actions EAGERLY here
            # (localCheckpoint per round), before _commit starts its
            # clock — record it as its own event so per-stage walls
            # account for the full run (scaling_bench sums these)
            t_cc = time.time()
            labels = stages.connected_components(
                self.read("nodes"), self.read("lsh_edges"),
                state_io=self.io if self.cc_checkpoint_every else None,
                state_fp=self._fingerprint(inputs),
                checkpoint_every=self.cc_checkpoint_every)
            self.events.append(
                {"stage": "canon", "table": "cc_loop", "rows": None,
                 "partitions": None, "content_hash": None,
                 "wall_s": round(time.time() - t_cc, 3),
                 "skipped": False}
            )
            return stages.canonicalize(self.read("nodes"), labels)

        self._stage("canon",
                    {"entity_map": lambda: canon()[0],
                     "cc_vertices": lambda: canon()[1]},
                    inputs)

    def stage_materialize(self):
        dict_df = stages.dict_latest(
            self.spark.read.parquet(self.in_path("alias_dict")))
        self._stage(
            "materialize",
            {
                "edges": lambda: stages.materialize_edges(
                    self.read("triples_raw"), dict_df,
                    self.read("entity_map")),
                "vertices": lambda: stages.materialize_vertices(
                    self.read("edges"), self.read("cc_vertices"),
                    self.read("triples_raw")),
            },
            [self.io.path("triples_raw"),
             self.io.path("entity_map"),
             self.io.path("cc_vertices"),
             self.in_path("alias_dict")])


def main(argv=None) -> dict:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--run-id", default="r0")
    ap.add_argument("--stages", default="all")
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--artifact", default="tagger_v1.npz",
                    help="tagger checkpoint file inside --input (the "
                    "pluggable model slot: tagger_v1.npz lexicon+CRF, "
                    "tagger_v2.npz context-cue-weighted)")
    ap.add_argument("--cc-checkpoint-every", type=int, default=5,
                    help="commit CC iteration state to the warehouse "
                    "every N iterations (cluster-safe resume; 0 = "
                    "executor-local lineage cuts only)")
    ap.add_argument("--stop-after", default=None,
                    help="simulate failure after this stage (resume test)")
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--tag-distinct", action="store_true",
                    default=None, dest="tag_distinct",
                    help="force content-addressed tagging: run the "
                    "tagger once per DISTINCT text and join spans/rel "
                    "back (value-identical output — same content "
                    "hashes, rows reordered). Default: AUTO — a "
                    "duplication-rate probe at the tag stage picks "
                    "the faster path per run")
    ap.add_argument("--no-tag-distinct", action="store_false",
                    dest="tag_distinct",
                    help="force plain per-row tagging (disable the "
                    "auto duplication probe)")
    ap.add_argument("--max-partition-mb", type=int, default=16,
                    help="spark.sql.files.maxPartitionBytes in MB; 16MB "
                    "keeps scan tasks fine-grained for the UDF-heavy tag "
                    "stage at bench scale (raise on a real cluster)")
    args = ap.parse_args(argv)

    from kgx.spark.session import get_spark

    spark = get_spark("kgx-run", cores=args.cores)
    spark.conf.set("spark.sql.files.maxPartitionBytes",
                   str(args.max_partition_mb * 1024 * 1024))
    only = None if args.stages == "all" else args.stages.split(",")
    t0 = time.time()
    runner = Runner(spark, args.input, args.out, args.run_id,
                    buckets=args.buckets, artifact=args.artifact,
                    cc_checkpoint_every=args.cc_checkpoint_every,
                    tag_distinct=args.tag_distinct)
    events = runner.run(upto=args.stop_after, only=only)
    report = {
        "run_id": args.run_id,
        "wall_s": round(time.time() - t0, 3),
        "stages": events,
    }
    print(json.dumps(report))
    return report


if __name__ == "__main__":
    main()
