"""Checkpoint-resumable pipeline runner (north_rule: "resumable from
checkpoint with per-partition lineage + metrics").

Each stage writes its output table(s) as parquet + a manifest through
kgx.spark.io.TableIO; the manifest lands only after a successful write
(commit marker) and records an inputs fingerprint. On re-run, a stage
whose manifest is complete AND whose inputs fingerprint is unchanged is
skipped — so a run killed after stage k resumes at k+1 and produces
byte-identical output (tested in tests/test_resume.py).

Lineage costs (nearly) nothing extra and lives in the manifest that
commits each table: TableIO.write observes an order-insensitive
content signature DURING the write job (invariant under
partitioning/parallelism; this is what the local[8]-vs-local[32]
equality assertion in bench uses) and takes the row count and one
(path, rows, bytes) entry per output file from the parquet footers.
A killed run keeps the lineage of every table it committed. Each
commit adds one event built from that manifest.

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
        --run-id r1 [--buckets 32] [--stop-after tag]

`--stop-after` simulates a mid-run failure for resume tests. The tag
stage picks its path (per row or once per distinct text) from a
measured duplication-rate probe.
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
# on the 4.37M-turn x20 corpus (10.2 -> 8.4 s) — the threshold sits
# between. The lexicon emitters are the only kinds tagcore can run;
# a new emission model (e.g. a learned BiLSTM/BERT branch, orders of
# magnitude costlier per text) must re-measure this break-even.
TAG_DISTINCT_AUTO_MIN_RATE_LEXICON = 15.0


def read_alias_dict(spark: SparkSession, dims_dir: str) -> DataFrame:
    """The latest alias dictionary (lazy: no job until used)."""
    return stages.dict_latest(
        spark.read.parquet(os.path.join(dims_dir, "alias_dict.parquet")))


def read_patterns(spark: SparkSession, dims_dir: str) -> list[dict]:
    """The relation patterns as plain dicts (one collect)."""
    return [
        r.asDict()
        for r in spark.read.parquet(
            os.path.join(dims_dir, "patterns.parquet")).collect()
    ]


def load_dims(spark: SparkSession, dims_dir: str,
              artifact: str = "tagger_v1.npz") -> dict:
    """Load the dimension inputs every pipeline flavor needs — the
    latest alias dictionary, the relation patterns as plain dicts, and
    the tagger artifact — from one directory layout. Single source of
    truth for the batch CLI, the streaming CLI, the harness and tests
    (a schema or slot change lands in exactly one place; the Runner
    reads each dim lazily through the same helpers)."""
    return {
        "dict_df": read_alias_dict(spark, dims_dir),
        "patterns_rows": read_patterns(spark, dims_dir),
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
                 artifact: str = "tagger_v1.npz"):
        self.spark = spark
        self.input_dir = input_dir
        self.io = TableIO(out)
        self.run_id = run_id
        self.buckets = buckets
        self.artifact_path = os.path.join(input_dir, artifact)
        self.events: list[dict] = []

    # -- plumbing ------------------------------------------------------

    # the tagger UDF and the dims are built at most once per run, and
    # only by a builder that runs — a rerun of a complete warehouse
    # builds none of them
    @functools.cached_property
    def tagger(self):
        from kgx.spark.udfs import make_tagger_spans_udf

        return make_tagger_spans_udf(
            self.spark, TaggerArtifact.load(self.artifact_path))

    @functools.cached_property
    def alias_dict(self) -> DataFrame:
        return read_alias_dict(self.spark, self.input_dir)

    @functools.cached_property
    def patterns_rows(self) -> list[dict]:
        return read_patterns(self.spark, self.input_dir)

    def in_path(self, name: str) -> str:
        return os.path.join(self.input_dir, f"{name}.parquet")

    def _commit(self, stage: str, table: str, df: DataFrame,
                fingerprint: str, partition_by=None) -> None:
        t0 = time.time()
        man = self.io.write(
            df, table, partition_by=partition_by,
            inputs_fingerprint=fingerprint,
            extra={"run_id": self.run_id, "stage": stage})
        self.events.append(
            {"stage": stage, "table": table, "rows": man["rows"],
             "partitions": len(man["files"]),
             "content_hash": man["content_hash"],
             "wall_s": round(time.time() - t0, 3), "skipped": False}
        )

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

    def run(self, upto: str | None = None) -> list[dict]:
        if upto is not None and upto not in STAGES:
            raise SystemExit(
                f"unknown stage {upto!r}; valid: {', '.join(STAGES)}")
        for stage in STAGES:
            getattr(self, f"stage_{stage}")()
            if stage == upto:
                break
        return self.events

    def stage_ingest(self):
        self._stage(
            "ingest",
            {"turns": lambda: stages.ingest_bucketed(
                self.spark, self.in_path("transcripts"),
                buckets=self.buckets)},
            [self.in_path("transcripts")], partition_by=["bucket"])

    def stage_tag(self):
        self._stage("tag", {"tagged": self._tagged},
                    [self.io.path("turns"), self.artifact_path,
                     self.in_path("patterns")],
                    partition_by=["bucket"])

    def _tagged(self) -> DataFrame:
        turns = self.read("turns")
        # content-addressed tagging (tag distinct texts, join back) is
        # value-identical to the per-row path and wins when the corpus
        # repeats turns; the probe alone picks between them
        if self._probe_dup_rate(turns):
            return stages.tag_extract_distinct(
                turns, self.tagger, self.patterns_rows,
                buckets=self.buckets)
        return stages.tag_extract(turns, self.tagger,
                                  self.patterns_rows)

    def _probe_dup_rate(self, turns: DataFrame) -> bool:
        """One cheap column-pruned aggregate over the
        already-checkpointed turns table (count + HLL distinct of
        `text`) measures the duplication rate; past the measured
        break-even (TAG_DISTINCT_AUTO_MIN_RATE_LEXICON) the
        content-addressed path wins. The probe's
        outcome only picks between two VALUE-IDENTICAL plans (same
        content hashes — tests/test_resume.py cross-path resume), so HLL
        approximation error cannot affect output, and the stage
        fingerprint is mode-independent, so resume is unaffected by
        what a previous run chose."""
        t0 = time.time()
        row = turns.agg(
            F.count("text").alias("n"),
            F.approx_count_distinct("text").alias("d"),
        ).collect()[0]
        rate = row["n"] / max(row["d"], 1)
        distinct = rate >= TAG_DISTINCT_AUTO_MIN_RATE_LEXICON
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
        mentions = functools.cache(lambda: self.read("mentions"))

        def lsh_edges() -> DataFrame:
            nodes = self.read("nodes")
            return stages.similar_edges(nodes, nodes)

        self._stage(
            "link",
            {
                "nodes": lambda: stages.link_nodes(mentions(),
                                                   self.alias_dict),
                "lsh_edges": lsh_edges,
                "links": lambda: stages.link_links(
                    mentions(), self.alias_dict, self.read("lsh_edges")),
            },
            [self.io.path("mentions"), self.in_path("alias_dict")])

    def stage_canon(self):
        inputs = [self.io.path("nodes"), self.io.path("lsh_edges")]

        @functools.cache
        def canon():
            # the CC loop runs its per-iteration actions EAGERLY here
            # (localCheckpoint per round, a cc_state commit every
            # stages.CC_COMMIT_EVERY rounds), before _commit starts its
            # clock — record it as its own event so per-stage walls
            # account for the full run (scaling_bench sums these)
            t_cc = time.time()
            labels = stages.connected_components(
                self.read("nodes"), self.read("lsh_edges"),
                state_io=self.io, state_fp=self._fingerprint(inputs))
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
        self._stage(
            "materialize",
            {
                "edges": lambda: stages.materialize_edges(
                    self.read("triples_raw"), self.alias_dict,
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
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--artifact", default="tagger_v1.npz",
                    help="tagger checkpoint file inside --input (the "
                    "pluggable model slot: tagger_v1.npz lexicon+CRF, "
                    "tagger_v2.npz context-cue-weighted)")
    ap.add_argument("--stop-after", default=None,
                    help="simulate failure after this stage (resume test)")
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--max-partition-mb", type=int, default=16,
                    help="spark.sql.files.maxPartitionBytes in MB; 16MB "
                    "keeps scan tasks fine-grained for the UDF-heavy tag "
                    "stage at bench scale (raise on a real cluster)")
    args = ap.parse_args(argv)

    from kgx.spark.session import get_spark

    spark = get_spark("kgx-run", cores=args.cores)
    spark.conf.set("spark.sql.files.maxPartitionBytes",
                   str(args.max_partition_mb * 1024 * 1024))
    t0 = time.time()
    runner = Runner(spark, args.input, args.out, args.run_id,
                    buckets=args.buckets, artifact=args.artifact)
    events = runner.run(upto=args.stop_after)
    report = {
        "run_id": args.run_id,
        "wall_s": round(time.time() - t0, 3),
        "stages": events,
    }
    print(json.dumps(report))
    return report


if __name__ == "__main__":
    main()
