"""Checkpoint/resume + per-file lineage in the manifests (north_rule:
"resumable from checkpoint with per-partition lineage + metrics").

Simulated failure after stage k -> re-run skips 1..k, completes, and
final edges/vertices content hashes equal a clean single-shot run's.
"""

import glob
import os

import pytest

from kgx.spark import run as run_mod
from kgx.spark.run import STAGES, Runner

# every table a complete run commits
TABLES = ("turns", "tagged", "triples_raw", "mentions", "nodes",
          "lsh_edges", "links", "entity_map", "cc_vertices", "edges",
          "vertices")


@pytest.fixture(scope="module")
def warehouses(tmp_path_factory):
    return tmp_path_factory.mktemp("wh")


def test_resume_after_simulated_failure(spark, t1_dir, warehouses):
    wh_a = str(warehouses / "clean")
    wh_b = str(warehouses / "resumed")

    clean = Runner(spark, t1_dir, wh_a, "clean", buckets=8)
    clean.run()
    assert all(not e.get("skipped") for e in clean.events)

    # run B: die after 'extract', then resume
    first = Runner(spark, t1_dir, wh_b, "b1", buckets=8)
    first.run(upto="extract")
    done = {e["table"] for e in first.events}
    assert "triples_raw" in done and "edges" not in done

    resumed = Runner(spark, t1_dir, wh_b, "b2", buckets=8)
    resumed.run()
    skipped = {e["table"] for e in resumed.events if e.get("skipped")}
    assert {"turns", "triples_raw", "mentions"} <= skipped
    ran = {e["table"] for e in resumed.events if not e.get("skipped")}
    assert {"links", "nodes", "lsh_edges", "entity_map", "edges",
            "vertices"} <= ran

    # identical final output content (order/partitioning-insensitive):
    # manifest content signatures first, then exact set equality
    for table in ("edges", "vertices", "triples_raw", "mentions"):
        assert (clean.io.manifest(table)["content_hash"]
                == resumed.io.manifest(table)["content_hash"]), table
        a = clean.read(table)
        b = resumed.read(table)
        assert a.count() == b.count()
        assert (
            a.exceptAll(b.select(a.columns)).count() == 0
            and b.select(a.columns).exceptAll(a).count() == 0
        ), table


def assert_manifest_lineage(r, table):
    """The manifest that committed `table` lists every data file of
    its snapshot with the file's bytes, and the files' rows add up to
    the table's."""
    m = r.io.manifest(table)
    root = r.io.path(table)
    on_disk = {os.path.relpath(p, root) for p in glob.glob(
        os.path.join(root, "**", "*.parquet"), recursive=True)}
    assert {f["path"] for f in m["files"]} == on_disk, table
    for f in m["files"]:
        assert f["bytes"] == os.path.getsize(os.path.join(root, f["path"]))
    n = r.read(table).count()
    assert sum(f["rows"] for f in m["files"]) == m["rows"] == n, table


def test_metrics_lineage_rows(spark, t1_dir, warehouses):
    """Per-file lineage and the content hash live in the manifest that
    commits each table, stamped with the run and stage that wrote it."""
    wh = str(warehouses / "clean")
    r = Runner(spark, t1_dir, wh, "clean", buckets=8)
    for table in TABLES:
        m = r.io.manifest(table)
        assert m["run_id"] == "clean", table
        assert len(m["content_hash"]) == 16, table
        assert_manifest_lineage(r, table)
    assert {r.io.manifest(t)["stage"] for t in TABLES} == set(STAGES)
    assert not os.path.exists(os.path.join(wh, "metrics"))


def test_killed_run_keeps_lineage_of_committed_tables(spark, t1_dir,
                                                      tmp_path):
    """A run killed after its tag stage never reaches the end of run();
    every table it committed keeps its lineage, and the resumed run
    skips those tables and keeps the first run's records of them."""
    wh = str(tmp_path / "wh")
    killed = Runner(spark, t1_dir, wh, "killed", buckets=8)
    killed.stage_ingest()
    killed.stage_tag()

    resumed = Runner(spark, t1_dir, wh, "resumed", buckets=8)
    resumed.run()
    skipped = {e["table"] for e in resumed.events if e.get("skipped")}
    assert skipped == {"turns", "tagged"}
    for table in TABLES:
        assert_manifest_lineage(resumed, table)
        want = "killed" if table in skipped else "resumed"
        assert resumed.io.manifest(table)["run_id"] == want, table


def test_input_change_invalidates_resume(spark, t1_dir, warehouses,
                                         tmp_path):
    """Touching an input file changes the fingerprint -> stage re-runs."""
    import shutil

    fix = tmp_path / "fix"
    shutil.copytree(t1_dir, fix)
    wh = str(tmp_path / "wh")
    r1 = Runner(spark, str(fix), wh, "r1", buckets=8)
    r1.run(upto="ingest")

    # bump mtime (same content, new fingerprint)
    tp = fix / "transcripts.parquet"
    st = os.stat(tp)
    os.utime(tp, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))

    r2 = Runner(spark, str(fix), wh, "r2", buckets=8)
    r2.stage_ingest()
    assert all(not e.get("skipped") for e in r2.events)


def test_manifest_commit_marker(spark, t1_dir, tmp_path):
    """Manifest is written only after data lands: a data dir without a
    manifest is treated as incomplete (crash-during-write safety)."""
    wh = str(tmp_path / "wh")
    r = Runner(spark, t1_dir, wh, "r", buckets=8)
    r.stage_ingest()
    os.remove(r.io.manifest_path("turns"))
    assert not r.io.is_complete("turns")
    r2 = Runner(spark, t1_dir, wh, "r2", buckets=8)
    r2.stage_ingest()
    assert not r2.events[0].get("skipped")
    assert glob.glob(os.path.join(wh, "turns", "**", "*.parquet"),
                     recursive=True)


def test_snapshot_retention_keeps_current_and_previous(spark, tmp_path):
    """Iceberg-lite snapshots: each write is a new visible `v{n}` data
    dir; reads see the current one with the manifest's schema, the
    previous one is kept (a lazy reader may still hold it) and older
    ones are deleted."""
    from kgx.spark.io import TableIO, stored_schema

    io = TableIO(str(tmp_path / "wh"))
    for n in (5, 9, 2):
        m = io.write(spark.range(n).selectExpr("id", "id * 2 AS v"), "t")
    assert m["version"] == 3
    df = io.read(spark, "t")
    # parquet reads every column back as nullable
    assert df.schema.simpleString() == stored_schema(m).simpleString()
    assert df.count() == 2
    assert os.path.isdir(io.path("t", 2))
    assert not os.path.exists(io.path("t", 1))
    names = os.listdir(io.table_dir("t"))
    assert sorted(names) == ["v2", "v3"]
    assert not [n for n in names if n.startswith(("_", "."))]


def test_read_of_uncommitted_table_raises(spark, tmp_path):
    """A data dir without a manifest may be a crashed write's partial
    output: reading it raises instead of inferring a schema over it."""
    from kgx.spark.io import TableIO

    io = TableIO(str(tmp_path / "wh"))
    io.write(spark.range(3), "t")
    os.remove(io.manifest_path("t"))
    with pytest.raises(ValueError, match="t has no manifest"):
        io.read(spark, "t")


def probe_event(runner):
    evs = [e for e in runner.events if e.get("probe") == "dup_rate"]
    assert len(evs) == 1, runner.events
    return evs[0]


def test_resume_across_tag_distinct_modes(spark, t1_dir, warehouses,
                                          monkeypatch):
    """A warehouse whose tag stage ran the per-row path resumes cleanly
    when the probe would now pick the distinct path: the two tag paths
    are value-identical, so the tag stage skips (its inputs fingerprint
    is path-independent by design) and the final tables equal a clean
    single-shot run's on the distinct path. The break-even constant
    forces each path (inf: per-row, 0.0: distinct)."""
    wh = str(warehouses / "flip")
    monkeypatch.setattr(run_mod, "TAG_DISTINCT_AUTO_MIN_RATE_LEXICON",
                        float("inf"))
    first = Runner(spark, t1_dir, wh, "f1", buckets=8)
    first.run(upto="tag")
    assert {e["table"] for e in first.events} >= {"turns", "tagged"}
    assert probe_event(first)["auto_tag_distinct"] is False

    monkeypatch.setattr(run_mod, "TAG_DISTINCT_AUTO_MIN_RATE_LEXICON",
                        0.0)
    resumed = Runner(spark, t1_dir, wh, "f2", buckets=8)
    resumed.run()
    skipped = {e["table"] for e in resumed.events if e.get("skipped")}
    assert "tagged" in skipped  # the checkpoint survived the flip

    clean = Runner(spark, t1_dir, str(warehouses / "flip_clean"),
                   "fc", buckets=8)
    clean.run()
    assert probe_event(clean)["auto_tag_distinct"] is True
    for table in ("tagged", "edges", "vertices"):
        assert (clean.io.manifest(table)["content_hash"]
                == resumed.io.manifest(table)["content_hash"]), table


def test_auto_tag_distinct_probe_picks_by_duplication(
        spark, t1_dir, warehouses, tmp_path_factory, monkeypatch):
    """The probe must measure the corpus duplication rate and pick the
    faster tag path per run — content-addressed on a heavily
    duplicated corpus, plain on a unique one — with content hashes
    equal to the other path's either way (the probe only picks
    between value-identical plans; the other path is forced through
    the break-even constant: 0.0 distinct, inf plain)."""
    import shutil

    from pyspark.sql import functions as F

    root = tmp_path_factory.mktemp("autoprobe")

    def derive(name, transform):
        d = root / name
        d.mkdir()
        for f in ("alias_dict.parquet", "patterns.parquet",
                  "tagger_v1.npz", "tagger_v2.npz"):
            src = os.path.join(t1_dir, f)
            dst = str(d / f)
            if os.path.isdir(src):
                shutil.copytree(src, dst)
            else:
                shutil.copy(src, dst)
        base = spark.read.parquet(f"{t1_dir}/transcripts.parquet")
        transform(base).write.parquet(str(d / "transcripts.parquet"))
        return str(d)

    # unique: every text made globally distinct -> dup rate == 1.0
    uniq = derive(
        "uniq",
        lambda df: df.withColumn(
            "text",
            F.concat_ws(" #", "text",
                        F.concat_ws(":", "conv_id", "turn_idx"))),
    )
    # duplicated: every conversation replicated 20x -> rate >= 20
    dup = derive(
        "dup",
        lambda df: df.crossJoin(
            spark.range(20).select(F.col("id").alias("_rep"))
        ).withColumn(
            "conv_id", F.concat_ws("_", "conv_id", "_rep")
        ).drop("_rep"),
    )

    for fixture, want_distinct in ((dup, True), (uniq, False)):
        tag = "dup" if want_distinct else "uniq"
        auto = Runner(spark, fixture, str(root / f"wh_auto_{tag}"),
                      "a", buckets=8)
        auto.run(upto="tag")
        ev = probe_event(auto)
        assert ev["auto_tag_distinct"] is want_distinct, ev
        if want_distinct:
            assert ev["dup_rate"] > 10, ev
        else:
            assert ev["dup_rate"] < 1.2, ev
        with monkeypatch.context() as m:
            m.setattr(run_mod, "TAG_DISTINCT_AUTO_MIN_RATE_LEXICON",
                      float("inf") if want_distinct else 0.0)
            forced = Runner(spark, fixture, str(root / f"wh_f_{tag}"),
                            "f", buckets=8)
            forced.run(upto="tag")
        assert probe_event(forced)["auto_tag_distinct"] is (
            not want_distinct), probe_event(forced)
        assert (auto.io.manifest("tagged")["content_hash"]
                == forced.io.manifest("tagged")["content_hash"]), tag


def test_unknown_stop_stage_raises_before_any_stage(tmp_path,
                                                    monkeypatch):
    """`run(upto=)` names a stage to stop after; a misspelt one must
    fail before any stage runs, not run the whole pipeline."""
    calls = []
    for s in STAGES:
        monkeypatch.setattr(Runner, f"stage_{s}",
                            lambda self, s=s: calls.append(s))
    r = Runner(None, str(tmp_path), str(tmp_path / "wh"), "x")
    with pytest.raises(SystemExit, match="'tagg'; valid: ingest, tag,"):
        r.run(upto="tagg")
    assert calls == []
    r.run(upto="tag")
    assert calls == ["ingest", "tag"]


@pytest.fixture(scope="module")
def auto_run(spark, t1_dir, warehouses):
    """One complete run in auto tag mode (probe on) on its own
    warehouse."""
    r = Runner(spark, t1_dir, str(warehouses / "auto"), "auto", buckets=8)
    r.run()
    return r


def test_events_keyed_uniquely_by_stage_and_table(auto_run):
    """Each (stage, table) gets one record: the dup-rate probe and the
    CC loop have keys of their own, distinct from the commits."""
    keys = [(e["stage"], e["table"]) for e in auto_run.events
            if not e.get("skipped")]
    assert len(keys) == len(set(keys)), keys
    assert ("tag", "tag_probe") in keys and ("canon", "cc_loop") in keys


def test_rerun_of_complete_run_skips_probe_and_cc_loop(spark, t1_dir,
                                                       auto_run,
                                                       spark_jobs):
    """A rerun on a complete warehouse does none of a finished stage's
    eager work — no dup-rate probe, no CC loop, no table or dim read,
    so no Spark job at all — and leaves every table's content hash as
    it was."""
    hashes = {e["table"]: e["content_hash"] for e in auto_run.events
              if e.get("content_hash")}
    again = Runner(spark, t1_dir, auto_run.io.warehouse, "again",
                   buckets=8)
    assert spark_jobs(again.run) == []
    assert not [e for e in again.events if e.get("probe")], again.events
    assert not [e for e in again.events
                if e["table"] == "cc_loop" and not e.get("skipped")]
    assert all(e.get("skipped") for e in again.events), again.events
    assert {t: again.io.manifest(t)["content_hash"]
            for t in hashes} == hashes


def test_read_back_runs_no_job(spark, auto_run, spark_jobs):
    """Reading back every table of a finished run takes the schema from
    its manifest — no schema-inference job — and yields the schema
    inference would have."""
    frames = {}
    assert spark_jobs(lambda: frames.update(
        (t, auto_run.read(t)) for t in TABLES)) == []
    for table, df in frames.items():
        inferred = spark.read.parquet(auto_run.io.path(table))
        assert df.schema == inferred.schema, table
