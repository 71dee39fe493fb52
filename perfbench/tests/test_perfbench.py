"""Tests of the benchmark itself (no Spark): seeded input generation,
event-log folding on a small recorded log, and metric names.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import re
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, ROOT]

import eventlog  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

from kgx.spark.run import TAG_DISTINCT_AUTO_MIN_RATE_LEXICON  # noqa: E402

T1_TURNS = 400


@pytest.mark.parametrize("workload", sorted(gen.WORKLOADS))
def test_corpus_is_a_function_of_the_seed(workload):
    ents_a, rows_a = gen.build_corpus(workload, 1, T1_TURNS)
    ents_b, rows_b = gen.build_corpus(workload, 1, T1_TURNS)
    _, rows_c = gen.build_corpus(workload, 2, T1_TURNS)
    assert rows_a == rows_b
    assert [e.canonical for e in ents_a] == [e.canonical for e in ents_b]
    assert rows_a["text"] != rows_c["text"]
    assert len(rows_a["text"]) == T1_TURNS


def test_written_inputs_repeat_per_seed(tmp_path):
    a = gen.write_inputs(str(tmp_path / "a"), "batch_wide", 3, T1_TURNS)
    b = gen.write_inputs(str(tmp_path / "b"), "batch_wide", 3, T1_TURNS)
    assert a == b
    for name in ("transcripts", "alias_dict", "patterns"):
        ta = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        tb = pq.read_table(tmp_path / "b" / f"{name}.parquet")
        assert ta.equals(tb), name
    assert a["oracle"]["edges"] > 0 and a["oracle"]["vertices"] > 0


def test_arrival_files_split_the_corpus_by_conversation(tmp_path):
    gen.write_inputs(str(tmp_path / "s"), "stream_arrivals", 1, T1_TURNS)
    corpus = pq.read_table(tmp_path / "s" / "transcripts.parquet")
    parts = [pq.read_table(tmp_path / "s" / gen.ARRIVALS / f)
             for f in sorted(os.listdir(tmp_path / "s" / gen.ARRIVALS))]
    assert len(parts) == gen.WORKLOADS["stream_arrivals"]["files"]
    assert all(p.num_rows for p in parts)
    assert sum(p.num_rows for p in parts) == corpus.num_rows
    convs = [set(p["conv_id"].to_pylist()) for p in parts]
    assert not set.intersection(*convs)
    # later files repeat texts of the first, so they add no graph node
    first = set(parts[0]["text"].to_pylist())
    assert all(set(p["text"].to_pylist()) <= first for p in parts[1:])


def test_wide_gazetteer_keeps_band_buckets_under_half_the_cap():
    import random

    ents = gen.wide_gazetteer(random.Random("batch_wide:1"), 400)
    load = gen.Counter()
    for e in ents:
        load.update(gen._band_load(
            e.etype, (e.canonical, *e.aliases, *e.misspells)))
    assert max(load.values()) <= gen.MAX_LSH_BUCKET // 2
    assert len(ents) > 1000


def test_inputs_with_an_over_cap_bucket_are_refused(tmp_path, monkeypatch):
    monkeypatch.setattr(gen, "MAX_LSH_BUCKET", 2)
    with pytest.raises(ValueError, match="LSH band bucket"):
        gen.write_inputs(str(tmp_path / "a"), "batch_dup", 1, T1_TURNS)


def test_inputs_are_cached_per_code_key(tmp_path, monkeypatch):
    monkeypatch.setitem(gen.WORKLOADS, "stream_arrivals",
                        {**gen.WORKLOADS["stream_arrivals"],
                         "turns": T1_TURNS})
    out, meta = gen.ensure_inputs(str(tmp_path), "stream_arrivals", 2)
    assert out == str(tmp_path / gen.code_key() / "stream_arrivals-s2")
    assert gen.code_key() == gen.code_key()
    assert meta["turns"] == T1_TURNS and meta["arrival_files"] == 2
    assert os.listdir(tmp_path / gen.code_key()) == ["stream_arrivals-s2"]


def test_builds_must_repeat_their_fingerprints():
    events = [{"table": "turns", "content_hash": "a"},
              {"table": "edges", "content_hash": "b"},
              {"table": "nodes", "content_hash": "d", "skipped": True},
              {"probe": "dup_rate", "dup_rate": 3.0}]
    first = run.fingerprints({"events": events}, False)
    assert first == {"turns": "a", "edges": "b"}
    assert run.check_same(first, first) == []
    changed = {"events": [{"table": "turns", "content_hash": "a"},
                          {"table": "edges", "content_hash": "c"}]}
    assert len(run.check_same(first, run.fingerprints(changed, False))) == 1
    assert len(run.check_same(first, {"turns": "a"})) == 1


def test_workloads_sit_on_either_side_of_the_tag_break_even():
    rates = {}
    for w in gen.WORKLOADS:
        texts = gen.build_corpus(w, 1)[1]["text"]
        rates[w] = len(texts) / len(set(texts))
    assert rates["batch_dup"] > 2 * TAG_DISTINCT_AUTO_MIN_RATE_LEXICON
    assert rates["batch_wide"] < TAG_DISTINCT_AUTO_MIN_RATE_LEXICON / 5


def test_digest_ignores_row_order_and_timestamp_zone():
    import datetime

    utc = datetime.timezone.utc
    a = [{"k": "x", "ts": datetime.datetime(2026, 1, 1, 0, 0, 7)},
         {"k": "y", "ts": datetime.datetime(2026, 1, 2)}]
    b = [{"k": "y", "ts": datetime.datetime(2026, 1, 2, tzinfo=utc)},
         {"k": "x", "ts": datetime.datetime(2026, 1, 1, 0, 0, 7,
                                            tzinfo=utc)}]
    assert gen.digest(a, ("k", "ts")) == gen.digest(b, ("k", "ts"))
    assert gen.digest(a, ("k", "ts")) != gen.digest(a[:1], ("k", "ts"))


def test_fold_small_recorded_log():
    """A trimmed log of two tagged pipeline stages of a local[4] build,
    plus one stage submitted without a job description."""
    with open(os.path.join(HERE, "data", "events_small.jsonl")) as f:
        rows = eventlog.fold_events(f)
    assert set(rows) == {"perfbench:tag", "perfbench:canon", ""}
    tag, canon = rows["perfbench:tag"], rows["perfbench:canon"]
    assert tag["jobs"] == 6 and canon["jobs"] == 39
    assert tag["task_s"] == pytest.approx(16.047)
    assert tag["python_s"] == pytest.approx(11.261)
    assert tag["cpu_s"] == pytest.approx(2.195450246)
    assert tag["shuffle_bytes"] == 1024
    assert tag["output_bytes"] == 37479
    assert tag["skew"] == pytest.approx(1.0020732550103664)
    assert canon["python_s"] == 0.0
    assert canon["shuffle_bytes"] == 76237
    assert canon["shuffle_write_s"] == pytest.approx(0.033078543)
    assert rows[""]["task_s"] == pytest.approx(0.005)
    assert rows[""]["jobs"] == 0


def test_fold_dir_reads_rolled_files_in_order(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    with open(os.path.join(HERE, "data", "events_small.jsonl")) as f:
        lines = f.readlines()
    # stage submissions land in the first file, their tasks in later
    # ones; "10" sorts before "2" as text but not as a number
    (app / "events_1_local-1").write_text("".join(lines[:60]))
    (app / "events_2_local-1").write_text("".join(lines[60:120]))
    (app / "events_10_local-1").write_text("".join(lines[120:]))
    with open(os.path.join(HERE, "data", "events_small.jsonl")) as f:
        assert eventlog.fold_dir(str(app)) == eventlog.fold_events(f)
    with pytest.raises(FileNotFoundError):
        eventlog.fold_dir(str(tmp_path / "missing"))


NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_metric_names_and_benchmark_json_agree():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END
    assert layers == run.per_layer_units()
    assert {w["name"] for w in bench["workloads"]} <= set(gen.WORKLOADS)
    assert run.STREAMING in gen.WORKLOADS
    assert all(len(w["why"]) <= 200 for w in bench["workloads"])
    for name, unit in [*e2e.items(), *layers.items()]:
        assert NAME.match(name), name
        assert UNIT.match(unit), unit
    assert len(set(e2e) | set(layers)) == len(e2e) + len(layers)
