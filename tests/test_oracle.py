"""Sequential-oracle tests (SURVEY.md §5 tier 2)."""

import pyarrow.parquet as pq
import pytest

from kgx import oracle
from kgx.contract import TAGS
from kgx.evalkit import conlleval, triple_prf
from kgx.tagcore import LexiconMatcher, TaggerArtifact, make_emitter, viterbi


@pytest.fixture(scope="module")
def result(t1_dir):
    return oracle.run(t1_dir)


def test_oracle_produces_output(result):
    assert len(result["mentions"]) > 50
    assert len(result["triples_raw"]) > 20
    assert len(result["edges"]) > 10
    assert len(result["vertices"]) > 10
    assert len(result["triple_set"]) == len(result["edges"])


def test_mentions_match_text(result, t1_dir):
    turns = {(t["conv_id"], t["turn_idx"]): t["text"]
             for t in pq.read_table(
                 f"{t1_dir}/transcripts.parquet").to_pylist()}
    for m in result["mentions"][:500]:
        text = turns[(m["conv_id"], m["turn_idx"])]
        assert text[m["begin"]:m["end"]] == m["surface"]


def test_links_cover_all_mentions(result):
    assert len(result["links"]) == len(result["mentions"])
    methods = {l["method"] for l in result["links"]}
    assert "exact" in methods


def test_misspells_link_via_lsh(t2_dir):
    """~5% misspelled surfaces must canonicalize to the dict entity."""
    res = oracle.run(t2_dir)
    lsh = [l for l in res["links"] if l["method"] == "lsh"]
    assert lsh, "expected LSH links on t2 (misspell rate 5%)"
    # every lsh-linked mention maps to a canonical dict entity (e_ prefix)
    # after CC: check via vertices aliases containing the misspelled norm
    vert_by_id = {v["entity_id"]: v for v in res["vertices"]}
    merged = [v for v in vert_by_id.values()
              if v["etype"] != "TOOL" and len(v["aliases"]) > 1
              and v["entity_id"].startswith("e_")]
    assert merged, "expected provisional nodes merged into dict entities"


def test_edge_weights_positive_and_ts_ordered(result):
    for e in result["edges"]:
        assert e["weight"] >= 1
        assert e["first_ts"] <= e["last_ts"]


def test_triple_prf_self_is_perfect(result):
    s = set(result["triple_set"])
    m = triple_prf(s, s)
    assert m["precision"] == 1.0 and m["recall"] == 1.0


def test_conlleval_on_bio_fixture(t1_dir):
    """Tagger vs synthetic gold: must reach F1 == 1.0 by construction
    (gold spans come from the same gazetteer splices the lexicon holds)."""
    rows = pq.read_table(f"{t1_dir}/bio_eval.parquet").to_pylist()
    art = TaggerArtifact.load(f"{t1_dir}/tagger_v1.npz")
    emit = make_emitter(art, LexiconMatcher(art))
    gold, pred = [], []
    for r in rows:
        text = "".join(r["chars"])
        gold.append(r["gold_tags"])
        pred.append([TAGS[i] for i in viterbi(emit(text),
                                                art.transitions)])
    rep = conlleval(gold, pred)
    assert rep["overall"]["f1"] >= 0.99, rep["overall"]
    assert rep["token_accuracy"] >= 0.99


def test_conlleval_hand_computed():
    gold = [["B-PER", "I-PER", "O", "B-LOC"]]
    pred = [["B-PER", "I-PER", "O", "O"]]
    rep = conlleval(gold, pred)
    assert rep["overall"]["precision"] == 1.0
    assert rep["overall"]["recall"] == 0.5
    assert rep["per_type"]["PER"]["f1"] == 1.0
    assert rep["per_type"]["LOC"]["recall"] == 0.0
    assert rep["token_accuracy"] == 0.75
