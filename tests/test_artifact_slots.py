"""Pluggable tagger-artifact slot (SURVEY A.3): a second, behaviorally
distinct emission model (context-cue-weighted, weak-form-gated) behind
the SAME TaggerArtifact interface, selected purely by artifact path.
The parity gate must pass with either checkpoint, proving the
BiLSTM/BERT second-slot design without pipeline changes."""

import os

import pytest

from kgx import oracle, synth
from kgx.evalkit import triple_prf
from kgx.spark.pipeline import run_fixture_pipeline
from kgx.tagcore import TaggerArtifact


@pytest.fixture(scope="module")
def t1v2_dir(t1_dir):
    if not os.path.exists(os.path.join(t1_dir, "tagger_v2.npz")):
        synth.generate(t1_dir, "t1")  # deterministic; adds v2 artifact
    return t1_dir


def test_v2_roundtrip_and_v1_compat(t1v2_dir):
    v1 = TaggerArtifact.load(f"{t1v2_dir}/tagger_v1.npz")
    v2 = TaggerArtifact.load(f"{t1v2_dir}/tagger_v2.npz")
    assert v1.kind == "lexicon_crf" and v1.cues == () and v1.weak == ()
    assert v2.kind == "lexicon_ctx_crf"
    assert v2.cues and len(v2.weak) == len(v2.forms)
    assert any(v2.weak), "v2 should mark misspell forms weak"


def test_unknown_kind_rejected():
    from kgx.tagcore import (
        LexiconMatcher,
        build_transitions,
        make_batch_emitter,
        make_emitter,
    )

    art = TaggerArtifact(
        forms=("x",), etypes=("PER",), transitions=build_transitions(),
        kind="bert_base",  # not implemented in this environment
    )
    for make in (make_emitter, make_batch_emitter):
        with pytest.raises(ValueError, match="bert_base"):
            make(art, LexiconMatcher(art))


def test_v2_is_behaviorally_distinct(t1v2_dir):
    """The second model must actually differ: unsupported weak-form
    (misspell) mentions disappear under v2."""
    m1 = oracle.run(t1v2_dir, "tagger_v1.npz")["mentions"]
    m2 = oracle.run(t1v2_dir, "tagger_v2.npz")["mentions"]
    k = lambda m: (m["conv_id"], m["turn_idx"], m["begin"], m["end"])  # noqa: E731
    s1, s2 = {k(m) for m in m1}, {k(m) for m in m2}
    assert s1 != s2
    assert len(s2) < len(s1)  # v2 gates some mentions out


def test_v2_pipeline_parity_gate(spark, t1v2_dir):
    """P/R gate vs the oracle holds with the SECOND artifact plugged
    into the unchanged distributed pipeline."""
    golden = oracle.run(t1v2_dir, "tagger_v2.npz")
    out = run_fixture_pipeline(
        spark, t1v2_dir, buckets=8, artifact="tagger_v2.npz"
    )
    cols = ("conv_id", "turn_idx", "begin", "end", "surface", "etype")
    got = {
        tuple(r[c] for c in cols)
        for r in out["mentions"].select(*cols).collect()
    }
    want = {tuple(m[c] for c in cols) for m in golden["mentions"]}
    assert got == want
    ours = {
        (r["subj_id"], r["pred"], r["obj_id"])
        for r in out["edges"].collect()
    }
    m = triple_prf(ours, set(golden["triple_set"]))
    assert m["precision"] >= 0.95, m
    assert m["recall"] >= 0.95, m
