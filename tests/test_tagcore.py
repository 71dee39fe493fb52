"""Pure-unit tests (SURVEY.md §5 tier 1): Viterbi vs brute force,
BIO decode incl. IOB2 repair, longest-match scanning, batched decode
parity, artifact roundtrip."""

import itertools

import numpy as np
import pytest

from kgx.contract import NUM_TAGS, TAGS
from kgx.tagcore import (
    LexiconMatcher,
    TaggerArtifact,
    build_transitions,
    decode_bio,
    decode_bio_batch_arrays,
    make_batch_emitter,
    make_emitter,
    viterbi,
    viterbi_batch_padded,
)
from tests.tagger_pad import pad, padded_viterbi


def brute_force(e: np.ndarray, a: np.ndarray) -> list[int]:
    t = e.shape[0]
    best, best_score = None, -np.inf
    for path in itertools.product(range(NUM_TAGS), repeat=t):
        s = e[0, path[0]]
        for i in range(1, t):
            s += a[path[i - 1], path[i]] + e[i, path[i]]
        # ties -> lowest tag-id path (lexicographic), matching argmax-first
        if s > best_score + 1e-12:
            best, best_score = path, s
    return list(best)


@pytest.mark.parametrize("seed", range(5))
@pytest.mark.parametrize("t", [1, 2, 4, 5])
def test_viterbi_exact_vs_bruteforce(seed, t):
    rng = np.random.RandomState(seed)
    e = rng.randn(t, NUM_TAGS).astype(np.float32) * 3
    a = rng.randn(NUM_TAGS, NUM_TAGS).astype(np.float32)
    got = viterbi(e, a)
    want = brute_force(e, a)
    s_got = e[0, got[0]] + sum(
        a[got[i - 1], got[i]] + e[i, got[i]] for i in range(1, t)
    )
    s_want = e[0, want[0]] + sum(
        a[want[i - 1], want[i]] + e[i, want[i]] for i in range(1, t)
    )
    assert abs(s_got - s_want) < 1e-4  # same optimal score


def test_viterbi_tie_breaks_low_tag():
    e = np.zeros((3, NUM_TAGS), dtype=np.float32)
    a = np.zeros((NUM_TAGS, NUM_TAGS), dtype=np.float32)
    assert viterbi(e, a) == [0, 0, 0]


def test_viterbi_batch_matches_single():
    rng = np.random.RandomState(7)
    a = build_transitions()
    ems = [rng.randn(t, NUM_TAGS).astype(np.float32) * 2
           for t in (1, 3, 8, 5, 2, 13)]
    batch = padded_viterbi(ems, a)
    for e, got in zip(ems, batch):
        assert got == viterbi(e, a)


def test_decode_bio_basic_and_repair():
    text = "abcdefg"
    # B-PER I-PER O B-LOC
    spans = decode_bio(["B-PER", "I-PER", "O", "B-LOC", "I-LOC", "O", "O"],
                       text)
    assert [(s["begin"], s["end"], s["etype"]) for s in spans] == [
        (0, 2, "PER"), (3, 5, "LOC")]
    assert spans[0]["surface"] == "ab"
    # repair: I-X after O opens a new span
    spans = decode_bio(["O", "I-ORG", "I-ORG", "O"], "abcd")
    assert [(s["begin"], s["end"], s["etype"]) for s in spans] == [
        (1, 3, "ORG")]
    # repair: type change inside I-run splits
    spans = decode_bio(["B-PER", "I-LOC"], "ab")
    assert [(s["begin"], s["end"], s["etype"]) for s in spans] == [
        (0, 1, "PER"), (1, 2, "LOC")]
    # trailing open span closes at end
    spans = decode_bio(["O", "B-ORG", "I-ORG"], "xyz")
    assert [(s["begin"], s["end"], s["etype"]) for s in spans] == [
        (1, 3, "ORG")]


def _artifact():
    return TaggerArtifact(
        forms=("Ana Park", "Ana", "Novagraph Inc", "Lake Virel"),
        etypes=("PER", "PER", "ORG", "LOC"),
        transitions=build_transitions(),
    )


def test_matcher_longest_match():
    m = LexiconMatcher(_artifact())
    hits = m.matches("Ana Park works at Novagraph Inc .")
    assert hits == [(0, 8, "PER", "Ana Park"),
                    (18, 31, "ORG", "Novagraph Inc")]
    hits = m.matches("Ana went home")  # shorter form still matches
    assert hits == [(0, 3, "PER", "Ana")]


def test_tag_text_end_to_end():
    art = _artifact()
    m = LexiconMatcher(art)
    text = "Ana Park visited Lake Virel ."
    path = viterbi(make_emitter(art, m)(text), art.transitions)
    tags = [TAGS[i] for i in path]
    assert len(tags) == len(text)
    spans = decode_bio(tags, text)
    assert [(s["surface"], s["etype"]) for s in spans] == [
        ("Ana Park", "PER"), ("Lake Virel", "LOC")]
    assert all(t in TAGS for t in tags)


def test_emissions_shape_and_truncation():
    art = _artifact()
    m = LexiconMatcher(art)
    e = make_emitter(art, m)("x" * 1000)
    assert e.shape == (512, NUM_TAGS)


def test_artifact_roundtrip(tmp_path):
    art = _artifact()
    p = str(tmp_path / "a.npz")
    art.save(p)
    back = TaggerArtifact.load(p)
    assert back.forms == art.forms
    assert back.etypes == art.etypes
    assert np.allclose(back.transitions, art.transitions)


def test_demo_one_ep3_shape():
    """EP3 demo contract: sentence -> PER/LOC/ORG surface lists from
    the same frozen artifact the pipeline ships."""
    from kgx.demo import demo_one

    out = demo_one("Ana Okonkwo visited Fort Kandford with Davor Park .")
    assert set(out) == {"PER", "LOC", "ORG"}
    assert out["PER"] == ["Ana Okonkwo", "Davor Park"]
    assert out["LOC"] == ["Fort Kandford"]
    assert demo_one("") == {"PER": [], "LOC": [], "ORG": []}


def test_artifact_rejects_non_half_integer_scores():
    """The float32 UDF DP bit-agrees with the float64 oracle DP only
    for half-integer scores; artifacts carrying anything else (e.g. a
    0.1 cue bonus) must be rejected at the load boundary instead of
    silently reopening oracle-vs-pipeline divergence."""
    import numpy as np
    import pytest

    from kgx.tagcore import TaggerArtifact, build_transitions

    bad_cue = TaggerArtifact(
        forms=("ana",), etypes=("PER",), transitions=build_transitions(),
        kind="lexicon_ctx_crf", cues=(("dr", "PER", 0.1),), weak=(0,),
    )
    with pytest.raises(ValueError, match="half-integer"):
        TaggerArtifact.from_dict(bad_cue.as_dict())

    tr = build_transitions()
    tr[0, 0] = 0.3
    with pytest.raises(ValueError, match="half-integer"):
        TaggerArtifact.from_dict(
            TaggerArtifact(forms=("x",), etypes=("PER",),
                           transitions=tr).as_dict())

    ok = TaggerArtifact(
        forms=("ana",), etypes=("PER",), transitions=build_transitions(),
        kind="lexicon_ctx_crf", cues=(("dr", "PER", 2.5),), weak=(0,),
    )
    assert TaggerArtifact.from_dict(ok.as_dict()).cues[0][2] == 2.5


def _rand_texts(rng, n, alphabet, forms):
    out = []
    for _ in range(n):
        parts = []
        for _ in range(rng.randint(0, 6)):
            if rng.rand() < 0.5 and forms:
                parts.append(forms[rng.randint(len(forms))])
            else:
                parts.append(
                    "".join(
                        alphabet[rng.randint(len(alphabet))]
                        for _ in range(rng.randint(1, 8))
                    )
                )
        out.append(" ".join(parts))
    return out


@pytest.mark.parametrize("seed", range(3))
def test_emissions_batch_matches_single(seed):
    rng = np.random.RandomState(seed)
    forms = ["ada", "bob corp", "cd", "dd inc"]
    etypes = ["PER", "ORG", "LOC", "ORG"]
    art = TaggerArtifact(
        forms=tuple(forms),
        etypes=tuple(etypes),
        transitions=build_transitions(),
    )
    m = LexiconMatcher(art)
    texts = _rand_texts(rng, 40, "abcd ", forms) + ["", "x" * 600]
    em, lens = make_batch_emitter(art, m)(texts)
    assert em.dtype == np.float32
    emit = make_emitter(art, m)
    for i, t in enumerate(texts):
        single = emit(t)
        assert lens[i] == single.shape[0]
        assert np.array_equal(em[i, : lens[i]], single)


@pytest.mark.parametrize("seed", range(3))
def test_emissions_ctx_batch_matches_single(seed):
    rng = np.random.RandomState(seed + 50)
    forms = ("ada", "bobcorp", "cd")
    etypes = ("PER", "ORG", "LOC")
    cues = (("dr ", "PER", 2.0), ("at ", "ORG", 1.5))
    weak = (1, 0, 0)
    art = TaggerArtifact(
        forms=forms,
        etypes=etypes,
        transitions=build_transitions(),
        kind="lexicon_ctx_crf",
        cues=cues,
        weak=weak,
    )
    m = LexiconMatcher(art)
    texts = _rand_texts(rng, 40, "abcdr t", list(forms)) + [
        "dr ada", "ada", "at bobcorp", ""
    ]
    em, lens = make_batch_emitter(art, m)(texts)
    emit = make_emitter(art, m)
    for i, t in enumerate(texts):
        single = emit(t)
        assert lens[i] == single.shape[0]
        assert np.array_equal(em[i, : lens[i]], single)
    # both emitters run the ctx model for the v2 kind: a cue adds its
    # bonus to the B-score, and an unsupported weak form emits nothing
    b_per, b_org = TAGS.index("B-PER"), TAGS.index("B-ORG")
    k = len(texts) - 4
    assert em[k, 3, b_per] == 12.0  # "dr ada": 10 + cue bonus 2.0
    assert em[k + 1, 0, b_per] < 0  # bare weak "ada": no emission
    assert em[k + 2, 3, b_org] == 11.5  # "at bobcorp": 10 + 1.5


@pytest.mark.parametrize("seed", range(5))
def test_decode_bio_batch_matches_single(seed):
    """Vectorized span decode == decode_bio on random tag matrices,
    including invalid IOB2 sequences that exercise the repair path
    and full-length rows (span running to the padded matrix edge)."""
    rng = np.random.RandomState(seed)
    n, tmax = 30, 9
    paths = rng.randint(0, NUM_TAGS, size=(n, tmax)).astype(np.int8)
    lens = rng.randint(0, tmax + 1, size=n).astype(np.int64)
    lens[0], paths[0] = tmax, NUM_TAGS - 1  # full row of I-ORG
    code_of = {"PER": 0, "LOC": 1, "ORG": 2}
    bs, es, cs = decode_bio_batch_arrays(paths, lens)
    for i in range(n):
        tags = [TAGS[j] for j in paths[i, : lens[i]]]
        text = "x" * int(lens[i])
        spans = decode_bio(tags, text)
        assert bs[i].dtype == es[i].dtype == cs[i].dtype == np.int32
        assert bs[i].tolist() == [s["begin"] for s in spans]
        assert es[i].tolist() == [s["end"] for s in spans]
        assert cs[i].tolist() == [code_of[s["etype"]] for s in spans]


def test_viterbi_batch_padded_direct():
    """Padded-core entry point: same paths as the per-sequence
    reference for variable-length float32 model inputs, zero past
    each length."""
    rng = np.random.RandomState(11)
    a = build_transitions()
    ems = [
        (rng.randint(-20, 21, size=(t, NUM_TAGS)) / 2.0).astype(np.float32)
        for t in (3, 1, 7, 5, 7)
    ]
    em, lens = pad(ems)
    assert em.dtype == np.float32
    paths = viterbi_batch_padded(em, lens, a)
    assert paths.shape == (5, 7)
    for i, e in enumerate(ems):
        assert paths[i, : lens[i]].tolist() == viterbi(e, a)
        assert not paths[i, lens[i] :].any() or lens[i] == 7
