"""Frozen tagger model + CRF Viterbi decode (SURVEY.md Appendix A.3/A.4).

The "model" preserves the reference's computational shape — per-char
emission scores + a 7x7 CRF transition matrix, decoded with exact
Viterbi (ties -> lowest tag id) — without TF/torch (unavailable in this
environment, SURVEY §0). Emissions are produced by a deterministic
gazetteer: longest-match lexicon hits project B-X/I-X mass at the hit
span, everything else prefers O. The artifact (lexicon + transitions)
is frozen to disk (`.npz`) and shipped to executors; the oracle and the
Spark UDFs both load the same artifact — "same checkpoint, two
execution engines", which is exactly what the P/R gate measures
(pipeline divergence, not model divergence).

Two execution paths over one model:

* per text (the oracle's reference): make_emitter -> viterbi ->
  decode_bio;
* batched (the Spark UDFs, one padded tensor per Arrow chunk):
  make_batch_emitter -> viterbi_batch_padded -> decode_bio_batch_arrays.

Both emitters get their scoring rule from _model_fill, the one place
that reads the artifact's kind.

Decode contract (A.3): argmax_y sum_t E[t, y_t] + sum_t A[y_{t-1}, y_t],
ties broken toward the LOWEST tag id — `np.argmax` returns the first
maximal index, which with tag ids 0..6 is exactly that rule, on both
paths.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np

from kgx.contract import MAX_TAG_LEN, NUM_TAGS, TAG2ID, TAGS

MATCH_SCORE = 10.0
MISS_SCORE = -10.0
BAD_TRANSITION = -50.0


def build_transitions() -> np.ndarray:
    """7x7 CRF transitions: I-X reachable only from B-X / I-X of same type."""
    a = np.zeros((NUM_TAGS, NUM_TAGS), dtype=np.float32)
    for j, tag in enumerate(TAGS):
        if tag.startswith("I-"):
            et = tag[2:]
            for i, prev in enumerate(TAGS):
                if prev not in (f"B-{et}", f"I-{et}"):
                    a[i, j] = BAD_TRANSITION
    return a


def _check_half_integer(artifact: "TaggerArtifact") -> None:
    """The oracle decodes with a float64 DP and the Spark UDFs with a
    float32 DP; they bit-agree ONLY while every score is a sum of
    half-integer constants (exactly representable in float32 up to
    2^23). MATCH/MISS/BAD are constants here; transitions and cue
    bonuses come from the artifact file, so they are validated at the
    boundary — an artifact with e.g. a 0.1 bonus would silently
    reopen oracle-vs-pipeline divergence, exactly what the P/R gate
    measures."""
    tr = artifact.transitions
    if not np.array_equal(tr * 2, np.round(tr * 2)):
        raise ValueError("transition weights must be half-integers")
    for _cs, _ce, bo in artifact.cues:
        if float(bo) * 2 != round(float(bo) * 2):
            raise ValueError(
                f"cue bonus {bo} is not a half-integer — the float32 "
                "Viterbi fast path would diverge from the float64 "
                "oracle")


@dataclass(frozen=True)
class TaggerArtifact:
    """Frozen model behind the pluggable tagger slot (SURVEY A.3: the
    reference ships interchangeable BiLSTM-CRF / BERT checkpoints; our
    twin is interchangeable EMISSION MODELS behind one artifact
    interface, selected purely by artifact path).

    kind = "lexicon_crf": plain longest-match lexicon emissions (v1).
    kind = "lexicon_ctx_crf": context-cue-weighted emissions (v2) —
    a cue string immediately preceding a hit boosts its B-score, and
    WEAK forms (e.g. misspell variants) are only emitted at all when
    cue-supported. Everything downstream (Viterbi, decode, pipeline)
    is model-agnostic."""

    forms: tuple[str, ...]
    etypes: tuple[str, ...]
    transitions: np.ndarray
    kind: str = "lexicon_crf"
    cues: tuple = ()  # (cue_str, etype, bonus)
    weak: tuple = ()  # per-form 0/1, aligned with forms ( () = all strong)

    def save(self, path: str) -> None:
        np.savez(
            path,
            forms=np.array(self.forms, dtype=object),
            etypes=np.array(self.etypes, dtype=object),
            transitions=self.transitions,
            kind=np.array(self.kind),
            cues=np.array(list(self.cues), dtype=object),
            weak=np.array(list(self.weak), dtype=np.int8),
        )

    @staticmethod
    def load(path: str) -> "TaggerArtifact":
        z = np.load(path, allow_pickle=True)
        kind = str(z["kind"]) if "kind" in z else "lexicon_crf"
        cues = (
            tuple(tuple(c) for c in z["cues"].tolist())
            if "cues" in z else ()
        )
        weak = tuple(z["weak"].tolist()) if "weak" in z else ()
        art = TaggerArtifact(
            forms=tuple(z["forms"].tolist()),
            etypes=tuple(z["etypes"].tolist()),
            transitions=z["transitions"].astype(np.float32),
            kind=kind,
            cues=cues,
            weak=weak,
        )
        _check_half_integer(art)
        return art

    def as_dict(self) -> dict:
        """Plain-dict form for Spark broadcast (no dataclass pickling
        surprises across Python worker boundaries)."""
        return {
            "forms": self.forms,
            "etypes": self.etypes,
            "transitions": self.transitions,
            "kind": self.kind,
            "cues": self.cues,
            "weak": self.weak,
        }

    @staticmethod
    def from_dict(d: dict) -> "TaggerArtifact":
        art = TaggerArtifact(**d)
        _check_half_integer(art)
        return art


class LexiconMatcher:
    """Longest-match-at-leftmost-position scanner over the frozen lexicon.

    Implemented as a single compiled regex whose alternatives are sorted
    by (len desc, lex) — Python `re` alternation is leftmost-first, so at
    each position the longest matching form wins, and `finditer` then
    continues after the match (non-overlapping), which is exactly the
    longest-match scan of the contract.
    """

    def __init__(self, artifact: TaggerArtifact):
        pairs = sorted(
            zip(artifact.forms, artifact.etypes),
            key=lambda fe: (-len(fe[0]), fe[0]),
        )
        self._etype = {f: e for f, e in pairs}
        if pairs:
            pattern = "|".join(re.escape(f) for f, _ in pairs)
            self._rx = re.compile(pattern)
        else:
            self._rx = None

    def matches(self, text: str) -> list[tuple[int, int, str, str]]:
        """Non-overlapping (begin, end, etype, form) hits, left to
        right."""
        if self._rx is None:
            return []
        return [
            (m.start(), m.end(), self._etype[m.group(0)], m.group(0))
            for m in self._rx.finditer(text)
        ]


def _model_fill(artifact: TaggerArtifact, matcher: LexiconMatcher):
    """Emission-model dispatch on artifact.kind — the ONLY code that
    reads it. Returns fill(e, text, t), which writes the model's
    per-match B/I scores into e[:t] over the "prefer O" defaults.

    v1 ("lexicon_crf") scores every lexicon hit; v2
    ("lexicon_ctx_crf") adds a cue's bonus to the B-score when the cue
    string ends right before the hit, and emits WEAK forms only when a
    cue supports them — the BiLSTM/BERT second-checkpoint story of
    SURVEY A.3. v1 is v2 with no cues and no weak forms."""
    if artifact.kind == "lexicon_crf":
        cues, weak_forms = (), frozenset()
    elif artifact.kind == "lexicon_ctx_crf":
        cues = artifact.cues
        weak_forms = frozenset(
            f for f, w in zip(artifact.forms, artifact.weak) if w
        )
    else:
        raise ValueError(f"unknown tagger artifact kind: {artifact.kind}")

    def fill(e: np.ndarray, text: str, t: int) -> None:
        for begin, end, etype, form in matcher.matches(text[:t]):
            bonus = 0.0
            for cs, ce, bo in cues:
                if (
                    ce == etype
                    and begin >= len(cs)
                    and text[begin - len(cs) : begin] == cs
                ):
                    bonus = max(bonus, float(bo))
            if form in weak_forms and bonus == 0.0:
                continue  # unsupported weak form: no emission at all
            b_id, i_id = TAG2ID[f"B-{etype}"], TAG2ID[f"I-{etype}"]
            stop = min(end, t)
            e[begin:stop, :] = MISS_SCORE  # slice-assign, no per-char loop
            e[begin, b_id] = MATCH_SCORE + bonus
            e[begin + 1 : stop, i_id] = MATCH_SCORE

    return fill


def make_emitter(artifact: TaggerArtifact, matcher: LexiconMatcher):
    """Per-text emitter: text -> emission scores E[T x 7] float32
    (text truncated to MAX_TAG_LEN). The oracle's reference path."""
    fill = _model_fill(artifact, matcher)

    def emit(text: str) -> np.ndarray:
        t = min(len(text), MAX_TAG_LEN)
        e = np.zeros((t, NUM_TAGS), dtype=np.float32)
        e[:, 1:] = MISS_SCORE  # default: prefer O
        fill(e, text, t)
        return e

    return emit


def make_batch_emitter(artifact: TaggerArtifact, matcher: LexiconMatcher):
    """Batched emitter: texts -> (one padded [n, tmax, 7] float32
    tensor, per-text lengths), filled directly (bulk numpy defaults +
    sparse per-match slice assigns) instead of one small allocation
    per text. Row i's valid prefix is bit-identical to
    make_emitter(...)(texts[i]) (tested); padding steps are never
    read by the padded DP (scores past each length are frozen,
    backtrace is masked)."""
    fill = _model_fill(artifact, matcher)

    def emit_batch(texts: list[str]) -> tuple[np.ndarray, np.ndarray]:
        n = len(texts)
        lens = np.fromiter(
            (min(len(t), MAX_TAG_LEN) for t in texts), np.int64, count=n
        )
        em = np.zeros((n, int(lens.max(initial=0)), NUM_TAGS),
                      dtype=np.float32)
        em[:, :, 1:] = MISS_SCORE
        for i, text in enumerate(texts):
            fill(em[i], text, int(lens[i]))
        return em, lens

    return emit_batch


def viterbi(e: np.ndarray, a: np.ndarray) -> list[int]:
    """Exact single-sequence Viterbi decode; ties -> lowest tag id."""
    t = e.shape[0]
    if t == 0:
        return []
    score = e[0].astype(np.float64).copy()
    back = np.zeros((t, NUM_TAGS), dtype=np.int8)
    for step in range(1, t):
        cand = score[:, None] + a  # [prev, cur]
        best_prev = cand.argmax(axis=0)  # first max -> lowest prev id
        score = cand[best_prev, np.arange(NUM_TAGS)] + e[step]
        back[step] = best_prev
    path = [int(score.argmax())]
    for step in range(t - 1, 0, -1):
        path.append(int(back[step, path[-1]]))
    path.reverse()
    return path


def viterbi_batch_padded(
    em: np.ndarray, lens: np.ndarray, a: np.ndarray
) -> np.ndarray:
    """Core padded-tensor Viterbi DP: em is [n, tmax, 7], lens the
    per-sequence valid lengths; returns int8 paths [n, tmax] (values
    past each length are zero-filled, never meaningful).

    DP precision follows the PROMOTED input dtype (emissions AND
    transitions): the model path is all-float32 — and its values are
    half-integer constants (enforced at artifact load, magnitude
    < 2^24), so the float32 DP is EXACT there: same argmax, half the
    memory bandwidth of float64 in the hot loop (~25% faster).
    float64 (or any non-float32) input anywhere promotes the whole DP
    to float64, so arbitrary-valued callers get the bit-exact
    reference behavior (tested both ways against viterbi).

    The max-plus step exploits transition COLUMN structure instead of
    materializing the [n, 7, 7] candidate tensor: cur-tags whose
    incoming-transition column vectors are identical share one
    add+argmax over [n, 7] (the standard BIO matrix has only 4
    distinct columns — all-zero for O/B-*, one per I-X — so 49n
    candidate cells become ~28n), and argmax over a contiguous [n, 7]
    beats the strided middle-axis argmax of the tensor form. Measured
    1.6x on the DP stage; bit-identical paths for ANY matrix
    (argmax first-max tie rule is per cur-column either way —
    property-tested against the tensor form and the single-sequence
    oracle)."""
    n, tmax = em.shape[0], em.shape[1]
    if n == 0 or tmax == 0:
        return np.zeros((n, tmax), dtype=np.int8)
    dtype = np.result_type(np.float32, a.dtype, em.dtype)
    if dtype != np.float32:
        dtype = np.float64
    em = em.astype(dtype, copy=False)
    a32 = a.astype(dtype, copy=False)
    groups: dict[tuple, list[int]] = {}
    for c in range(NUM_TAGS):
        groups.setdefault(tuple(a32[:, c].tolist()), []).append(c)
    gvecs = [(np.asarray(v, dtype=dtype), curs)
             for v, curs in groups.items()]
    score = em[:, 0, :].copy()  # [n, 7]
    back = np.zeros((n, tmax, NUM_TAGS), dtype=np.int8)
    rows_n = np.arange(n)
    best_val = np.empty((n, NUM_TAGS), dtype=dtype)
    best_prev = np.empty((n, NUM_TAGS), dtype=np.int8)
    # n > 0 here (early return above); min() without `initial` — the
    # initial value PARTICIPATES in numpy reductions, so initial=0
    # would clamp lmin to 0 and permanently disable the fast path
    lmin = int(lens.min())
    for step in range(1, tmax):
        for vec, curs in gvecs:
            v = score if not vec.any() else score + vec[None, :]
            bp = v.argmax(axis=1)  # first max -> lowest prev id
            bv = v[rows_n, bp]
            for c in curs:
                best_val[:, c] = bv
                best_prev[:, c] = bp
        new_score = best_val + em[:, step, :]
        if step < lmin:
            score = new_score
        else:
            # sequences already past their length keep their final
            # score
            frozen = lens <= step
            score = np.where(frozen[:, None], score, new_score)
        back[:, step, :] = best_prev
    # vectorized backtrace: follow each sequence's chain from its own
    # final position; inactive (shorter) sequences are masked out
    last = score.argmax(axis=1)  # per-seq best final tag (at its own len)
    paths = np.zeros((n, tmax), dtype=np.int8)
    rows = np.arange(n)
    paths[rows, np.maximum(lens - 1, 0)] = last
    cur = last.astype(np.int64)
    for step in range(tmax - 1, 0, -1):
        active = lens > step
        prev = back[rows, step, cur]
        cur = np.where(active, prev, cur)
        paths[active, step - 1] = prev[active]
    return paths


def decode_bio(tags: list[str], text: str) -> list[dict]:
    """A.4 BIO->spans with IOB2 repair.

    B-X opens a span; I-X continues an open span of the same type, else
    OPENS a new one (repair); O or a type change closes. Spans are
    (begin, end) char offsets, end-exclusive; surface = text[begin:end].
    """
    spans: list[dict] = []
    cur_type: str | None = None
    cur_begin = 0
    for i, tag in enumerate(tags):
        if tag == "O":
            if cur_type is not None:
                spans.append(_span(cur_begin, i, cur_type, text))
                cur_type = None
            continue
        kind, etype = tag[0], tag[2:]
        if kind == "B" or cur_type != etype:
            if cur_type is not None:
                spans.append(_span(cur_begin, i, cur_type, text))
            cur_type, cur_begin = etype, i
    if cur_type is not None:
        spans.append(_span(cur_begin, len(tags), cur_type, text))
    return spans


def decode_bio_batch_arrays(
    paths: np.ndarray, lens: np.ndarray
) -> tuple[list[np.ndarray], list[np.ndarray], list[np.ndarray]]:
    """Vectorized A.4 BIO->span-offsets over a padded tag-id matrix.

    paths is int8 [n, tmax] (tag ids, TAGS order: O=0, B-X odd, I-X
    even), lens the valid lengths. Returns per-sequence (begins, ends,
    etype_codes) as int32 numpy arrays with codes 0=PER 1=LOC 2=ORG —
    the exact spans decode_bio produces, including IOB2 repair
    (tested against decode_bio): a position OPENS a
    span iff its tag is non-O and (it is a B tag, or the previous tag
    is O / a different entity type); a span runs until the next opener
    or non-entity position.

    Flattening [n, tmax] row-major is safe because column 0 of every
    row is always a span boundary (prev is forced to O there), so no
    span can cross a row edge.

    Arrays (not Python lists) are the hot-path return shape: the
    tagger UDF hands them straight to pandas/Arrow, which converts
    numpy int32 arrays ~1.6x faster end-to-end than materialized
    lists (measured on the bench texts; int32 matches the UDF's
    array<int> schema with no per-element boxing)."""
    n, tmax = paths.shape
    if n == 0 or tmax == 0:
        empty = np.empty(0, dtype=np.int32)
        return [empty] * n, [empty] * n, [empty] * n
    cols = np.arange(tmax)[None, :]
    tags = np.where(cols < lens[:, None], paths, 0)
    prev = np.zeros_like(tags)
    prev[:, 1:] = tags[:, :-1]
    nonzero = tags != 0
    is_b = ((tags & 1) == 1) & nonzero
    et = (tags - 1) >> 1  # B-PER/I-PER->0, LOC->1, ORG->2; O->-1
    pet = (prev - 1) >> 1
    start = nonzero & (is_b | (prev == 0) | (et != pet))
    term = ~nonzero | start
    sidx = np.flatnonzero(start.ravel())
    tidx = np.flatnonzero(term.ravel())
    pos = np.searchsorted(tidx, sidx, side="right")
    ends_flat = np.where(
        pos < tidx.size, tidx[np.minimum(pos, tidx.size - 1)], n * tmax
    )
    row = sidx // tmax
    begins = (sidx - row * tmax).astype(np.int32)
    ends = (ends_flat - row * tmax).astype(np.int32)
    codes = et.ravel()[sidx].astype(np.int32)
    splits = np.cumsum(np.bincount(row, minlength=n))[:-1]
    return (
        np.split(begins, splits),
        np.split(ends, splits),
        np.split(codes, splits),
    )


def _span(begin: int, end: int, etype: str, text: str) -> dict:
    return {
        "begin": begin,
        "end": end,
        "etype": etype,
        "surface": text[begin:end],
    }
