"""Padding helper for tests that compare the padded-tensor Viterbi
(tagcore.viterbi_batch_padded, the UDFs' batched path) with the
per-sequence reference (tagcore.viterbi)."""

import numpy as np

from kgx.contract import NUM_TAGS
from kgx.tagcore import viterbi_batch_padded


def pad(ems: list[np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
    """Zero-pad variable-length [t, 7] emission matrices into the
    [n, tmax, 7] tensor + int64 lengths that viterbi_batch_padded
    takes. The tensor keeps the inputs' promoted dtype (float32 at
    least), so float64 inputs reach the DP unconverted."""
    lens = np.array([e.shape[0] for e in ems], dtype=np.int64)
    dtype = np.result_type(np.float32, *(e.dtype for e in ems))
    em = np.zeros((len(ems), int(lens.max(initial=0)), NUM_TAGS),
                  dtype=dtype)
    for i, e in enumerate(ems):
        em[i, : e.shape[0]] = e
    return em, lens


def padded_viterbi(ems: list[np.ndarray], a: np.ndarray) -> list[list[int]]:
    """One viterbi_batch_padded call over `ems`, read back per
    sequence at its own length (the list shape viterbi returns)."""
    em, lens = pad(ems)
    paths = viterbi_batch_padded(em, lens, a)
    return [paths[i, : lens[i]].tolist() for i in range(len(ems))]
