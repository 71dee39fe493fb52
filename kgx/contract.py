"""Frozen behavioral contract (SURVEY.md Appendix A).

Every constant and pure function here is part of the operational
"reference" contract: the sequential oracle (kgx.oracle) and the
distributed Spark pipeline (kgx.spark) both build on these, and the
triple-set P/R gate measures divergence between the two *pipelines*,
not between re-implementations of these primitives.

Design rules (SURVEY.md §1.2, §7 hard parts):
  * all identities are content-derived (sha256-based), never positional
    — reproducible across partitionings and parallelism levels;
  * no wall-clock, no process-salted hashing (python hash() is banned);
  * normalization never mutates `text` — it only produces copies.

Note on ids: SURVEY.md sketches xxhash64-based ids; we use truncated
sha256 instead so the pure-Python oracle, Spark (`sha2`) and DuckDB
(`sha256`) all agree bit-for-bit without reimplementing xxHash. The
property that matters (content-derived, engine-portable, stable) is
preserved; documented deviation.
"""

from __future__ import annotations

import hashlib
import random
import unicodedata

import numpy as np

# --- A.2 tag set -----------------------------------------------------------

ETYPES = ("PER", "LOC", "ORG")
TAGS = ("O", "B-PER", "I-PER", "B-LOC", "I-LOC", "B-ORG", "I-ORG")
TAG2ID = {t: i for i, t in enumerate(TAGS)}
NUM_TAGS = len(TAGS)

# Tagging is bounded per turn (SURVEY §7: Arrow/pandas UDF memory).
MAX_TAG_LEN = 512

# --- separators / id derivation -------------------------------------------

SEP = "\x1f"  # unit separator; never occurs in fixture text


def sha16(*parts: str) -> str:
    """Stable 16-hex-char content id over SEP-joined parts."""
    return hashlib.sha256(SEP.join(parts).encode("utf-8")).hexdigest()[:16]


def entity_id(etype: str, norm_canonical: str) -> str:
    """Canonical dictionary entity id."""
    return "e_" + sha16("E", etype, norm_canonical)


def prov_id(etype: str, norm_surface: str) -> str:
    """Provisional entity id for a dictionary-miss mention surface."""
    return "p_" + sha16("P", etype, norm_surface)


def tool_id(tool: str) -> str:
    """Pseudo-entity id for a tool node (uses_tool triples, A.6)."""
    return "t_" + sha16("T", tool)


# --- A.7 normalization ------------------------------------------------------


def normalize(surface: str) -> str:
    """NFKC → casefold → strip. Applied to copies only, never to `text`.

    Its JVM twin, kgx.spark.udfs.norm_col (ICU 77, Unicode 16), differs
    only on the 125 codepoints that Python 3.11's unicodedata still calls
    `Cn` (e.g. U+1C89, U+A7CB); tests/test_spark_parity.py pins that."""
    return unicodedata.normalize("NFKC", surface).casefold().strip()


# --- A.7 similarity threshold; MinHash / LSH (dedup harness, benchmark) -----

MINHASH_PERMS = 64
LSH_BANDS = 16
LSH_ROWS = 4  # MINHASH_PERMS == LSH_BANDS * LSH_ROWS
JACCARD_TAU = 0.7  # verify threshold on exact char-bigram Jaccard
MINHASH_PRIME = 2147483647  # 2^31 - 1; a*x+b fits in uint64


def _perm_constants() -> tuple[np.ndarray, np.ndarray]:
    a = np.empty(MINHASH_PERMS, dtype=np.uint64)
    b = np.empty(MINHASH_PERMS, dtype=np.uint64)
    for i in range(MINHASH_PERMS):
        rng = random.Random(1000 + i)
        a[i] = rng.randrange(1, MINHASH_PRIME)
        b[i] = rng.randrange(0, MINHASH_PRIME)
    return a, b


MINHASH_A, MINHASH_B = _perm_constants()


def char_bigrams(norm: str) -> list[str]:
    """Distinct character bigrams of a normalized surface (len>=2)."""
    if len(norm) < 2:
        return [norm] if norm else []
    return sorted({norm[i : i + 2] for i in range(len(norm) - 1)})


def bigram_token(bg: str) -> int:
    """Stable 64-bit token for a bigram, reduced mod MINHASH_PRIME."""
    d = hashlib.blake2b(bg.encode("utf-8"), digest_size=8).digest()
    return int.from_bytes(d, "big") % MINHASH_PRIME


def minhash_signature(norm: str) -> np.ndarray:
    """64-perm MinHash signature of the char-bigram set (uint64[64])."""
    bgs = char_bigrams(norm)
    if not bgs:
        return np.full(MINHASH_PERMS, MINHASH_PRIME - 1, dtype=np.uint64)
    x = np.array([bigram_token(b) for b in bgs], dtype=np.uint64)
    # (64, n) hash matrix; min over bigrams per permutation
    h = (MINHASH_A[:, None] * x[None, :] + MINHASH_B[:, None]) % np.uint64(
        MINHASH_PRIME
    )
    return h.min(axis=1)


def band_keys(sig: np.ndarray) -> list[str]:
    """LSH band bucket keys: b=16 bands of r=4 signature values."""
    out = []
    for band in range(LSH_BANDS):
        vals = sig[band * LSH_ROWS : (band + 1) * LSH_ROWS]
        out.append(f"{band}:" + "-".join(str(int(v)) for v in vals))
    return out


def jaccard(norm_a: str, norm_b: str) -> float:
    """Exact char-bigram Jaccard similarity."""
    sa, sb = set(char_bigrams(norm_a)), set(char_bigrams(norm_b))
    if not sa and not sb:
        return 1.0
    u = len(sa | sb)
    return len(sa & sb) / u if u else 0.0


# --- hyperplane LSH for embedding vectors (ANN / embedding dedup) -----------
# Sign-random-projection sketch over integer-quantized vectors. Planes
# come from an integer hash (LCG + xorshift rounds, all values < 2^31
# so products stay < 2^62 — BIGINT/int64-safe in numpy AND DuckDB), and
# the dot products are computed in INTEGER arithmetic on floor(x*1024)
# quantized components: order-independent and therefore bit-identical
# across engines (a float dot's summation order could flip a sign at
# the boundary). Bands of sign bits are the LSH blocking keys.

HP_PLANES = 32
HP_BANDS = 4
HP_BITS = 8  # HP_PLANES == HP_BANDS * HP_BITS
EMB_DIM = 64
EMB_QUANT = 1024  # power of two -> floor(x*Q) exact in float64
COSINE_TAU = 0.35  # verify threshold (matches the r1 brute-force op)


def hyperplane_weights(n_planes: int = HP_PLANES,
                       dim: int = EMB_DIM) -> np.ndarray:
    """Deterministic integer plane matrix [n_planes, dim], values in
    [-2^30, 2^30). Exactly reproducible in SQL (see harness)."""
    k = np.arange(n_planes * dim, dtype=np.int64)
    h0 = (k * 1103515245 + 12345) % (1 << 31)
    h1 = ((h0 ^ (h0 >> 15)) * 1103515245 + 54321) % (1 << 31)
    h2 = h1 ^ (h1 >> 13)
    return (h2 - (1 << 30)).reshape(n_planes, dim)


def hp_band_keys_np(vecs: np.ndarray) -> np.ndarray:
    """[n, dim] float -> [n, HP_BANDS] int32 band keys (band g key =
    g*2^HP_BITS + its sign bits; globally unique across bands)."""
    w = hyperplane_weights()
    q = np.floor(vecs.astype(np.float64) * EMB_QUANT).astype(np.int64)
    bits = (q @ w.T > 0).astype(np.int64)  # [n, HP_PLANES]
    keys = np.empty((vecs.shape[0], HP_BANDS), dtype=np.int64)
    pows = 1 << np.arange(HP_BITS)
    for g in range(HP_BANDS):
        seg = bits[:, g * HP_BITS : (g + 1) * HP_BITS]
        keys[:, g] = g * (1 << HP_BITS) + seg @ pows
    return keys.astype(np.int32)


# --- document-scale hash family (word shingles / tokens, md5-based) ---------
# Char bigrams are the right granularity for short entity surfaces but
# degenerate for documents (tiny bigram universe -> everything looks
# similar); document near-dup detection uses 3-word shingles / word
# tokens instead. The token hash is the first/second 8 hex chars of
# md5 — md5 is available and bit-identical in Spark (F.md5 + conv),
# DuckDB (md5 + CAST('0x…')) and Python (hashlib), so the ENTIRE
# MinHash/SimHash pipeline is engine-portable: the DuckDB oracles for
# dedup_minhash_lsh / dedup_simhash reproduce blocking + verify
# bit-for-bit (same pattern as the hyperplane sketch above).
# Permutation products stay < 2^62: a,b < 2^30, token < 2^32 — safe in
# BIGINT for both engines (DuckDB errors on 64-bit overflow).

SHINGLE_K = 3
DOC_PRIME = 2147483647  # 2^31 - 1


def _doc_perm_constants() -> tuple[list[int], list[int]]:
    a, b = [], []
    for i in range(MINHASH_PERMS):
        rng = random.Random(2000 + i)
        a.append(rng.randrange(1, 1 << 30))
        b.append(rng.randrange(0, 1 << 30))
    return a, b


DOC_A, DOC_B = _doc_perm_constants()


def md5_token(s: str, half: int = 0) -> int:
    """32-bit token from md5 hex chars [8*half, 8*half+8)."""
    h = hashlib.md5(s.encode("utf-8")).hexdigest()
    return int(h[8 * half : 8 * half + 8], 16)


def doc_shingles(text: str, k: int = SHINGLE_K) -> list[str]:
    """Distinct k-word shingles of lower(text), split on single
    spaces (empties kept — identical to Spark split / DuckDB
    string_split, so all three engines see the same shingle set).
    Shorter texts collapse to one whole-text shingle."""
    ws = (text or "").lower().split(" ")
    if len(ws) < k:
        return [" ".join(ws)]
    return sorted({" ".join(ws[i : i + k]) for i in range(len(ws) - k + 1)})


def doc_minhash_sig(text: str) -> list[int]:
    """64-perm MinHash of the shingle set (engine-portable twin)."""
    toks = np.array([md5_token(s) for s in doc_shingles(text)],
                    dtype=np.int64)
    a = np.array(DOC_A, dtype=np.int64)
    b = np.array(DOC_B, dtype=np.int64)
    h = (a[:, None] * toks[None, :] + b[:, None]) % DOC_PRIME
    return h.min(axis=1).tolist()


def doc_jaccard(a: str, b: str) -> float:
    sa, sb = set(doc_shingles(a)), set(doc_shingles(b))
    u = len(sa | sb)
    return len(sa & sb) / u if u else 1.0


def doc_simhash(text: str) -> tuple[int, int]:
    """64-bit SimHash over distinct single-space word tokens, returned
    as two unsigned 32-bit halves (lo, hi) — two halves keep every
    value < 2^32, BIGINT-safe in DuckDB where a set bit 63 would
    overflow. Bit source: md5(token) hex chars 0-8 (lo) / 8-16 (hi)."""
    toks = sorted(set((text or "").split(" ")))
    lo_acc = np.zeros(32, dtype=np.int64)
    hi_acc = np.zeros(32, dtype=np.int64)
    for t in toks:
        lo, hi = md5_token(t, 0), md5_token(t, 1)
        for bit in range(32):
            lo_acc[bit] += 1 if (lo >> bit) & 1 else -1
            hi_acc[bit] += 1 if (hi >> bit) & 1 else -1
    sh_lo = sum(1 << b for b in range(32) if lo_acc[b] > 0)
    sh_hi = sum(1 << b for b in range(32) if hi_acc[b] > 0)
    return sh_lo, sh_hi
