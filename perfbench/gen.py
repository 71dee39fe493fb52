"""Seeded inputs for the benchmark workloads.

The inputs of a workload are a pure function of (workload, seed): the
same seed writes the same tables. They are built from kgx.synth's
public pieces (Entity, render_sentence, build_artifact and the table
writers). synth.generate is not used because it pins its own seed.

    batch_dup   the fixed 120-entity synth gazetteer; turns are drawn
                from a small pool of rendered sentences, so the
                duplication rate (turns / distinct texts) is far above
                Runner's lexicon break-even and auto mode tags
                distinct texts only.
    batch_wide  a seeded gazetteer ten times larger, every turn
                rendered fresh; the rate stays below the break-even,
                so auto mode tags every row.
    stream_arrivals
                a batch_dup-style corpus (fixed gazetteer, texts drawn
                from a pool) cut by conversation into arrival files
                for the streaming path. The first file seeds the
                state; later files repeat only texts the first one
                used, so they add edges but no graph node.

Next to the corpus, `ensure_inputs` writes the sequential oracle's
edges and vertices as digests, which the benchmark compares with every
build.

The oracle emits the full clique of every LSH band bucket, while the
Spark stages star-link buckets larger than `MAX_LSH_BUCKET`; the two
agree only if no bucket is that large. The wide gazetteer is thinned
until its busiest bucket holds at most half the cap, and
`write_inputs` refuses inputs whose oracle nodes exceed the cap, so
on every seed the oracle and the Spark stages see the same LSH
candidate pairs.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import random
import shutil
from collections import Counter

import pyarrow.compute as pc
import pyarrow.parquet as pq

import kgx
from kgx import oracle, synth
from kgx.contract import band_keys, minhash_signature, normalize
from kgx.spark.lsh import MAX_LSH_BUCKET

WORKLOADS = {
    "batch_dup": {"turns": 4000, "pool": 150},
    "batch_wide": {"turns": 8000, "per_type": 400},
    "stream_arrivals": {"turns": 1200, "pool": 600, "files": 2,
                        "compact_every": 2},
}
META = "meta.json"
ARRIVALS = "arrivals"

# consonant-vowel syllables: enough of them that two entities' names
# rarely share most char bigrams, so fuzzy links stay within an entity
# and its misspelling
_SYLLABLES = tuple(c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou")


def _word(rng: random.Random, n: int) -> str:
    return "".join(rng.choice(_SYLLABLES) for _ in range(n)).capitalize()


def _drop_mid_char(form: str) -> str | None:
    """A misspelling close enough to the form to link by char-bigram
    Jaccard (same rule as the synth gazetteer's variants)."""
    if len(form) < 12:
        return None
    pos = len(form) // 2
    while pos < len(form) and form[pos] == " ":
        pos += 1
    if pos >= len(form) - 1:
        return None
    return form[:pos] + form[pos + 1:]


def _band_load(etype: str, surfaces) -> Counter:
    """How many of `surfaces` fall into each (etype, band key) bucket."""
    return Counter((etype, bk) for s in surfaces
                   for bk in band_keys(minhash_signature(normalize(s))))


def _thin_hot_buckets(ents: list[synth.Entity],
                      limit: int) -> list[synth.Entity]:
    """Keep entities in order while none of their surfaces would push
    an LSH band bucket past `limit` (names sharing a "Fort " prefix
    crowd one bucket)."""
    load: Counter = Counter()
    kept = []
    for e in ents:
        add = _band_load(e.etype, (e.canonical, *e.aliases, *e.misspells))
        if all(load[k] + n <= limit for k, n in add.items()):
            load.update(add)
            kept.append(e)
    return kept


def wide_gazetteer(rng: random.Random, per_type: int) -> list[synth.Entity]:
    """About `per_type` PER, LOC and ORG entities with synth-style
    aliases, misspellings and a few hot entities."""
    used: set[str] = set()

    def claim(surface: str) -> bool:
        n = normalize(surface)
        if n in used:
            return False
        used.add(n)
        return True

    makers = {
        "PER": lambda: (f"{_word(rng, 2)} {_word(rng, 3)}", None),
        "LOC": lambda: (None, _word(rng, 3)),
        "ORG": lambda: (None, _word(rng, 3)),
    }
    ents: list[synth.Entity] = []
    for etype, make in makers.items():
        n = 0
        while n < per_type:
            full, name = make()
            if etype == "PER":
                first, last = full.split(" ")
                canonical, aliases = full, [f"{first} {last[0]}."]
            elif etype == "LOC":
                canonical = f"{rng.choice(synth.LOC_PREFIX)} {name}"
                aliases = [name]
            else:
                canonical = f"{name} {rng.choice(synth.ORG_TAIL)}"
                aliases = [name]
            if not claim(canonical):
                continue
            e = synth.Entity(etype, canonical)
            for v in (*aliases, canonical.lower()):
                if claim(v):
                    e.aliases.append(v)
            ents.append(e)
            n += 1
    for e in ents:
        m = _drop_mid_char(e.canonical)
        if m and claim(m):
            e.misspells.append(m)
    ents = _thin_hot_buckets(ents, MAX_LSH_BUCKET // 2)
    for e in rng.sample(ents, max(5, len(ents) // 100)):
        e.hot = True
    return ents


def _transcripts(rng: random.Random, n_turns: int, next_text,
                 rows: dict | None = None) -> dict:
    """Conversation layout of synth.generate_transcripts, cut at
    `n_turns` turns; `next_text()` supplies each turn's text. Appends
    whole conversations to `rows` when given."""
    rows = rows or {k: [] for k in ("conv_id", "turn_idx", "role", "text",
                                    "tool", "ts")}
    c = len(set(rows["conv_id"]))
    n_turns += len(rows["conv_id"])
    while len(rows["conv_id"]) < n_turns:
        n = min(rng.randint(2, 16), n_turns - len(rows["conv_id"]))
        for t in range(n):
            role = "user" if t == 0 else rng.choices(
                ("user", "assistant", "tool"), weights=(45, 45, 10), k=1)[0]
            rows["conv_id"].append(f"c{c:06d}")
            rows["turn_idx"].append(t)
            rows["role"].append(role)
            rows["text"].append(next_text())
            rows["tool"].append(rng.choice(synth.TOOLS)
                                if role == "tool" else None)
            rows["ts"].append(synth.BASE_TS_US + c * 3600_000000
                              + t * 7_000000)
        c += 1
    return rows


def build_corpus(workload: str, seed: int, n_turns: int | None = None):
    """(gazetteer, transcript rows) for a workload and seed."""
    spec = WORKLOADS[workload]
    n_turns = n_turns or spec["turns"]
    rng = random.Random(f"{workload}:{seed}")
    if workload in ("batch_dup", "stream_arrivals"):
        ents = synth.build_gazetteer()
        pool = [synth.render_sentence(rng, ents)[0]
                for _ in range(spec["pool"])]
        # Zipf-like reuse: a few texts are very hot, most are rare
        weights = [1.0 / (i + 1) ** 0.8 for i in range(len(pool))]

        def next_text():
            return rng.choices(pool, weights=weights, k=1)[0]
        if workload == "stream_arrivals":
            files = spec["files"]
            rows = _transcripts(rng, n_turns // files, next_text)
            seen = sorted(set(rows["text"]))
            for i in range(1, files):
                _transcripts(rng, n_turns * (i + 1) // files
                             - n_turns * i // files,
                             lambda: rng.choice(seen), rows)
            return ents, rows
    else:
        ents = wide_gazetteer(rng, spec["per_type"])

        def next_text():
            return synth.render_sentence(rng, ents)[0]
    return ents, _transcripts(rng, n_turns, next_text)


def _write_dims(out: str, ents: list[synth.Entity]) -> None:
    pq.write_table(synth.alias_dict_table(ents),
                   os.path.join(out, "alias_dict.parquet"))
    pq.write_table(synth.patterns_table(),
                   os.path.join(out, "patterns.parquet"))
    synth.build_artifact(ents).save(os.path.join(out, "tagger_v1.npz"))


def _micros(v):
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return (v - datetime.datetime(1970, 1, 1)) // datetime.timedelta(
            microseconds=1)
    return v


EDGE_COLS = ("subj_id", "pred", "obj_id", "weight", "first_ts", "last_ts")
VERTEX_COLS = ("entity_id", "canonical_name", "etype", "aliases", "degree")


def digest(rows, cols) -> str:
    """Order-insensitive digest of rows (dicts) over `cols`; timestamps
    are compared as UTC epoch micros, lists element by element."""
    lines = sorted(
        json.dumps([_micros(r[c]) if not isinstance(r[c], (list, tuple))
                    else list(r[c]) for c in cols])
        for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:24]


ENTITY_COLS = VERTEX_COLS[:4]


def _write_arrivals(out: str, table, files: int) -> None:
    """Cut the corpus by conversation into `files` arrival files of
    equal turn counts (build_corpus ends a conversation at each cut),
    in conversation order."""
    os.makedirs(out)
    convs = table["conv_id"].to_pylist()
    for i in range(files):
        lo, hi = convs[len(convs) * i // files], (
            convs[len(convs) * (i + 1) // files]
            if i + 1 < files else None)
        keep = pc.greater_equal(table["conv_id"], lo)
        if hi is not None:
            keep = pc.and_(keep, pc.less(table["conv_id"], hi))
        pq.write_table(table.filter(keep),
                       os.path.join(out, f"part-{i:03d}.parquet"))


def max_band_bucket(alias_rows: list[dict], mentions: list[dict]) -> int:
    """Largest (etype, band key) bucket over the oracle's link nodes:
    every dictionary alias and every mention surface."""
    keys = set(oracle.latest_dict(alias_rows)) | {
        (m["etype"], normalize(m["surface"])) for m in mentions}
    load: Counter = Counter()
    for etype, norm in keys:
        load.update((etype, bk) for bk in band_keys(minhash_signature(norm)))
    return max(load.values())


def write_inputs(out: str, workload: str, seed: int,
                 n_turns: int | None = None) -> dict:
    """Write the corpus, its arrival files (streaming workloads) and the oracle digests into `out` (created fresh) and
    return the properties recorded in meta.json."""
    spec = WORKLOADS[workload]
    ents, rows = build_corpus(workload, seed, n_turns)
    os.makedirs(out)
    table = synth.transcripts_table(rows)
    pq.write_table(table, os.path.join(out, "transcripts.parquet"))
    _write_dims(out, ents)
    if "files" in spec:
        _write_arrivals(os.path.join(out, ARRIVALS), table, spec["files"])

    gold = oracle.run(out)
    bucket = max_band_bucket(
        pq.read_table(os.path.join(out, "alias_dict.parquet")).to_pylist(),
        gold["mentions"])
    if bucket > MAX_LSH_BUCKET:
        raise ValueError(
            f"{workload} seed {seed}: an LSH band bucket holds {bucket} "
            f"nodes (cap {MAX_LSH_BUCKET}); the oracle's clique and the "
            f"Spark stages' star links would differ")
    entity_vertices = [v for v in gold["vertices"] if v["etype"] != "TOOL"]
    texts = rows["text"]
    meta = {
        "workload": workload,
        "seed": seed,
        "turns": len(texts),
        "convs": len(set(rows["conv_id"])),
        "distinct_texts": len(set(texts)),
        "dup_rate": round(len(texts) / len(set(texts)), 3),
        "entities": len(ents),
        "distinct_surfaces": len({m["surface"] for m in gold["mentions"]}),
        "mentions": len(gold["mentions"]),
        "max_lsh_bucket": bucket,
        "arrival_files": spec.get("files", 0),
        "oracle": {
            "edges": len(gold["edges"]),
            "vertices": len(gold["vertices"]),
            "edges_digest": digest(gold["edges"], EDGE_COLS),
            "vertices_digest": digest(gold["vertices"], VERTEX_COLS),
            "entity_vertices": len(entity_vertices),
            "entity_vertices_digest": digest(entity_vertices, ENTITY_COLS),
        },
    }
    with open(os.path.join(out, META), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    return meta


def code_key() -> str:
    """Hash of the sources that shape the inputs and their oracle
    answers: every kgx module and this generator. Inputs are cached
    under it, so a checkout of other code never reuses them."""
    pkg = os.path.dirname(os.path.abspath(kgx.__file__))
    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(pkg)
                   for f in fs if f.endswith(".py"))
    h = hashlib.sha256()
    for p in [*files, os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, os.path.dirname(pkg)).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def ensure_inputs(cache: str, workload: str, seed: int) -> tuple[str, dict]:
    """Inputs for (workload, seed) under `cache`/<code key>, generated
    once. They are written aside and renamed into place, so a run
    killed while generating leaves no partial inputs behind."""
    out = os.path.join(cache, code_key(), f"{workload}-s{seed}")
    meta_path = os.path.join(out, META)
    if not os.path.exists(meta_path):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.dirname(out), exist_ok=True)
        write_inputs(tmp, workload, seed)
        os.replace(tmp, out)
    with open(meta_path) as f:
        return out, json.load(f)
