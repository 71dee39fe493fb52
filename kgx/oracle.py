"""Sequential single-process reference pipeline (SURVEY.md §0, §7 step 2).

This module is the operational "reference": a pure Python+numpy,
no-Spark implementation of the behavioral contract (SURVEY.md Appendix
A). The distributed Spark pipeline (kgx.spark) is measured against its
outputs — triple-set P/R >= 0.95 is the acceptance gate (BASELINE.json).

Contract refinements pinned here (both implementations follow them):
  * A.6 speaker_entity(conv) = surface of the FIRST PER mention in the
    conversation by (turn_idx, begin); conversations without a PER
    mention emit no uses_tool triples. uses_tool provenance begins = -1.
  * A.7 linking uses the LATEST alias_dict version per (etype, alias)
    (max dict_ts); similarity pairs are restricted to equal etype.
  * A.8 canonical member ordering prefers dictionary nodes over
    provisional ones: min by (is_prov, etype, norm, node_id). Canonical
    name = dict canonical_name for dict nodes, normalized surface for
    provisional nodes.
  * Tool nodes (etype 'TOOL') appear in vertices with aliases=[tool].
"""

from __future__ import annotations

import re
from collections import defaultdict

import pyarrow.parquet as pq

from kgx.contract import (
    JACCARD_TAU,
    jaccard,
    normalize,
    prov_id,
    tool_id,
)
from kgx.tagcore import (
    TAGS,
    LexiconMatcher,
    TaggerArtifact,
    decode_bio,
    make_emitter,
    viterbi,
)


def _read(path: str) -> list[dict]:
    return pq.read_table(path).to_pylist()


class UnionFind:
    def __init__(self):
        self.parent: dict[str, str] = {}

    def find(self, x: str) -> str:
        p = self.parent.setdefault(x, x)
        while p != self.parent[p]:
            self.parent[p] = self.parent[self.parent[p]]
            p = self.parent[p]
        self.parent[x] = p
        return p

    def union(self, a: str, b: str) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)


def tag_and_extract_mentions(turns: list[dict], artifact: TaggerArtifact):
    """Stage tag: transcripts -> mentions (list of dicts, FIXTURES §5).
    Emission model selected by artifact.kind (make_emitter) — same
    dispatch the Spark UDFs use."""
    matcher = LexiconMatcher(artifact)
    emit = make_emitter(artifact, matcher)
    a = artifact.transitions
    mentions = []
    for t in turns:
        text = t["text"]
        tags = [TAGS[i] for i in viterbi(emit(text), a)]
        for sp in decode_bio(tags, text):
            mentions.append(
                {
                    "conv_id": t["conv_id"],
                    "turn_idx": t["turn_idx"],
                    "begin": sp["begin"],
                    "end": sp["end"],
                    "surface": sp["surface"],
                    "etype": sp["etype"],
                }
            )
    return mentions


def extract_triples(
    turns: list[dict], mentions: list[dict], patterns: list[dict]
) -> list[dict]:
    """Stage extract: A.6 pattern relation extraction + uses_tool."""
    pats = sorted(patterns, key=lambda p: p["pred"])
    rx = {p["pred"]: re.compile(p["regex"]) for p in pats}
    turn_text = {(t["conv_id"], t["turn_idx"]): t["text"] for t in turns}
    turn_ts = {(t["conv_id"], t["turn_idx"]): t["ts"] for t in turns}
    by_turn: dict[tuple, list[dict]] = defaultdict(list)
    for m in mentions:
        by_turn[(m["conv_id"], m["turn_idx"])].append(m)

    triples = []
    for key, ms in by_turn.items():
        ms.sort(key=lambda m: m["begin"])
        text = turn_text[key]
        for m1, m2 in zip(ms, ms[1:]):
            inter = text[m1["end"] : m2["begin"]]
            for p in pats:
                if (
                    m1["etype"] == p["subj_etype"]
                    and m2["etype"] == p["obj_etype"]
                    and rx[p["pred"]].search(inter)
                ):
                    triples.append(
                        {
                            "conv_id": key[0],
                            "turn_idx": key[1],
                            "subj_surface": m1["surface"],
                            "subj_etype": m1["etype"],
                            "pred": p["pred"],
                            "obj_surface": m2["surface"],
                            "obj_etype": m2["etype"],
                            "subj_begin": m1["begin"],
                            "obj_begin": m2["begin"],
                            "ts": turn_ts[key],
                        }
                    )
                    break

    # uses_tool: speaker = first PER mention per conv by (turn_idx, begin)
    speaker: dict[str, dict] = {}
    for m in sorted(mentions, key=lambda m: (m["conv_id"], m["turn_idx"],
                                             m["begin"])):
        if m["etype"] == "PER" and m["conv_id"] not in speaker:
            speaker[m["conv_id"]] = m
    for t in turns:
        if t["role"] == "tool" and t.get("tool") and t["conv_id"] in speaker:
            sp = speaker[t["conv_id"]]
            triples.append(
                {
                    "conv_id": t["conv_id"],
                    "turn_idx": t["turn_idx"],
                    "subj_surface": sp["surface"],
                    "subj_etype": "PER",
                    "pred": "uses_tool",
                    "obj_surface": t["tool"],
                    "obj_etype": "TOOL",
                    "subj_begin": -1,
                    "obj_begin": -1,
                    "ts": t["ts"],
                }
            )
    return triples


def latest_dict(alias_rows: list[dict]) -> dict[tuple, dict]:
    """(etype, alias) -> latest-dict_ts row (A.7 refinement)."""
    best: dict[tuple, dict] = {}
    for r in alias_rows:
        k = (r["etype"], r["alias"])
        if k not in best or r["dict_ts"] > best[k]["dict_ts"]:
            best[k] = r
    return best


def link_and_canonicalize(mentions: list[dict], alias_rows: list[dict]):
    """Stages link + canon: A.7 linking, A.8 connected components.

    Returns (links, entity_map, vertex_info, node_edges) where
    entity_map: node_id -> canonical_id over ALL nodes.
    """
    dic = latest_dict(alias_rows)

    # node rows: (node_id, etype, norm, display, is_prov)
    node_rows: dict[tuple[str, str], dict] = {}
    for (etype, alias), r in dic.items():
        node_rows[(etype, alias)] = {
            "node_id": r["entity_id"],
            "etype": etype,
            "norm": alias,
            "display": r["canonical_name"],
            "is_prov": 0,
        }

    links = []
    ment_node: dict[tuple[str, str], str] = {}  # (etype, norm) -> node_id
    unlinked: set[tuple[str, str]] = set()
    for m in mentions:
        norm = normalize(m["surface"])
        key = (m["etype"], norm)
        if key in dic:
            ment_node[key] = dic[key]["entity_id"]
        else:
            pid = prov_id(m["etype"], norm)
            ment_node[key] = pid
            unlinked.add(key)
            if key not in node_rows:
                node_rows[key] = {
                    "node_id": pid,
                    "etype": m["etype"],
                    "norm": norm,
                    "display": norm,
                    "is_prov": 1,
                }

    # A.7 similarity edges: brute-force all pairs per etype with exact
    # char-bigram Jaccard >= tau, ordered norm_a < norm_b (the Spark
    # stage finds the same pairs with an exact prefix-filtered join,
    # stages.similar_edges).
    by_etype: dict[str, list[str]] = defaultdict(list)
    for etype, norm in sorted(node_rows):
        by_etype[etype].append(norm)
    verified: list[tuple[str, str, float]] = []
    for etype, norms in sorted(by_etype.items()):
        for i, na in enumerate(norms):
            for nb in norms[i + 1:]:
                sim = jaccard(na, nb)
                if sim >= JACCARD_TAU:
                    verified.append((node_rows[(etype, na)]["node_id"],
                                     node_rows[(etype, nb)]["node_id"],
                                     sim))

    # connected components (union-find)
    uf = UnionFind()
    for row in node_rows.values():
        uf.find(row["node_id"])
    for na, nb, _ in verified:
        uf.union(na, nb)

    comp_members: dict[str, list[dict]] = defaultdict(list)
    for row in node_rows.values():
        comp_members[uf.find(row["node_id"])].append(row)

    entity_map: dict[str, str] = {}
    vertex_info: dict[str, dict] = {}
    for members in comp_members.values():
        canon = min(
            members,
            key=lambda r: (r["is_prov"], r["etype"], r["norm"], r["node_id"]),
        )
        cid = canon["node_id"]
        for r in members:
            entity_map[r["node_id"]] = cid
        vertex_info[cid] = {
            "entity_id": cid,
            "canonical_name": canon["display"],
            "etype": canon["etype"],
            "aliases": sorted({r["norm"] for r in members}),
        }

    # links rows (per mention)
    lsh_score: dict[str, float] = defaultdict(float)
    for na, nb, sim in verified:
        lsh_score[na] = max(lsh_score[na], sim)
        lsh_score[nb] = max(lsh_score[nb], sim)
    for m in mentions:
        norm = normalize(m["surface"])
        key = (m["etype"], norm)
        node = ment_node[key]
        if key not in unlinked:
            method, score = "exact", 1.0
        elif node in lsh_score:
            method, score = "lsh", lsh_score[node]
        else:
            method, score = "prov", 0.0
        links.append(
            {
                "conv_id": m["conv_id"],
                "turn_idx": m["turn_idx"],
                "begin": m["begin"],
                "entity_id": node,
                "method": method,
                "score": score,
            }
        )
    return links, entity_map, vertex_info, verified


def materialize(
    triples: list[dict],
    entity_map: dict[str, str],
    vertex_info: dict[str, dict],
    alias_rows: list[dict],
):
    """Stage materialize: canonical edges + vertices (A.8/A.9)."""
    dic = latest_dict(alias_rows)

    def node_of(etype: str, surface: str) -> str:
        norm = normalize(surface)
        key = (etype, norm)
        if key in dic:
            return dic[key]["entity_id"]
        return prov_id(etype, norm)

    edge_agg: dict[tuple, dict] = {}
    for t in triples:
        if t["pred"] == "uses_tool":
            sid = entity_map[node_of("PER", t["subj_surface"])]
            oid = tool_id(t["obj_surface"])
        else:
            sid = entity_map[node_of(t["subj_etype"], t["subj_surface"])]
            oid = entity_map[node_of(t["obj_etype"], t["obj_surface"])]
        k = (sid, t["pred"], oid)
        e = edge_agg.setdefault(
            k,
            {"subj_id": sid, "pred": t["pred"], "obj_id": oid, "weight": 0,
             "first_ts": t["ts"], "last_ts": t["ts"]},
        )
        e["weight"] += 1
        e["first_ts"] = min(e["first_ts"], t["ts"])
        e["last_ts"] = max(e["last_ts"], t["ts"])
    edges = sorted(edge_agg.values(),
                   key=lambda e: (e["subj_id"], e["pred"], e["obj_id"]))

    # vertices: canonical entities + tool nodes; degree from distinct edges
    degree: dict[str, int] = defaultdict(int)
    tool_names: dict[str, str] = {}
    for t in triples:
        if t["pred"] == "uses_tool":
            tool_names[tool_id(t["obj_surface"])] = t["obj_surface"]
    for e in edges:
        degree[e["subj_id"]] += 1
        if e["obj_id"] != e["subj_id"]:
            degree[e["obj_id"]] += 1
    vertices = []
    for cid, v in vertex_info.items():
        vertices.append({**v, "degree": degree.get(cid, 0)})
    for tid, name in tool_names.items():
        vertices.append(
            {"entity_id": tid, "canonical_name": name, "etype": "TOOL",
             "aliases": [name], "degree": degree.get(tid, 0)}
        )
    vertices.sort(key=lambda v: v["entity_id"])
    return edges, vertices


def run(fixture_dir: str, artifact_name: str = "tagger_v1.npz") -> dict:
    """Full sequential pipeline over a fixture dir; returns all tables.
    `artifact_name` selects the tagger checkpoint (v1 lexicon+CRF or
    v2 context-cue-weighted) — the pipeline is model-agnostic."""
    turns = _read(f"{fixture_dir}/transcripts.parquet")
    alias_rows = _read(f"{fixture_dir}/alias_dict.parquet")
    patterns = _read(f"{fixture_dir}/patterns.parquet")
    artifact = TaggerArtifact.load(f"{fixture_dir}/{artifact_name}")

    mentions = tag_and_extract_mentions(turns, artifact)
    triples = extract_triples(turns, mentions, patterns)
    links, entity_map, vertex_info, _ = link_and_canonicalize(
        mentions, alias_rows
    )
    edges, vertices = materialize(triples, entity_map, vertex_info,
                                  alias_rows)
    triple_set = sorted({(e["subj_id"], e["pred"], e["obj_id"])
                         for e in edges})
    return {
        "mentions": mentions,
        "triples_raw": triples,
        "links": links,
        "edges": edges,
        "vertices": vertices,
        "triple_set": triple_set,
    }
