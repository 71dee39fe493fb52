"""Acceptance-gate evaluation report (BASELINE.md rows 1-3):

1. Triple-set P/R of the distributed Spark pipeline vs the sequential
   oracle ("the reference", SURVEY §0) — gate >=0.95 — on the t2
   fixture AND the Chinese-script t2_zh fixture (SURVEY A.1: the
   reference contract is per-character Chinese NER; the CJK tier
   proves the per-char path on multi-byte, no-whitespace text).
2. conlleval entity P/R/F1 (per-type + overall) + token accuracy of
   the Spark tagger UDF on each tier's char-BIO eval fixture.
3. Per-table row counts, both engines.

Writes EVAL.md + prints one JSON line per tier; exits non-zero when
any tier fails its P/R gate or its tagger diverges from the oracle's.

Usage: python scripts/eval_report.py [--tiers t2,t2_zh]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def evaluate(spark, tier: str,
             artifact: str = "tagger_v1.npz") -> tuple[dict, list[str]]:
    fixture = os.path.join(REPO, "fixtures", tier)
    if not (os.path.exists(os.path.join(fixture, "meta.json"))
            and os.path.exists(os.path.join(fixture, artifact))):
        # missing artifact file = fixture generated by an older synth
        # (e.g. before the second model slot existed): regenerate —
        # fixtures are seeded and deterministic
        from kgx import synth

        synth.generate(fixture, tier)

    from pyspark.sql import functions as F

    from kgx import oracle
    from kgx.evalkit import conlleval, triple_prf
    from kgx.spark.run import Runner

    ref = oracle.run(fixture, artifact)
    ref_triples = set(ref["triple_set"])

    slot = artifact.replace(".npz", "")
    wh = tempfile.mkdtemp(prefix=f"kgx_eval_{tier}_{slot}_wh_")
    try:
        runner = Runner(spark, fixture, wh, f"eval_{tier}_{slot}",
                        buckets=16, artifact=artifact)
        runner.run()
        ours = {
            (r["subj_id"], r["pred"], r["obj_id"])
            for r in runner.read("edges")
            .select("subj_id", "pred", "obj_id")
            .collect()
        }
        counts = {
            t: runner.io.manifest(t)["rows"]
            for t in ("turns", "mentions", "triples_raw", "links",
                      "edges", "vertices")
        }

        from kgx.spark.udfs import make_tagger_udf
        from kgx.tagcore import TaggerArtifact

        art = TaggerArtifact.load(f"{fixture}/{artifact}")
        tagger = make_tagger_udf(spark, art)
        bio = (
            spark.read.parquet(f"{fixture}/bio_eval.parquet")
            .withColumn("text", F.concat_ws("", "chars"))
            .withColumn("pred_tags", tagger("text"))
            .select("sent_id", "text", "gold_tags", "pred_tags")
            .collect()
        )
        gold = [list(r["gold_tags"]) for r in bio]
        pred = [list(r["pred_tags"]) for r in bio]
        rep = conlleval(gold, pred)

        # the REAL hard gate on the conlleval axis: the distributed
        # tagger's predictions must equal the sequential oracle
        # tagger's, sentence for sentence — F1-vs-gold measures
        # tagging QUALITY (meaningfully < 1.0 on the noisy tier),
        # equality measures pipeline non-divergence.
        from kgx.tagcore import (
            TAGS,
            LexiconMatcher,
            make_emitter,
            viterbi,
        )

        emit = make_emitter(art, LexiconMatcher(art))
        n_diverged = sum(
            list(r["pred_tags"])
            != [TAGS[i] for i in viterbi(emit(r["text"]),
                                         art.transitions)]
            for r in bio
        )
    finally:
        shutil.rmtree(wh, ignore_errors=True)

    prf = triple_prf(ours, ref_triples)
    gate = prf["precision"] >= 0.95 and prf["recall"] >= 0.95

    out = {
        "metric": "triple_prf_vs_oracle",
        "precision": round(prf["precision"], 6),
        "recall": round(prf["recall"], 6),
        "pass": bool(gate),
        "tier": tier,
        "artifact": artifact,
        "n_triples_ours": prf["ours"],
        "n_triples_ref": prf["ref"],
        "conlleval_overall_f1": round(rep["overall"]["f1"], 6),
        "token_accuracy": round(rep["token_accuracy"], 6),
        "tagger_diverged_sentences": n_diverged,
        "rows": counts,
    }

    label = ("Chinese-script (per-char, multi-byte, no-whitespace)"
             if tier.endswith("_zh") else "Latin-script")
    md = [
        f"## Tier `{tier}` — {label} — artifact `{artifact}`"
        + (" (context-cue-weighted second model slot)"
           if artifact != "tagger_v1.npz" else ""),
        "",
        "### Triple-set P/R — distributed pipeline vs reference",
        "",
        "| metric | value | gate |",
        "| --- | --- | --- |",
        f"| precision | {prf['precision']:.4f} | ≥ 0.95 → "
        f"{'PASS' if prf['precision'] >= 0.95 else 'FAIL'} |",
        f"| recall | {prf['recall']:.4f} | ≥ 0.95 → "
        f"{'PASS' if prf['recall'] >= 0.95 else 'FAIL'} |",
        f"| distinct (s,p,o) ours / ref | {prf['ours']} / {prf['ref']} "
        "| — |",
        "",
        "### conlleval — entity tagging on the char-BIO eval set",
        "",
        "| type | precision | recall | F1 | gold | guessed |",
        "| --- | --- | --- | --- | --- | --- |",
    ]
    for et, m in sorted(rep["per_type"].items()):
        md.append(
            f"| {et} | {m['precision']:.4f} | {m['recall']:.4f} |"
            f" {m['f1']:.4f} | {m['gold']} | {m['guessed']} |"
        )
    o = rep["overall"]
    md += [
        f"| **overall** | {o['precision']:.4f} | {o['recall']:.4f} |"
        f" {o['f1']:.4f} | {o['gold']} | {o['guessed']} |",
        "",
        f"Token accuracy: {rep['token_accuracy']:.4f}. "
        f"Spark tagger vs sequential oracle tagger: "
        f"{len(gold) - n_diverged}/{len(gold)} sentences identical "
        f"({'PASS' if n_diverged == 0 else 'FAIL'} — this equality is "
        "the hard gate; F1-vs-gold measures tagging quality).",
        "",
        "### Table row counts (Spark pipeline)",
        "",
        "| table | rows |",
        "| --- | --- |",
    ]
    for t, n in counts.items():
        md.append(f"| {t} | {n} |")
    md.append("")
    return out, md


def failed_gates(outs: list[dict]) -> list[str]:
    """One line per tier whose hard gate failed: triple P/R below the
    bar, or a Spark tagger that diverged from the oracle tagger."""
    return [
        f"{o['tier']}/{o['artifact']}: pass={o['pass']}, "
        f"tagger_diverged_sentences={o['tagger_diverged_sentences']}"
        for o in outs
        if not o["pass"] or o["tagger_diverged_sentences"] > 0
    ]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tiers", default="t2,t2_zh,t2_noisy")
    ap.add_argument("--v2-tiers", default="t2,t2_zh,t2_noisy",
                    help="comma-separated tiers to additionally "
                    "evaluate with the second tagger artifact "
                    "(empty to skip)")
    args = ap.parse_args()
    tiers = args.tiers.split(",")

    from kgx.spark.session import get_spark

    spark = get_spark("kgx-eval", cores=8, shuffle_partitions=16)
    md = [
        "# EVAL — acceptance-gate report",
        "",
        "Deterministic fixtures (FIXTURES.md). \"Reference\" = the "
        "pinned sequential oracle (SURVEY.md §0; `/root/reference` was "
        "empty at survey time). On `t2`/`t2_zh` the gold BIO tags are "
        "synthesized from the same gazetteer the frozen tagger holds, "
        "so F1 ~= 1.0 by construction — those tiers verify the "
        "*pipeline* (distributed tagger, span decode, bookkeeping) "
        "does not diverge from the contract (SURVEY.md Appendix A.3). "
        "The `t2_noisy` tier is the DISCRIMINATIVE one: its gold "
        "carries controlled noise the frozen lexicon tagger cannot "
        "ace — OOV surfaces (recall errors), boundary-extended gold "
        "spans (span errors), and gold-O metalinguistic mention traps "
        "(precision errors) — so conlleval F1 < 1.0 there measures "
        "tagging QUALITY and would catch a graceful regression, while "
        "the Spark-equals-oracle prediction equality (reported per "
        "tier) stays the hard gate. The v2 slot's cue-gated weak-form "
        "path recovers part of the traps, so v2 measurably beats v1 "
        "on t2_noisy precision — the two artifact slots are "
        "behaviorally separated by the eval, not just loaded.",
        "",
        "The v2 slot (context-cue-weighted emissions + weak-form "
        "gating) diverges from v1 only where weak forms exist: the "
        "Latin fixtures carry misspelled surfaces (t2 conlleval-vs-"
        "v1-gold < 1.0 by design), while the Chinese fixture has no "
        "weak forms, so v2's cue path runs end-to-end on t2_zh but "
        "cannot flip any decision there — identical outputs are the "
        "expected result, not a fallback to v1 (the artifact's cue "
        "table is loaded and scored; tests/test_artifact_slots.py).",
        "",
    ]
    outs = []
    try:
        for tier in tiers:
            out, lines = evaluate(spark, tier)
            outs.append(out)
            md.extend(lines)
        # second model slot (SURVEY A.3 / A14-A15): same pipeline, v2
        # artifact plugged in — the P/R gate is pipeline-vs-oracle with
        # BOTH sides running v2; its conlleval vs the gazetteer gold is
        # reported as-is (v2 gates weak forms BY DESIGN, so < 1.0
        # against a v1-gazetteer-derived gold is expected, not a bug)
        for tier in filter(None, args.v2_tiers.split(",")):
            out, lines = evaluate(spark, tier, "tagger_v2.npz")
            outs.append(out)
            md.extend(lines)
    finally:
        spark.stop()

    with open(os.path.join(REPO, "EVAL.md"), "w") as f:
        f.write("\n".join(md))
    for out in outs:
        print(json.dumps(out))
    failed = failed_gates(outs)
    if failed:
        sys.exit("gate failed: " + "; ".join(failed))


if __name__ == "__main__":
    main()
