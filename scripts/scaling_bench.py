"""Two-cluster-size scaling evidence (north_rule: throughput scaling
efficiency >= 0.8 between N and 4N executors).

No real cluster exists in this sandbox (driver instruction), so the
same job — the full checkpointed KG pipeline on the identical bench
fixture — runs at two parallelism levels, local[8] (N) and local[32]
(4N), each in a fresh SparkSession with shuffle partitions matched to
cores. Outputs are asserted identical via the partitioning-invariant
per-table content hashes from the table manifests. Efficiency =
(T_N / T_4N) / 4. The runner's duplication probe picks the tag path,
as in any product run.

Writes BENCH/scaling_{N}v{4N}.json (+ canonical scaling.json and a
generated report for the primary 1,4 pair); prints one JSON line and
exits non-zero when the output hashes differ across levels.

Usage: python scripts/scaling_bench.py [--tier bench] [--repeat 1]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def count_turns(fixture: str) -> int:
    """Row count from parquet footers (no Spark needed)."""
    import pyarrow.parquet as pq

    root = os.path.join(fixture, "transcripts.parquet")
    if os.path.isfile(root):
        return pq.ParquetFile(root).metadata.num_rows
    total = 0
    for dp, _, fns in os.walk(root):
        for fn in fns:
            if fn.endswith(".parquet"):
                total += pq.ParquetFile(
                    os.path.join(dp, fn)).metadata.num_rows
    return total


def run_level(cores: int, fixture: str, buckets: int) -> dict:
    """One parallelism level = one fresh subprocess pinned (taskset) to
    exactly `cores` CPUs. Without pinning, a local[8] session's Python
    UDF workers spill onto the machine's idle cores and the 'N-core
    cluster' silently uses 2N — understating true scaling."""
    import subprocess

    n_turns = count_turns(fixture)
    # warehouse + shuffle dirs on tmpfs: a single VM's disk bandwidth
    # does not grow with the core count, but a real cluster's aggregate
    # IO grows with the executor count — tmpfs isolates the
    # compute/shuffle scaling the two-cluster-size criterion is about
    ramdir = "/dev/shm" if os.path.isdir("/dev/shm") else None
    wh = tempfile.mkdtemp(prefix=f"kgx_scale_{cores}_", dir=ramdir)
    local_dir = tempfile.mkdtemp(prefix=f"kgx_spill_{cores}_",
                                 dir=ramdir)
    env = dict(os.environ, SPARK_LOCAL_DIRS=local_dir)
    cmd = [
        "taskset", "-c", f"0-{cores - 1}",
        sys.executable, "-m", "kgx.spark.run",
        "--input", fixture, "--out", wh,
        "--run-id", f"scale{cores}",
        "--buckets", str(buckets), "--cores", str(cores),
    ]
    try:
        t0 = time.time()
        proc = subprocess.run(
            cmd, cwd=REPO, capture_output=True, text=True, check=True,
            env=env)
        wall = time.time() - t0
        report = json.loads(proc.stdout.strip().splitlines()[-1])
        hashes = {}
        for tbl in ("mentions", "triples_raw", "edges", "vertices"):
            with open(os.path.join(wh, f"{tbl}.manifest.json")) as f:
                hashes[tbl] = json.load(f)["content_hash"]
        # one event per table (the auto-mode dup-rate probe is
        # `tag_probe`, the CC loop `cc_loop`)
        stage_walls = {e["table"]: e["wall_s"] for e in report["stages"]
                       if not e.get("skipped")}
        job_wall = report["wall_s"]
    finally:
        shutil.rmtree(wh, ignore_errors=True)
        shutil.rmtree(local_dir, ignore_errors=True)
    return {
        "cores": cores,
        "wall_s": job_wall,
        "proc_wall_s": round(wall, 2),
        "n_turns": n_turns,
        "turns_per_sec": round(n_turns / job_wall, 1),
        "hashes": hashes,
        "stage_walls": stage_walls,
    }


def replicate_fixture(base: str, factor: int) -> str:
    """Deterministic Spark-side fan-out of the transcripts table:
    each conv is cloned `factor` times under distinct conv_ids (text
    unchanged). This is how a 10^12-turn input would be synthesized
    too — generation itself must be distributed at that scale."""
    out = f"{base}_x{factor}"
    marker = os.path.join(out, "meta.json")
    if os.path.exists(marker):
        return out
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from kgx.spark.session import get_spark

    existing = SparkSession.getActiveSession()
    spark = existing or get_spark("kgx-replicate", cores=32)
    t = spark.read.parquet(os.path.join(base, "transcripts.parquet"))
    reps = spark.range(factor).select(
        F.col("id").cast("int").alias("rep"))
    big = (
        t.crossJoin(reps)
        .withColumn(
            "conv_id", F.concat_ws("_", "conv_id", F.col("rep")))
        .drop("rep")
        .repartition(64, "conv_id")
    )
    os.makedirs(out, exist_ok=True)
    big.write.mode("overwrite").parquet(
        os.path.join(out, "transcripts.parquet"))
    for f in ("alias_dict.parquet", "patterns.parquet", "tagger_v1.npz"):
        src = os.path.join(base, f)
        dst = os.path.join(out, f)
        if os.path.isdir(src):
            shutil.copytree(src, dst, dirs_exist_ok=True)
        else:
            shutil.copy2(src, dst)
    if existing is None:
        spark.stop()
    with open(marker, "w") as f:
        json.dump({"base": base, "factor": factor}, f)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tier", default="bench")
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("--replicate", type=int, default=1,
                    help="clone each conv N times (bigger identical input)")
    ap.add_argument("--levels", default="8,32",
                    help="comma-separated core counts for N and 4N")
    args = ap.parse_args()

    fixture = os.path.join(REPO, "fixtures", args.tier)
    if not os.path.exists(os.path.join(fixture, "meta.json")):
        from kgx import synth

        synth.generate(fixture, args.tier)
    if args.replicate > 1:
        fixture = replicate_fixture(fixture, args.replicate)
        args.tier = f"{args.tier}_x{args.replicate}"

    # buckets fixed across levels: partitioning identical, only the
    # executor-thread count differs (the two-cluster-size analogue)
    buckets = 256
    lv = [int(x) for x in args.levels.split(",")]
    assert len(lv) == 2 and lv[1] == 4 * lv[0], "need N,4N"
    levels = {}
    for cores in lv:
        best = None
        for _ in range(args.repeat):
            r = run_level(cores, fixture, buckets)
            if best is None or r["wall_s"] < best["wall_s"]:
                best = r
        levels[cores] = best

    h8, h32 = levels[lv[0]]["hashes"], levels[lv[1]]["hashes"]
    identical = h8 == h32
    eff = (levels[lv[0]]["wall_s"] / levels[lv[1]]["wall_s"]) / 4
    out = {
        "metric": "scaling_efficiency_N_vs_4N",
        "value": round(eff, 3),
        "unit": "ratio",
        "pass": bool(identical and eff >= 0.8),
        "outputs_identical": identical,
        "levels": levels,
        "tier": args.tier,
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    # pair-specific record always; the canonical scaling.json and the
    # generated report only for the primary (1,4) pair — the pair
    # where both legs are compute-bound, i.e. the closest single-VM
    # analogue of adding executors (see BENCH/BASELINE.md) — so a
    # secondary-pair run cannot clobber the headline report
    with open(os.path.join(
            REPO, "BENCH", f"scaling_{lv[0]}v{lv[1]}.json"), "w") as f:
        json.dump(out, f, indent=2)
    primary = lv == [1, 4]
    if primary:
        with open(os.path.join(REPO, "BENCH", "scaling.json"), "w") as f:
            json.dump(out, f, indent=2)

    md = [
        "# BENCH — throughput & two-cluster-size scaling evidence",
        "",
        "Same job (full checkpointed KG pipeline: ingest → tag → extract",
        "→ link → canon → materialize, incl. per-partition lineage",
        f"metrics) on the identical `{args.tier}` fixture",
        f"({levels[lv[0]]['n_turns']} turns), fresh SparkSession per level,",
        "shuffle partitions = cores, bucket partitioning fixed at"
        f" {buckets} so only executor-thread count varies.",
        "",
        "| level | cores | wall (s) | turns/sec |",
        "| --- | --- | --- | --- |",
        f"| N | {lv[0]} | {levels[lv[0]]['wall_s']} |"
        f" {levels[lv[0]]['turns_per_sec']} |",
        f"| 4N | {lv[1]} | {levels[lv[1]]['wall_s']} |"
        f" {levels[lv[1]]['turns_per_sec']} |",
        "",
        f"**Scaling efficiency (T_N / T_4N) / 4 = {eff:.3f}**"
        f" (gate: ≥ 0.8 → {'PASS' if eff >= 0.8 else 'FAIL'})",
        "",
        "Outputs identical across levels (partitioning-invariant",
        "content hashes over mentions/triples_raw/edges/vertices): "
        + ("**yes**" if identical else "**NO — MISMATCH**"),
        "",
        "Per-table hashes:",
        "",
        f"| table | local[{lv[0]}] | local[{lv[1]}] |",
        "| --- | --- | --- |",
    ]
    for tbl in sorted(h8):
        md.append(f"| {tbl} | {h8[tbl]} | {h32[tbl]} |")
    md += [
        "",
        "Per-stage walls (seconds, includes parquet write + read-back +",
        "lineage pass):",
        "",
        f"| table | local[{lv[0]}] | local[{lv[1]}] |",
        "| --- | --- | --- |",
    ]
    for tbl in levels[lv[0]]["stage_walls"]:
        md.append(
            f"| {tbl} | {levels[lv[0]]['stage_walls'][tbl]} |"
            f" {levels[lv[1]]['stage_walls'].get(tbl)} |"
        )
    md.append("")
    if primary:
        with open(os.path.join(REPO, "BENCH", "BASELINE.generated.md"),
                  "w") as f:
            f.write("\n".join(md))
    print(json.dumps(out))
    if not identical:
        sys.exit("gate failed: output content hashes differ across levels")


if __name__ == "__main__":
    main()
