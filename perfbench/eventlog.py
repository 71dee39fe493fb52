"""Fold a Spark event log into per-layer rows, with stdlib json only.

The benchmark tags every job it causes with `setJobDescription`; each
`SparkListenerStageSubmitted` carries the job properties, so every
Spark stage, and through it every `SparkListenerTaskEnd`, maps to the
description that was current when its job ran. Tasks of stages whose
job had no description are folded under "".

Per description the fold sums, over all tasks:
  task_s           executor run time (JVM wall inside tasks)
  cpu_s            executor CPU time
  python_s         "time to run Python workers" (the Arrow/pickle
                   round trip plus the UDF's own Python time)
  shuffle_bytes    shuffle bytes written
  shuffle_write_s  shuffle write time
  spill_bytes      bytes spilled to disk
  output_bytes     bytes written by output committers
and records `jobs` (jobs started under it) and `skew`: max/median task
run time of its heaviest Spark stage (the one with the most summed run
time), following the DS2 reading of skew per stage.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

PYTHON_RUN = "time to run Python workers"
FIELDS = ("task_s", "cpu_s", "python_s", "shuffle_bytes",
          "shuffle_write_s", "spill_bytes", "output_bytes", "jobs", "skew")


def _desc(props: dict | None) -> str:
    return (props or {}).get("spark.job.description") or ""


def _python_ms(task_info: dict) -> float:
    return sum(float(a.get("Update") or 0)
               for a in task_info.get("Accumulables", ())
               if a.get("Name") == PYTHON_RUN)


def fold_events(lines) -> dict[str, dict]:
    """{description: {field: value}} from event-log JSON lines."""
    stage_desc: dict[int, str] = {}
    rows: dict[str, dict] = {}
    task_ms: dict[int, list[float]] = {}

    def row(desc: str) -> dict:
        return rows.setdefault(desc, {f: 0 for f in FIELDS})

    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            row(_desc(ev.get("Properties")))["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            stage_desc[sid] = _desc(ev.get("Properties"))
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            sid = ev["Stage ID"]
            r = row(stage_desc.get(sid, ""))
            run_ms = float(m.get("Executor Run Time", 0))
            task_ms.setdefault(sid, []).append(run_ms)
            r["task_s"] += run_ms / 1e3
            r["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            r["python_s"] += _python_ms(ev.get("Task Info", {})) / 1e3
            sw = m.get("Shuffle Write Metrics", {})
            r["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
            r["shuffle_write_s"] += sw.get("Shuffle Write Time", 0) / 1e9
            r["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            r["output_bytes"] += m.get("Output Metrics", {}).get(
                "Bytes Written", 0)

    heaviest: dict[str, tuple[float, list[float]]] = {}
    for sid, times in task_ms.items():
        desc = stage_desc.get(sid, "")
        if sum(times) > heaviest.get(desc, (-1.0, []))[0]:
            heaviest[desc] = (sum(times), times)
    for desc, (_, times) in heaviest.items():
        med = statistics.median(times)
        rows[desc]["skew"] = max(times) / med if med > 0 else 1.0
    return rows


def fold_dir(log_dir: str) -> dict[str, dict]:
    """Fold every uncompressed event file under `log_dir` (Spark 4
    writes rolling `eventlog_v2_*/events_*` files)."""
    paths = sorted(
        glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True),
        key=lambda p: (os.path.dirname(p),
                       int(os.path.basename(p).split("_")[1])))
    if not paths:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")

    def lines():
        for p in paths:
            with open(p, encoding="utf-8") as f:
                yield from f

    return fold_events(lines())
