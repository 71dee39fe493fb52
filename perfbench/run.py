#!/usr/bin/env python3
"""kgx benchmark: one seeded workload per process, on local[nproc].

    python3 perfbench/run.py --workload batch_dup --seed 1 --seconds 10 \
        --trace 0

Paths are resolved from this file, so any working directory works.
Inputs are generated from --seed into `.perfbench_work/inputs/` once
per (kgx sources, workload, seed), outside any timing
(perfbench/gen.py). A build of the knowledge graph is
     batch_dup, batch_wide  `Runner.run()`;
     stream_arrivals        the drain of every arrival file through
                            `streaming.stream_transcripts` (one file per
                            trigger) and `foreachBatch` of
                            `incremental_canon_updater`, each micro-batch
                            starting when the previous one committed;
each on a fresh warehouse. A run then

1. sets up once and reports its wall as `setup_s`: start the
   SparkSession (launching the JVM), load the dictionary, patterns and
   tagger artifact, and make one full build as the warm-up: on the
   cold JVM it spawns the Python UDF workers, loads classes and
   JIT-compiles. Every spark-submit of the pipeline pays this once;
   repeating it inside one process would time a warm JVM instead, so
   it is not repeated, and its median is taken across runs;
2. builds once more, on the warm JVM, and reports that wall as
   `kg_build_s`. On a shared 4-vCPU VM a cold build's wall spread
   half as much again as a warm one's over ten runs (IQR/median 0.21
   vs 0.13), the JIT's timing adding to the host's, so the end-to-end
   build time is a warm one. A warm build already outlasts the
   --seconds window, so --seconds is accepted and not acted on.
   batch_wide runs the same way but is not listed in BENCHMARK.json:
   a third workload does not fit the time budget of the benchmark's
   runs. The RSS of the whole process tree (driver JVM and Python
   workers) is sampled meanwhile;
3. reads the timed build's graph back to the driver (`edges` through
   `TableIO.read`, or the `canonical_edges` view when streaming);
4. checks both builds: the timed one's edges and entity vertices must
   equal the sequential oracle's (digests stored with the inputs), and
   its per-table fingerprints (content hashes of a batch build, row
   counts of the streaming state) must equal the warm-up's;
5. prints one info line (workload properties, environment, walls) and,
   as the last line, the result object. The exit code is 0 only if
   every check passed.

With --trace 0 the result carries the end-to-end metrics. With
--trace 1 the session writes Spark's event log, every stage call or
micro-batch is tagged with `setJobDescription` and recorded as a span
(workload -> set-up/build -> stage or batch), `TableIO.append` and
`TableIO.compact` are counted and timed, and the result carries the
per-layer metrics of the timed build folded from the log
(perfbench/eventlog.py). The traced run reads the graph back at least
VIEW_READS times and for at least VIEW_READ_WINDOW_S and reports the
median read as `io.view_read_s`.
Metrics of a layer a workload does not use are 0 (the Runner stages
when streaming, `streaming.*` on batch builds). The stage walls plus
`run.unattributed_s` add up to `trace.kg_build_s`; its difference from
an untraced run's `kg_build_s` is the tracing overhead. Spans go to
`.perfbench_work/traces/`.

Which end-to-end metric each layer metric should move:
  udfs.tag.python_s -> kg_build_s on batch_wide (little on batch_dup,
      which tags few distinct texts)
  udfs.link.python_s, udfs.materialize.python_s,
  stages.tag.shuffle_bytes -> kg_build_s on batch_dup
  run.link_s, run.canon_s, canon.cc_loop_s, stages.canon.skew ->
      kg_build_s on batch_wide (node count is bounded by vocabulary
      on batch_dup)
  run.ingest_s, io.ingest.output_bytes, run.unattributed_s ->
      kg_build_s on both batch workloads
  stages.<s>.jobs -> kg_build_s on both (per-job cost dominates
      builds of this size)
  streaming.batch_p50_s, streaming.jobs_per_batch, io.append_s,
  io.compact_s -> kg_build_s on stream_arrivals
  io.segments_max, io.state_bytes -> io.view_read_s on
      stream_arrivals (fewer compactions make batches cheaper and the
      read slower)
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
STAGES = ("ingest", "tag", "extract", "link", "canon", "materialize")
DRIVER_MEM = "2g"
# The driver JVM is also the executor. With the JVM's default G1
# collector and JIT thread count its background threads take about a
# fifth of a build's CPU time on 4 vCPUs; the serial collector and two
# JIT threads leave the cores to the tasks and the Python workers.
JVM_OPTS = "-XX:+UseSerialGC -XX:CICompilerCount=2"
PAGE = os.sysconf("SC_PAGE_SIZE")
# traced read-back: at least this many reads and this long, so that
# the median of a fast read (batch edges) is not one scheduler hiccup
VIEW_READS = 3
VIEW_READ_WINDOW_S = 3.0
STREAMING = "stream_arrivals"
UNTRACED = "perfbench:untraced"

END_TO_END = {"setup_s": "s", "kg_build_s": "s", "turns_per_s": "1/s"}
_STAGE_UNITS = {"task_s": "s", "cpu_s": "s", "jvm_s": "s",
                "shuffle_write_s": "s", "shuffle_bytes": "B",
                "spill_bytes": "B", "skew": "ratio", "jobs": "count"}
_STREAM_UNITS = {
    "streaming.batches": "count", "streaming.batch_p50_s": "s",
    "streaming.batches_changed": "count",
    "streaming.batches_nochange": "count",
    "streaming.jobs_per_batch": "count", "streaming.task_s": "s",
    "streaming.python_s": "s",
    "io.append_calls": "count", "io.append_s": "s",
    "io.compact_calls": "count", "io.compact_s": "s",
    "io.segments_max": "count", "io.state_bytes": "B",
    "io.view_read_s": "s",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit."""
    units = {"trace.kg_build_s": "s", "proc.peak_rss_mb": "MB",
             "run.unattributed_s": "s",
             "run.tag.dup_rate": "ratio", "run.tag.distinct": "count",
             "lsh.nodes_rows": "count",
             "lsh.edges_rows": "count", "canon.cc_loop_s": "s"}
    for s in STAGES:
        units[f"run.{s}_s"] = "s"
        units[f"udfs.{s}.python_s"] = "s"
        units[f"io.{s}.output_bytes"] = "B"
        for k, u in _STAGE_UNITS.items():
            units[f"stages.{s}.{k}"] = u
    units.update(_STREAM_UNITS)
    return units


class TreeRss:
    """Samples the summed RSS of this process and all its descendants
    (the driver JVM and the Python workers it forks) on a thread."""

    INTERVAL_S = 0.5

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(
                _rss(p) for p in descendants(os.getpid(), True)))
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except (OSError, ValueError, IndexError):
        return 0


def descendants(pid: int, include_self: bool = False) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, stack = [], [pid]
    while stack:
        p = stack.pop()
        if p != pid or include_self:
            out.append(p)
        stack.extend(children.get(p, ()))
    return out


class Spans:
    """In-memory spans (name, start, end, parent), written at the end."""

    def __init__(self):
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans),
               "parent": self._open[-1] if self._open else None,
               "name": name, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()

    def children(self, parent: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == parent["id"]]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class CallTimer:
    """Counts and times calls of the named methods of `cls`, patched in
    place for the rest of the process."""

    def __init__(self, cls, names):
        self.names = tuple(names)
        self.reset()
        for name in names:
            setattr(cls, name, self._timed(name, getattr(cls, name)))

    def reset(self) -> None:
        self.calls = dict.fromkeys(self.names, 0)
        self.secs = dict.fromkeys(self.names, 0.0)

    def _timed(self, name, method):
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return method(*args, **kwargs)
            finally:
                self.calls[name] += 1
                self.secs[name] += time.perf_counter() - t0
        return timed


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def set_env(scratch: str) -> dict:
    """Process environment for Spark: kgx importable by the Python
    workers, scratch space under `scratch`, inside the checkout."""
    tmp = fresh_dir(os.path.join(scratch, "tmp"))
    local = fresh_dir(os.path.join(scratch, "spark-local"))
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["KGX_DRIVER_MEM"] = DRIVER_MEM
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} {JVM_OPTS}",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(scratch, "spark-warehouse"),
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for the JVM and every
    Python worker it forked to exit."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while time.time() < deadline and any(
            os.path.exists(f"/proc/{p}") for p in procs):
        time.sleep(0.1)
    for p in procs:
        with contextlib.suppress(OSError):
            os.kill(p, 9)


def set_up(conf: dict, inputs: str, nproc: int):
    """Session, dims and tagger UDF."""
    from kgx.spark.run import load_dims
    from kgx.spark.session import get_spark
    from kgx.spark.udfs import make_tagger_spans_udf

    spark = get_spark("perfbench", cores=nproc, extra=conf)
    spark.sparkContext.setJobDescription("perfbench:setup")
    dims = load_dims(spark, inputs)
    dims["udf"] = make_tagger_spans_udf(spark, dims["artifact"])
    return spark, dims


def instrument(runner, spark, spans: Spans) -> None:
    """Wrap the runner's stage calls: span + job description each."""
    sc = spark.sparkContext

    def wrap(stage, call):
        def staged():
            sc.setJobDescription(f"perfbench:{stage}")
            try:
                with spans.span(f"stage:{stage}"):
                    call()
            finally:
                sc.setJobDescription("perfbench:rest")
        return staged

    for s in STAGES:
        setattr(runner, f"stage_{s}", wrap(s, getattr(runner, f"stage_{s}")))


def build_batch(spark, inputs: str, wh: str, nproc: int, spans: Spans,
                name: str, trace: bool) -> dict:
    """One `Runner.run()` in span `name`; returns its wall, events and
    stage walls (traced only)."""
    from kgx.spark.run import Runner

    runner = Runner(spark, inputs, wh, "bench", buckets=nproc)
    if trace:
        instrument(runner, spark, spans)
    with spans.span(name) as sp:
        t0 = time.perf_counter()
        events = runner.run()
        wall = time.perf_counter() - t0
    return {"wall": wall, "events": events, "io": runner.io,
            "stage_walls": {s["name"].split(":", 1)[1]:
                            s["end"] - s["start"]
                            for s in spans.children(sp)}}


def drain_stream(spark, inputs: str, wh: str, dims: dict, spans: Spans,
                 name: str, trace: bool, checkpoint: str,
                 compact_every: int) -> dict:
    """Drain every arrival file, one per micro-batch, compacting the
    logs every `compact_every` batches, in span `name`; returns the
    drain wall and each batch's wall and whether it added nodes. The
    jobs of a traced drain are tagged with their batch."""
    import gen

    from kgx.spark import streaming
    from kgx.spark.io import TableIO

    sc = spark.sparkContext
    io = TableIO(wh)
    update = streaming.incremental_canon_updater(
        spark, wh, dims["dict_df"], dims["udf"],
        patterns_rows=dims["patterns_rows"], compact_every=compact_every)
    batches: list[dict] = []

    def node_rows() -> int:
        return (io.manifest("nodes") or {}).get("rows", 0)

    def timed(turns_batch, batch_id: int) -> None:
        sc.setJobDescription(f"perfbench:batch:{batch_id}" if trace
                             else UNTRACED)
        before = node_rows()
        with spans.span(f"batch:{batch_id}") as sp:
            update(turns_batch, batch_id)
        batches.append({"id": batch_id, "wall": sp["end"] - sp["start"],
                        "changed": node_rows() != before})

    turns = streaming.stream_transcripts(
        spark, os.path.join(inputs, gen.ARRIVALS), max_files_per_trigger=1)
    with spans.span(name):
        t0 = time.perf_counter()
        q = (turns.writeStream.foreachBatch(timed)
             .option("checkpointLocation", fresh_dir(checkpoint))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        wall = time.perf_counter() - t0
    return {"wall": wall, "batches": batches, "io": io}


def read_graph(spark, build: dict, dims: dict, spans: Spans,
               streaming: bool, repeat: bool):
    """Forced reads of the built graph's edges: one, or with `repeat`
    at least VIEW_READS over at least VIEW_READ_WINDOW_S; returns their
    walls and the last read as a pyarrow table."""
    from kgx.spark.streaming import canonical_edges

    walls: list[float] = []
    while not walls or repeat and (len(walls) < VIEW_READS
                                   or sum(walls) < VIEW_READ_WINDOW_S):
        with spans.span(f"read:{len(walls)}"):
            t0 = time.perf_counter()
            if not streaming:
                df = build["io"].read(spark, "edges")
            else:
                df = canonical_edges(spark, build["io"].warehouse,
                                     dims["dict_df"])
            table = df.toArrow()
            walls.append(time.perf_counter() - t0)
    return walls, table


def check_build(spark, build: dict, edges, meta: dict,
                streaming: bool) -> list[str]:
    """Oracle equality of the edges (`edges`, read back) and the
    entity vertices of one build."""
    import gen

    want = meta["oracle"]
    if streaming:
        vertices = build["io"].read(spark, "cc_vertices").toArrow()
        pairs = (("edges", edges, gen.EDGE_COLS),
                 ("entity_vertices", vertices, gen.ENTITY_COLS))
    else:
        vertices = build["io"].read(spark, "vertices").toArrow()
        pairs = (("edges", edges, gen.EDGE_COLS),
                 ("vertices", vertices, gen.VERTEX_COLS))
    problems = []
    for name, table, cols in pairs:
        got = gen.digest(table.select(list(cols)).to_pylist(), cols)
        if got != want[f"{name}_digest"]:
            problems.append(f"{name} differ from the oracle: "
                            f"{table.num_rows} rows vs {want[name]}, "
                            f"digest {got} vs {want[name + '_digest']}")
    return problems


def fingerprints(build: dict, streaming: bool) -> dict:
    """Per-table fingerprints of a build, read without a Spark job: the
    content hash of every table a batch build wrote (`Runner.events`),
    the row count of every streaming state table (its manifest)."""
    if streaming:
        from kgx.spark.streaming import CANON_TABLES

        return {t: (build["io"].manifest(t) or {}).get("rows")
                for t in CANON_TABLES}
    return {e["table"]: e["content_hash"] for e in build["events"]
            if e.get("content_hash") and not e.get("skipped")}


def check_same(first: dict, other: dict) -> list[str]:
    """Two builds of the same inputs must have equal fingerprints."""
    return [f"{t}: {other.get(t)} vs the warm-up's {first.get(t)}"
            for t in sorted(set(first) | set(other))
            if other.get(t) != first.get(t)]


def batch_layers(m: dict, build: dict, folded: dict) -> None:
    """Runner stage metrics of one traced batch build, into `m`."""
    events, walls = build["events"], build["stage_walls"]
    m["run.unattributed_s"] = build["wall"] - sum(walls.values())
    for s in STAGES:
        get = folded.get(f"perfbench:{s}", {}).get
        m[f"run.{s}_s"] = walls[s]
        m[f"udfs.{s}.python_s"] = get("python_s", 0.0)
        m[f"io.{s}.output_bytes"] = get("output_bytes", 0)
        m[f"stages.{s}.task_s"] = get("task_s", 0.0)
        m[f"stages.{s}.cpu_s"] = get("cpu_s", 0.0)
        m[f"stages.{s}.shuffle_write_s"] = get("shuffle_write_s", 0.0)
        m[f"stages.{s}.jvm_s"] = max(
            0.0, get("task_s", 0.0) - get("python_s", 0.0)
            - get("shuffle_write_s", 0.0))
        m[f"stages.{s}.shuffle_bytes"] = get("shuffle_bytes", 0)
        m[f"stages.{s}.spill_bytes"] = get("spill_bytes", 0)
        m[f"stages.{s}.skew"] = get("skew", 1.0)
        m[f"stages.{s}.jobs"] = get("jobs", 0)
    probe = next(e for e in events if e.get("probe") == "dup_rate")
    m["run.tag.dup_rate"] = probe["dup_rate"]
    m["run.tag.distinct"] = round(probe["rows"] / probe["dup_rate"])
    rows = {e["table"]: e for e in events if not e.get("probe")}
    m["lsh.nodes_rows"] = rows["nodes"]["rows"]
    m["lsh.edges_rows"] = rows["lsh_edges"]["rows"]
    m["canon.cc_loop_s"] = rows["cc_loop"]["wall_s"]


def stream_layers(m: dict, build: dict, folded: dict) -> None:
    """Micro-batch metrics of one traced drain, into `m`."""
    batches = build["batches"]
    rows = [r for d, r in folded.items()
            if d.startswith("perfbench:batch:")]
    m["streaming.batches"] = len(batches)
    m["streaming.batch_p50_s"] = statistics.median(
        b["wall"] for b in batches)
    m["streaming.batches_changed"] = sum(b["changed"] for b in batches)
    m["streaming.batches_nochange"] = sum(
        not b["changed"] for b in batches)
    m["streaming.jobs_per_batch"] = sum(r["jobs"] for r in rows) / len(
        batches)
    m["streaming.task_s"] = sum(r["task_s"] for r in rows)
    m["streaming.python_s"] = sum(r["python_s"] for r in rows)


def layer_metrics(build: dict, folded: dict, calls: CallTimer,
                  reads: list[float], peak_rss_mb: float,
                  streaming: bool) -> dict[str, float]:
    """Per-layer values of one traced build; layers the workload does
    not use stay 0."""
    from kgx.spark.streaming import CANON_TABLES

    m = dict.fromkeys(per_layer_units(), 0)
    m["trace.kg_build_s"] = build["wall"]
    m["proc.peak_rss_mb"] = peak_rss_mb
    (stream_layers if streaming else batch_layers)(m, build, folded)
    io = build["io"]
    m["io.append_calls"] = calls.calls["append"]
    m["io.append_s"] = calls.secs["append"]
    m["io.compact_calls"] = calls.calls["compact"]
    m["io.compact_s"] = calls.secs["compact"]
    m["io.segments_max"] = max(
        len((io.manifest(t) or {}).get("segments", ())) for t in CANON_TABLES)
    m["io.state_bytes"] = dir_bytes(io.warehouse)
    m["io.view_read_s"] = statistics.median(reads)
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "kgx", "spark", "run.py")):
        print(f"perfbench: no kgx package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import gen

    if args.workload not in gen.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: "
              f"{', '.join(gen.WORKLOADS)}", file=sys.stderr)
        return 2

    scratch = fresh_dir(os.path.join(WORK, "run"))
    try:
        info, result = run_workload(args, gen, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps({"perfbench": info}))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


def run_workload(args, gen, scratch: str) -> tuple[dict, dict]:
    """Set up (warm-up build included), build once more, read the
    graph back and check both builds; returns the info record and the
    result object."""
    nproc = len(os.sched_getaffinity(0))
    streaming = args.workload == STREAMING
    inputs, meta = gen.ensure_inputs(os.path.join(WORK, "inputs"),
                                     args.workload, args.seed)
    conf = set_env(scratch)
    log_dir = os.path.join(scratch, "eventlog")
    if args.trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + fresh_dir(log_dir),
                     "spark.eventLog.compress": "false"})
    tag = f"{args.workload}-s{args.seed}"
    spans = Spans()

    import pyspark

    from kgx.spark.io import TableIO

    calls = CallTimer(TableIO, ("append", "compact")) if args.trace else None
    problems, build, reads, spark = [], None, [], None

    def build_graph(name: str, traced: bool) -> dict:
        wh = fresh_dir(os.path.join(scratch, name, "wh"))
        if streaming:
            return drain_stream(
                spark, inputs, wh, dims, spans, name, traced,
                os.path.join(scratch, name, "checkpoint"),
                gen.WORKLOADS[STREAMING]["compact_every"])
        return build_batch(spark, inputs, wh, nproc, spans, name, traced)

    try:
        with spans.span(f"workload:{tag}"):
            with spans.span("setup"):
                t0 = time.perf_counter()
                spark, dims = set_up(conf, inputs, nproc)
                sc = spark.sparkContext
                sc.setJobDescription(UNTRACED)
                warmup = build_graph("warmup", False)
                setup_s = time.perf_counter() - t0

            try:
                # only the timed build is traced: its job descriptions,
                # spans and TableIO calls are the per-layer metrics
                if calls is not None:
                    calls.reset()
                sc.setJobDescription("perfbench:rest" if args.trace
                                     else UNTRACED)
                with TreeRss() as rss:
                    build = build_graph("build", bool(args.trace))
                sc.setJobDescription(UNTRACED)
                reads, edges = read_graph(spark, build, dims, spans,
                                          streaming, bool(args.trace))
                problems += check_build(spark, build, edges, meta,
                                        streaming)
                problems += check_same(fingerprints(warmup, streaming),
                                       fingerprints(build, streaming))
            except Exception:  # noqa: BLE001 — counted as failed
                traceback.print_exc()
                problems.append("the build or its read-back raised")
            app_id = spark.sparkContext.applicationId
    finally:
        if spark is not None:
            stop_spark(spark)
    if build is None or not reads:
        raise RuntimeError("; ".join(problems) or "no build completed")

    if args.trace:
        import eventlog

        folded = eventlog.fold_dir(os.path.join(
            log_dir, f"eventlog_v2_{app_id}"))
        values = layer_metrics(build, folded, calls, reads,
                               rss.peak / 2**20, streaming)
        units = per_layer_units()
        traces = os.path.join(WORK, "traces")
        os.makedirs(traces, exist_ok=True)
        spans.write(os.path.join(traces, f"{tag}.spans.json"))
        with open(os.path.join(traces, f"{tag}.layers.json"), "w") as f:
            json.dump(folded, f, indent=1, sort_keys=True)
    else:
        values = {"setup_s": setup_s, "kg_build_s": build["wall"],
                  "turns_per_s": meta["turns"] / build["wall"]}
        units = END_TO_END

    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "inputs": {k: v for k, v in meta.items() if k != "oracle"},
        "env": {"nproc": nproc, "master": f"local[{nproc}]",
                "spark": pyspark.__version__,
                "python": platform.python_version(),
                "driver_memory": DRIVER_MEM, "jvm_opts": JVM_OPTS},
        "setup_s": setup_s, "warmup_build_s": warmup["wall"],
        "build_s": build["wall"], "read_s": reads,
        "warmup_batch_s": [b["wall"] for b in warmup.get("batches", ())],
        "batch_s": [b["wall"] for b in build.get("batches", ())],
        "peak_rss_mb": rss.peak / 2**20, "problems": problems,
    }
    result = {
        "correct": not problems, "attempted": 1, "failed": int(bool(problems)),
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in units.items()},
    }
    return info, result


if __name__ == "__main__":
    sys.exit(main())
