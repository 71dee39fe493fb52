"""Table IO abstraction: Iceberg-style tables stood in by partitioned
parquet + a JSON manifest (SURVEY.md §7 hard parts: Iceberg runtime
jars are absent in this sandbox; this layer keeps the pipeline code
backend-agnostic so `spark.read.format('iceberg')` is a drop-in).

A manifest records what Iceberg's snapshot metadata would: inputs
fingerprint, row count, schema, completion marker — which is exactly
what stage-level checkpoint/resume needs (BASELINE north_rule:
"resumable from checkpoint with per-partition lineage + metrics").

Two table kinds:
  * snapshot tables (write/finalize): every write is a full immutable
    snapshot `_v{n}`; reads see the current one; old ones expire.
  * log tables (append): every write is a DELTA segment; reads resolve
    the merged view — plain union, latest-wins-per-key with tombstones
    (upsert log), or per-key sum/min/max (aggregation log). Segments
    carry a batch tag for exactly-once rollback (prune_batch) and are
    bounded by amortized compact(). This is what keeps the streaming
    incremental-canon path's per-batch IO proportional to the batch.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class TableIO:
    """Versioned tables (Iceberg-lite): every write creates a new
    immutable snapshot directory `{table}/_v{n}`; the manifest's
    `version` points at the current one and `snapshots` keeps the
    history (run_id, rows, content hash per version). `read(version=k)`
    time-travels; `expire_snapshots` bounds disk. Swapping this layer
    for real Iceberg keeps the pipeline code unchanged."""

    KEEP_SNAPSHOTS = 2

    def __init__(self, warehouse: str):
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    def table_dir(self, table: str) -> str:
        return os.path.join(self.warehouse, table)

    def path(self, table: str, version: int | None = None) -> str:
        """Data dir of a snapshot (default: current). For a table that
        has never been written, returns the would-be v1 dir (useful
        only for fingerprinting of absent inputs)."""
        if version is None:
            m = self.manifest(table)
            version = m["version"] if m and "version" in m else 1
        return os.path.join(self.table_dir(table), f"_v{version}")

    def manifest_path(self, table: str) -> str:
        return os.path.join(self.warehouse, f"{table}.manifest.json")

    def _dump_manifest(self, table: str, manifest: dict) -> None:
        """Atomic manifest commit (tmp + rename): the exactly-once
        replay path READS manifests to roll back a half-applied batch,
        so a torn in-place write would wedge the stream exactly when
        the rollback is needed."""
        tmp = self.manifest_path(table) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2)
        os.replace(tmp, self.manifest_path(table))

    def write(
        self,
        df: DataFrame,
        table: str,
        partition_by: list[str] | None = None,
        inputs_fingerprint: str | None = None,
        extra: dict | None = None,
        defer_manifest: bool = False,
    ) -> dict:
        """Write a new parquet version of `table` + its manifest;
        manifest lands last (commit marker).

        The manifest's row count comes from the parquet footers
        (driver-side metadata read) — never from a second full scan of
        the data.

        With defer_manifest=True the data is written but the manifest
        file is NOT: the caller enriches the returned dict (e.g. with
        Observation-collected rows/content_hash) and commits it via
        finalize(). This keeps the commit marker a single atomic dump —
        a crash between two dumps could otherwise leave a `complete`
        manifest missing content_hash, which a resumed run would skip
        and downstream consumers would KeyError on.
        """
        prev = self.manifest(table)
        if prev is not None and prev.get("kind") == "log":
            raise ValueError(
                f"{table} is a log table — use append(), not write() "
                "(a snapshot write would orphan its delta segments)")
        version = (prev["version"] + 1) if prev and "version" in prev else 1
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        t0 = time.time()
        w.parquet(self.path(table, version))
        rows = sum(r for _, r, _ in self.file_stats(table, version))
        snapshots = list(prev.get("snapshots", [])) if prev else []
        snapshots.append({"version": version, "rows": rows,
                          **({"run_id": extra["run_id"]}
                             if extra and "run_id" in extra else {})})
        manifest = {
            "table": table,
            "complete": True,
            "version": version,
            "rows": rows,
            "schema": df.schema.jsonValue(),
            "partition_by": partition_by or [],
            "inputs_fingerprint": inputs_fingerprint,
            "wall_s": round(time.time() - t0, 3),
            "snapshots": snapshots,
            **(extra or {}),
        }
        if defer_manifest:
            return manifest
        return self.finalize(table, manifest)

    def finalize(self, table: str, manifest: dict) -> dict:
        """Atomically commit a manifest (single dump) + expire old
        snapshots — the one place the commit marker is born."""
        self._dump_manifest(table, manifest)
        self.expire_snapshots(table, keep=self.KEEP_SNAPSHOTS)
        return manifest

    # -- append-log tables (Iceberg-style delta segments) ---------------

    def append(
        self,
        df: DataFrame,
        table: str,
        log_keys: list[str] | None = None,
        batch_tag: str | None = None,
        deletes: DataFrame | None = None,
        agg_spec: dict | None = None,
    ) -> dict:
        """Append a DELTA segment to a log table — per-call IO is
        proportional to the delta, never to accumulated state (the
        streaming incremental-canon requirement).

        Without `log_keys` the table is a pure append log: read() is
        the union of all segments. With `log_keys` it is an upsert log:
        read() resolves latest-wins per key across segments, and
        `deletes` rows (same key columns) tombstone keys that no
        longer exist (a merged-away canonical vertex). With `agg_spec`
        ({"keys": [...], "sum": [...], "min": [...], "max": [...]})
        it is an AGGREGATION log: read() merges segments with the
        commutative-associative aggregates named per column — additive
        state like edge support counts never needs a rewrite, only a
        delta append (compact() stays valid because the merge is
        associative).

        `batch_tag` marks every segment written for one source batch so
        a crashed half-applied batch can be rolled back exactly with
        prune_batch() before replay (exactly-once on top of an
        at-least-once foreachBatch)."""
        if agg_spec is not None and log_keys is not None:
            raise ValueError("log_keys and agg_spec are exclusive")
        prev = self.manifest(table)
        if prev is not None and prev.get("kind") != "log":
            raise ValueError(f"{table} is not a log table")
        if prev is not None and prev.get("log_keys") != (log_keys or []):
            raise ValueError(f"{table}: log_keys mismatch")
        if prev is not None and prev.get("agg_spec") != agg_spec:
            raise ValueError(f"{table}: agg_spec mismatch")
        if prev is not None:
            # schema drift fails AT THE WRITE, not at some later read
            # (parquet schema merge would otherwise null-fill or error
            # far from the bad append); nullability is excluded — it
            # varies benignly with the expressions that built a delta
            want = {f["name"]: f["type"]
                    for f in prev["schema"]["fields"]}
            got = {f["name"]: f["type"]
                   for f in df.schema.jsonValue()["fields"]}
            if got != want:
                raise ValueError(
                    f"{table}: delta schema drift — manifest has "
                    f"{sorted(want.items())}, append got "
                    f"{sorted(got.items())}")
        version = (prev["version"] + 1) if prev else 1
        seg = df.withColumn("_del", F.lit(False))
        if deletes is not None:
            if not log_keys:
                raise ValueError("deletes require log_keys")
            null_cols = [
                F.lit(None).cast(df.schema[c].dataType).alias(c)
                for c in df.columns
                if c not in log_keys
            ]
            seg = seg.unionByName(
                deletes.select(*log_keys, *null_cols)
                .withColumn("_del", F.lit(True))
            )
        seg = seg.withColumn("_seg", F.lit(version))
        seg.write.mode("overwrite").parquet(self.path(table, version))
        if log_keys:
            # one upsert row per key per segment: _read_log's
            # latest-wins window orders by (_seg desc, _del asc), so
            # two upserts for one key INSIDE a segment would tie
            # nondeterministically — reject them at the write. The
            # check scans the segment just WRITTEN (cheap, local
            # parquet) rather than re-executing the delta's
            # unmaterialized plan a second time.
            dup = (
                df.sparkSession.read.parquet(self.path(table, version))
                .where(~F.col("_del"))
                .groupBy(*log_keys).count()
                .where(F.col("count") > 1).limit(1).collect()
            )
            if dup:
                import shutil

                shutil.rmtree(self.path(table, version),
                              ignore_errors=True)
                # In a foreachBatch caller an offending delta is a
                # POISON BATCH (every replay recomputes it and fails
                # here again — the stream cannot advance past it), so
                # name the key and batch so the operator can find the
                # upstream dedupe bug fast; callers must dedupe
                # deltas before append (the shipped updaters do).
                sample = {k: dup[0][k] for k in log_keys}
                raise ValueError(
                    f"{table}: delta (batch_tag={batch_tag!r}) "
                    f"contains duplicate rows ({dup[0]['count']}) for "
                    f"log key {sample} — latest-wins within one "
                    f"segment would be nondeterministic; dedupe the "
                    f"delta before append")
        stats = self.file_stats(table, version)
        rows = sum(r for _, r, _ in stats)
        nbytes = sum(b for _, _, b in stats)
        segments = list(prev.get("segments", [])) if prev else []
        segments.append(
            {"version": version, "rows": rows, "bytes": nbytes,
             "batch_tag": batch_tag}
        )
        manifest = {
            "table": table,
            "complete": True,
            "kind": "log",
            "version": version,
            "rows": sum(s["rows"] for s in segments),
            "log_keys": log_keys or [],
            "agg_spec": agg_spec,
            "schema": df.schema.jsonValue(),
            "segments": segments,
        }
        self._dump_manifest(table, manifest)
        return manifest

    def prune_batch(self, table: str, batch_tag: str) -> int:
        """Drop every segment written under `batch_tag` (crash
        rollback for a half-applied batch). Returns segments dropped.

        `batch_tag` must be a real tag: compacted and untagged
        segments carry batch_tag None, so a None/absent tag would
        silently match — and delete — COMMITTED state instead of
        being a no-op."""
        import shutil

        if batch_tag is None:
            raise ValueError(
                "prune_batch(None) would drop compacted/untagged "
                "segments — pass the batch's tag")
        m = self.manifest(table)
        if not m or m.get("kind") != "log":
            return 0
        keep = [s for s in m["segments"] if s.get("batch_tag") != batch_tag]
        dropped = [s for s in m["segments"] if s.get("batch_tag") == batch_tag]
        for s in dropped:
            shutil.rmtree(
                os.path.join(self.table_dir(table), f"_v{s['version']}"),
                ignore_errors=True,
            )
        if not keep:
            os.remove(self.manifest_path(table))
            return len(dropped)
        m["segments"] = keep
        m["version"] = keep[-1]["version"]
        m["rows"] = sum(s["rows"] for s in keep)
        self._dump_manifest(table, m)
        return len(dropped)

    def compact(self, spark: SparkSession, table: str) -> dict:
        """Minor compaction: rewrite the table's RESOLVED view as a
        single fresh segment and drop the old ones. Cost is O(state),
        so callers amortize it (every K batches) — per-batch appends
        stay O(batch) and reads stay bounded at K segments."""
        import shutil

        m = self.manifest(table)
        if not m or m.get("kind") != "log":
            raise ValueError(f"{table} is not a log table")
        merged = self.read(spark, table).localCheckpoint()
        old = list(m["segments"])
        version = m["version"] + 1
        seg = merged.withColumn("_del", F.lit(False)).withColumn(
            "_seg", F.lit(version)
        )
        seg.write.mode("overwrite").parquet(self.path(table, version))
        stats = self.file_stats(table, version)
        m["segments"] = [
            {"version": version,
             "rows": sum(r for _, r, _ in stats),
             "bytes": sum(b for _, _, b in stats),
             "batch_tag": None}
        ]
        m["version"] = version
        m["rows"] = m["segments"][0]["rows"]
        self._dump_manifest(table, m)
        for s in old:
            shutil.rmtree(
                os.path.join(self.table_dir(table), f"_v{s['version']}"),
                ignore_errors=True,
            )
        return m

    def _read_log(self, spark: SparkSession, table: str,
                  m: dict) -> DataFrame:
        paths = [
            os.path.join(self.table_dir(table), f"_v{s['version']}")
            for s in m["segments"]
        ]
        df = spark.read.parquet(*paths)
        keys = m.get("log_keys") or []
        agg = m.get("agg_spec")
        if keys:
            from pyspark.sql import Window

            # within one segment an upsert row deterministically beats
            # a tombstone for the same key (callers normally anti-join
            # deletes against the delta; this pins the tie anyway)
            w = Window.partitionBy(*keys).orderBy(
                F.desc("_seg"), F.asc("_del"))
            df = (
                df.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .where(~F.col("_del"))
                .drop("_rn")
            )
        elif agg:
            exprs = (
                [F.sum(c).alias(c) for c in agg.get("sum", [])]
                + [F.min(c).alias(c) for c in agg.get("min", [])]
                + [F.max(c).alias(c) for c in agg.get("max", [])]
            )
            df = df.groupBy(*agg["keys"]).agg(*exprs)
            return df  # aggregation drops _seg/_del already
        return df.drop("_seg", "_del")

    def expire_snapshots(self, table: str, keep: int = 2) -> None:
        """Drop snapshot data dirs older than the newest `keep`
        (manifest history rows are retained). Log tables keep all
        their segments (compact() bounds them instead)."""
        import shutil

        m = self.manifest(table)
        if not m or "version" not in m or m.get("kind") == "log":
            return
        cur = m["version"]
        base = self.table_dir(table)
        if not os.path.isdir(base):
            return
        for name in os.listdir(base):
            if name.startswith("_v"):
                try:
                    v = int(name[2:])
                except ValueError:
                    continue
                if v <= cur - keep:
                    shutil.rmtree(os.path.join(base, name),
                                  ignore_errors=True)

    def file_stats(self, table: str,
                   version: int | None = None) -> list[tuple[str, int, int]]:
        """(relpath, rows, bytes) per output parquet file, straight from
        the footers (driver-side metadata read; no data scan). One file
        per write task -> these are the per-partition lineage counters."""
        import pyarrow.parquet as pq

        root = self.path(table, version)
        out = []
        for dp, _, fns in os.walk(root):
            for fn in sorted(fns):
                if not fn.endswith(".parquet"):
                    continue
                p = os.path.join(dp, fn)
                md = pq.ParquetFile(p).metadata
                out.append(
                    (os.path.relpath(p, root), md.num_rows,
                     os.path.getsize(p))
                )
        return out

    def read(self, spark: SparkSession, table: str,
             version: int | None = None) -> DataFrame:
        """Read the current snapshot, or time-travel to `version`.
        Log tables resolve to their merged view (union of segments;
        latest-wins per key + tombstone filter when keyed)."""
        m = self.manifest(table)
        if m is not None and m.get("kind") == "log" and version is None:
            return self._read_log(spark, table, m)
        return spark.read.parquet(self.path(table, version))

    def manifest(self, table: str) -> dict | None:
        p = self.manifest_path(table)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def is_complete(self, table: str,
                    inputs_fingerprint: str | None = None) -> bool:
        """Resume check: manifest exists, complete, inputs unchanged."""
        m = self.manifest(table)
        if not m or not m.get("complete"):
            return False
        if inputs_fingerprint is not None and (
            m.get("inputs_fingerprint") != inputs_fingerprint
        ):
            return False
        return True


def fingerprint_paths(*paths: str) -> str:
    """Cheap input fingerprint: path + size + mtime of every file."""
    import hashlib

    h = hashlib.sha256()
    for p in sorted(paths):
        if os.path.isdir(p):
            files = sorted(
                os.path.join(dp, f)
                for dp, _, fs in os.walk(p)
                for f in fs
            )
        else:
            files = [p]
        for f in files:
            st = os.stat(f)
            h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]
