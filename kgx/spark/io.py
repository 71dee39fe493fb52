"""Table IO abstraction: Iceberg-style tables stood in by parquet data
plus one JSON manifest per table (SURVEY.md §7 hard parts: Iceberg
runtime jars are absent in this sandbox; this layer keeps the pipeline
code backend-agnostic so `spark.read.format('iceberg')` is a drop-in).

A manifest is the one record of a table's metadata, as Iceberg's
snapshot metadata would be: inputs fingerprint, row count, content
hash, schema, per-file lineage (path, rows, bytes) and the completion
marker — what stage-level checkpoint/resume needs (BASELINE
north_rule: "resumable from checkpoint with per-partition lineage +
metrics"). Reads use its schema (no inference); a table without a
manifest was never committed, and reading it raises.

Every table version is one data directory `{table}/v{n}`, written by
one writer (`TableIO._write_version`) that returns the version's rows,
bytes and per-file lineage from the parquet footers. Two table kinds:
  * snapshot tables (write): every write is a full version; reads see
    the current one. The previous version is kept, since a lazy reader
    may still hold it; older ones are deleted. There is no time travel.
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
import shutil
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def content_sig_col(df: DataFrame):
    """Order/partitioning-invariant content signature aggregate:
    sum of per-row murmur3 hashes, computed JVM-side inside whatever
    job consumes it (no extra scan). F.hash handles nested
    array/struct columns natively — no stringification (casting a
    spans array<struct> to string per row measured ~30% of the tag
    stage). Engine-specific values, but only ever compared
    Spark-to-Spark (resume identity, N-vs-4N equality)."""
    return F.sum(
        F.hash(*[F.col(c) for c in df.columns]).cast("bigint")
    ).alias("sig")


def stored_schema(manifest: dict, drop=()) -> T.StructType:
    """The schema a manifest stores, without the `drop` columns."""
    return T.StructType(
        [f for f in T.StructType.fromJson(manifest["schema"]).fields
         if f.name not in drop])


class TableIO:
    """Versioned tables (Iceberg-lite). `_write_version` writes every
    data directory `{table}/v{n}` — snapshot writes, delta segments and
    compactions alike — and `_drop_versions` deletes them; the
    manifest's `version` names the current one. A snapshot table keeps
    its current and previous version, a log table the segments its
    manifest lists. Swapping this layer for real Iceberg keeps the
    pipeline code unchanged."""

    def __init__(self, warehouse: str):
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    def table_dir(self, table: str) -> str:
        return os.path.join(self.warehouse, table)

    def path(self, table: str, version: int | None = None) -> str:
        """Data dir of a version (default: current). For a table that
        has never been written, returns the would-be v1 dir (useful
        only for fingerprinting of absent inputs)."""
        if version is None:
            m = self.manifest(table)
            version = m["version"] if m else 1
        return os.path.join(self.table_dir(table), f"v{version}")

    def manifest_path(self, table: str) -> str:
        return os.path.join(self.warehouse, f"{table}.manifest.json")

    def dump_manifest(self, table: str, manifest: dict) -> None:
        """Atomic manifest commit (tmp + rename): the exactly-once
        replay path READS manifests to roll back a half-applied batch,
        so a torn in-place write would wedge the stream exactly when
        the rollback is needed."""
        tmp = self.manifest_path(table) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2)
        os.replace(tmp, self.manifest_path(table))

    def _write_version(self, df: DataFrame, table: str, version: int,
                       partition_by: list[str] | None = None) -> dict:
        """Write `df` as data dir `version` of `table` and return its
        `{version, rows, bytes, files}` record, read once from the
        parquet footers (driver-side metadata; no data scan). One file
        per write task, so `files` (path, rows, bytes each) is the
        per-partition lineage."""
        import pyarrow.parquet as pq

        root = self.path(table, version)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(root)
        files = []
        for dp, _, fns in os.walk(root):
            for fn in sorted(fns):
                if fn.endswith(".parquet"):
                    p = os.path.join(dp, fn)
                    files.append({
                        "path": os.path.relpath(p, root),
                        "rows": pq.ParquetFile(p).metadata.num_rows,
                        "bytes": os.path.getsize(p)})
        return {"version": version,
                "rows": sum(f["rows"] for f in files),
                "bytes": sum(f["bytes"] for f in files),
                "files": files}

    def _drop_versions(self, table: str, versions) -> None:
        for v in versions:
            shutil.rmtree(self.path(table, v), ignore_errors=True)

    def write(
        self,
        df: DataFrame,
        table: str,
        partition_by: list[str] | None = None,
        inputs_fingerprint: str | None = None,
        extra: dict | None = None,
    ) -> dict:
        """Write a new version of snapshot table `table` and commit its
        manifest; the manifest lands last (commit marker), in one
        atomic dump, so a crash never leaves a complete manifest
        without its content hash or lineage.

        An order-insensitive content signature is observed DURING the
        write job (`df.observe`: sum of per-row murmur3 — commutative,
        so invariant under partitioning and parallelism); rows and the
        per-file lineage come from the parquet footers. No second scan
        of the data — at 100 TB a re-scan per table would double the
        pipeline's IO."""
        prev = self.manifest(table)
        if prev is not None and prev.get("kind") == "log":
            raise ValueError(
                f"{table} is a log table — use append(), not write() "
                "(a snapshot write would orphan its delta segments)")
        version = prev["version"] + 1 if prev else 1
        obs = Observation()
        t0 = time.time()
        rec = self._write_version(df.observe(obs, content_sig_col(df)),
                                  table, version, partition_by)
        manifest = {
            "table": table,
            "complete": True,
            **rec,
            "content_hash": format(int(obs.get["sig"] or 0) % (1 << 63),
                                   "016x"),
            "schema": df.schema.jsonValue(),
            "partition_by": partition_by or [],
            "inputs_fingerprint": inputs_fingerprint,
            "wall_s": round(time.time() - t0, 3),
            **(extra or {}),
        }
        self.dump_manifest(table, manifest)
        # keep the previous version: a lazy reader may still hold it
        self._drop_versions(table, [version - 2])
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
        version = prev["version"] + 1 if prev else 1
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
        rec = self._write_version(seg, table, version)
        if log_keys:
            # one upsert row per key per segment: _read_log's
            # latest-wins window orders by (_seg desc, _del asc), so
            # two upserts for one key INSIDE a segment would tie
            # nondeterministically — reject them at the write. The
            # check scans the segment just WRITTEN (cheap, local
            # parquet) rather than re-executing the delta's
            # unmaterialized plan a second time.
            dup = (
                df.sparkSession.read.schema(seg.schema)
                .parquet(self.path(table, version))
                .where(~F.col("_del"))
                .groupBy(*log_keys).count()
                .where(F.col("count") > 1).limit(1).collect()
            )
            if dup:
                self._drop_versions(table, [version])
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
        segments = list(prev["segments"]) if prev else []
        segments.append({**rec, "batch_tag": batch_tag})
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
        self.dump_manifest(table, manifest)
        return manifest

    def prune_batch(self, table: str, batch_tag: str) -> int:
        """Drop every segment written under `batch_tag` (crash
        rollback for a half-applied batch). Returns segments dropped.

        `batch_tag` must be a real tag: compacted and untagged
        segments carry batch_tag None, so a None/absent tag would
        silently match — and delete — COMMITTED state instead of
        being a no-op."""
        if batch_tag is None:
            raise ValueError(
                "prune_batch(None) would drop compacted/untagged "
                "segments — pass the batch's tag")
        m = self.manifest(table)
        if not m or m.get("kind") != "log":
            return 0
        keep = [s for s in m["segments"] if s.get("batch_tag") != batch_tag]
        dropped = [s["version"] for s in m["segments"]
                   if s.get("batch_tag") == batch_tag]
        self._drop_versions(table, dropped)
        if not keep:
            os.remove(self.manifest_path(table))
            return len(dropped)
        m["segments"] = keep
        m["version"] = keep[-1]["version"]
        m["rows"] = sum(s["rows"] for s in keep)
        self.dump_manifest(table, m)
        return len(dropped)

    def compact(self, spark: SparkSession, table: str) -> dict:
        """Minor compaction: rewrite the table's RESOLVED view as a
        single fresh segment and drop the old ones. Cost is O(state),
        so callers amortize it (every K batches) — per-batch appends
        stay O(batch) and reads stay bounded at K segments."""
        m = self.manifest(table)
        if not m or m.get("kind") != "log":
            raise ValueError(f"{table} is not a log table")
        merged = self.read(spark, table).localCheckpoint()
        old = [s["version"] for s in m["segments"]]
        version = m["version"] + 1
        rec = self._write_version(
            merged.withColumn("_del", F.lit(False))
            .withColumn("_seg", F.lit(version)), table, version)
        m["segments"] = [{**rec, "batch_tag": None}]
        m["version"] = version
        m["rows"] = rec["rows"]
        self.dump_manifest(table, m)
        self._drop_versions(table, old)
        return m

    def _read_log(self, spark: SparkSession, table: str,
                  m: dict) -> DataFrame:
        paths = [self.path(table, s["version"]) for s in m["segments"]]
        df = spark.read.schema(
            stored_schema(m).add("_del", T.BooleanType())
            .add("_seg", T.IntegerType())
        ).parquet(*paths)
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

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        """Read the current version of a committed table. Log tables
        resolve to their merged view (union of segments; latest-wins
        per key + tombstone filter when keyed).

        The data is read with the manifest's schema, so the read runs
        no schema-inference job; partition columns are left out of it
        and still come from the directory names, as they would with
        inference. A table with no manifest raises: its data dir, if
        any, may hold a crashed write's partial output."""
        m = self.manifest(table)
        if m is None:
            raise ValueError(
                f"{table} has no manifest in {self.warehouse}: it was "
                "never committed")
        if m.get("kind") == "log":
            return self._read_log(spark, table, m)
        return spark.read.schema(
            stored_schema(m, drop=m["partition_by"])
        ).parquet(self.path(table, m["version"]))

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
