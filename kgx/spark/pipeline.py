"""In-process pipeline over a fixture directory: the checkpointed
kgx.spark.run.Runner, written to a throwaway warehouse that lives as
long as the process, with every table read back as a DataFrame."""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

from kgx.spark.run import Runner

_TMP_ROOT: str | None = None


def process_tmp_root() -> str:
    """One temp directory per process, removed at exit: warehouses
    whose tables are returned as lazy parquet reads must outlive the
    call that wrote them."""
    global _TMP_ROOT
    if _TMP_ROOT is None:
        _TMP_ROOT = tempfile.mkdtemp(prefix="kgx_")
        atexit.register(shutil.rmtree, _TMP_ROOT, True)
    return _TMP_ROOT


def run_fixture_pipeline(
    spark: SparkSession, fixture_dir: str, buckets: int = 32,
    artifact: str = "tagger_v1.npz",
) -> dict[str, DataFrame]:
    runner = Runner(spark, fixture_dir,
                    tempfile.mkdtemp(prefix="wh_", dir=process_tmp_root()),
                    "fixture", buckets=buckets, artifact=artifact)
    # commit events carry a content hash; probe and CC-loop events don't
    return {e["table"]: runner.read(e["table"])
            for e in runner.run() if e.get("content_hash")}
