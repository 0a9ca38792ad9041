"""Source-layer and packaging checks: the narrow-scan guard, the catalog's
write-only manifests, the session heap, the regime harness table, and the
spark-submit --py-files ship shape (engine importable from engine.zip with
the repo checkout absent from sys.path)."""

from __future__ import annotations

import pathlib
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent


def test_spread_small_input(spark, tmp_path):
    """The narrow-scan guard: a single-file/single-row-group parquet scan
    (the driver's sf-table shape) is repartitioned up to session
    parallelism; an input already at/above the target passes through
    untouched (no added exchange at scale)."""
    import pandas as pd

    from simhash_spark.session import spread_small_input

    p = tmp_path / "one.parquet"
    pd.DataFrame({"id": range(100)}).to_parquet(p)
    narrow = spark.read.parquet(str(p))
    target = spark.sparkContext.defaultParallelism
    assert narrow.rdd.getNumPartitions() < target
    assert spread_small_input(narrow).rdd.getNumPartitions() == target

    wide = spark.range(1000).repartition(target + 4)
    assert spread_small_input(wide) is wide  # untouched, not just same count


_ZIP_SCRIPT = """
import pathlib, sys
zip_path, data_dir = sys.argv[1], sys.argv[2]
# simulate spark-submit --py-files: ONLY the zip provides the engine
sys.path = [p for p in sys.path if "repo" not in p]
sys.path.insert(0, zip_path)

import simhash_spark
assert zip_path in simhash_spark.__file__, simhash_spark.__file__

from pyspark.sql import SparkSession

from simhash_spark.plans.text_dedup import text_near_dup_clusters

spark = (
    SparkSession.builder.master("local[2]")
    .appName("zip-ship-shape")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
docs = spark.read.parquet(data_dir)
n = text_near_dup_clusters(docs, "doc_id", "text").count()
print("ZIPRESULT:" + str(n))
"""


def test_engine_zip_is_self_contained(tmp_path):
    """Build dist/engine.zip and run a UDF-bearing pipeline in a subprocess
    whose only source of the engine is the zip (PYTHONPATH=zip, cwd outside
    the checkout) — the python workers must zipimport the kernels too."""
    sys.path.insert(0, str(REPO / "jobs"))
    try:
        import package as packager
    finally:
        sys.path.pop(0)
    zip_path = packager.build(tmp_path / "engine.zip")

    import pandas as pd

    data = tmp_path / "docs.parquet"
    pd.DataFrame(
        {
            "doc_id": ["d1", "d2", "d3"],
            "text": [
                "one shared caption across rows here",
                "one shared caption across rows here",
                "totally different third document text",
            ],
        }
    ).to_parquet(data)

    import os

    proc = subprocess.run(
        [sys.executable, "-c", _ZIP_SCRIPT, str(zip_path), str(data)],
        cwd=tmp_path,  # outside the checkout: cwd cannot satisfy the import
        env={**os.environ, "PYTHONPATH": str(zip_path)},
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "ZIPRESULT:3" in proc.stdout


def test_catalog_write_invalidates_manifest_before_clobber(spark, tmp_path):
    """Crash-safety order: a stage REWRITE that dies mid-write must leave
    the stage INCOMPLETE (recompute on rerun) — never the previous
    complete:True manifest pointing at clobbered data, which a later resume
    would silently read as empty."""
    import pytest
    from pyspark.sql import functions as F

    from simhash_spark.sources.catalog import CheckpointCatalog

    cat = CheckpointCatalog(spark, tmp_path / "cs")
    df = spark.range(5).selectExpr("cast(id as string) as image_id")
    cat.run_stage("s1", "fpA", lambda: df)
    assert cat.is_complete("s1", "fpA")

    bad = df.withColumn("boom", F.expr("raise_error('kaboom')"))
    with pytest.raises(Exception, match="kaboom"):
        cat.run_stage("s1", "fpB", lambda: bad)
    # the old manifest was invalidated BEFORE the data dir was touched
    assert not cat.is_complete("s1", "fpA")
    assert not cat.is_complete("s1", "fpB")

    # recovery: a rerun with a working compute completes normally
    out = cat.run_stage("s1", "fpB", lambda: df)
    assert out.count() == 5 and cat.is_complete("s1", "fpB")


def test_catalog_write_starts_only_the_write_jobs(spark, tmp_path, jobs_started):
    """Tripwire against post-write metric passes: a stage written through
    CheckpointCatalog (with observed metrics) starts exactly the jobs of a
    bare parquet write of the same plan — lineage rows come from the file
    footers, the read-back takes the written schema, and the extra metrics
    come from an Observation filled by the write itself."""
    from pyspark.sql import functions as F

    from simhash_spark.sources.catalog import CheckpointCatalog, StageObservations

    def plan(observe=None):
        df = (
            spark.range(0, 5000, numPartitions=4)
            .select((F.col("id") % 97).alias("k"), F.col("id"))
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"), F.max("id").alias("top"))
        )
        return df if observe is None else observe(df, F.sum("n").alias("rows"))

    bare = jobs_started(lambda: plan().write.parquet(str(tmp_path / "bare")))
    cat = CheckpointCatalog(spark, tmp_path / "cat")
    obs = StageObservations()
    staged = jobs_started(
        lambda: cat.run_stage(
            "s", "fp", lambda: plan(obs.observe), extra_metrics=lambda: obs.get()
        ),
    )
    assert bare >= 1 and staged == bare
    m = cat.manifest("s")
    assert m["rows"] == 5000 and m["n_rows"] == 97
    assert sum(p["rows"] for p in m["partitions"]) == 97


def test_session_heap_within_host_budget(spark):
    """get_spark sizes the driver heap from the host (RAM or the cgroup
    limit, whichever is lower), never from a fixed figure that can exceed
    it: the JVM's max heap is at most HEAP_SHARE of that RAM."""
    from simhash_spark.session import HEAP_SHARE, default_driver_memory, host_ram_bytes

    budget = host_ram_bytes() * HEAP_SHARE
    assert int(default_driver_memory().rstrip("g")) * 2**30 <= max(budget, 2**30)
    max_heap = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    assert max_heap <= max(budget, 2**30)


def test_regime_harness_timing_and_ladder_table(monkeypatch):
    """The harness without Spark: ``bench.best_of`` returns the minimum wall
    and THAT repetition's output, with clearCache and a driver GC before
    every repetition; the design_regime parser has one flag per ladder, and
    every design_regime command quoted in the docs parses with it."""
    import re
    import shlex
    import time
    import types

    import bench
    from jobs import design_regime

    calls = []
    spark = types.SimpleNamespace(
        catalog=types.SimpleNamespace(clearCache=lambda: calls.append("clear")),
        sparkContext=types.SimpleNamespace(
            _jvm=types.SimpleNamespace(
                System=types.SimpleNamespace(gc=lambda: calls.append("gc"))
            )
        ),
    )
    # (start, end) per repetition: walls 5, 2, 3 -> the second one is best
    clock = iter([0.0, 5.0, 10.0, 12.0, 20.0, 23.0])
    monkeypatch.setattr(time, "perf_counter", lambda: next(clock))
    outputs = iter(["first", "second", "third"])

    def fn():
        calls.append("run")
        return next(outputs)

    assert bench.best_of(spark, fn, 3) == (2.0, "second")
    assert calls == ["clear", "gc", "run"] * 3

    ap = design_regime.build_parser()
    ladder_flags = {
        s for a in ap._actions for s in a.option_strings if s not in ("-h", "--help", "--cpus")
    }
    assert ladder_flags == {f"--{flag}" for flag in design_regime.LADDERS}
    assert all(ap.get_default(flag.replace("-", "_")) == 0 for flag in design_regime.LADDERS)

    quoted = []
    for doc in [REPO / "README.md", *sorted((REPO / "BENCH").glob("*.md"))]:
        text = " ".join(doc.read_text().split())
        quoted += re.findall(r"jobs/design_regime\.py((?: --?[\w-]+(?: \d+)?)*)", text)
    assert quoted
    for cmd in quoted:
        ap.parse_args(shlex.split(cmd))
