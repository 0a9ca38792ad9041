"""CheckpointCatalog — per-stage persistence with lineage manifests + resume.

BASELINE.json:6 requires every stage checkpointed "to Iceberg with
per-partition lineage and metrics for resumability". No Iceberg runtime jar
ships with the PySpark build (none under pyspark/jars), so the catalog
writes Parquet per stage + ``_manifest.json`` reproducing the
snapshot semantics: stage name, input fingerprint, schema, per-partition
rows/bytes, wall time (SURVEY.md §7.6). An Iceberg binding would implement
the same interface with ``df.writeTo(table).createOrReplace()`` and let
snapshots supply lineage; none is built here.

Resume: ``run_stage`` recomputes nothing when a manifest exists whose
input_fingerprint matches — it reads the checkpoint back (T5 test).

Every manifest number comes from the execution that writes the stage: the
per-file rows from the footers of the files just written, the stage's own
metrics from ``StageObservations`` filled during that write. Publishing a
manifest starts no Spark job.
"""

from __future__ import annotations

import hashlib
import json
import pathlib
import re
import shutil
import time
from collections.abc import Callable
from typing import NamedTuple

import pyarrow.dataset as pads
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MANIFEST_NAME = "_manifest.json"


class StageObservations:
    """Metrics a stage's plan collects while the stage's write runs.

    ``observe`` is what an operator calls to attach aggregates to a node of
    its plan; it takes a fresh Observation each time, because Spark binds an
    Observation to one DataFrame. ``get`` merges what they collected once
    the write has finished. A node that AQE pruned (it sat above an empty
    shuffle stage, or beside one that emptied a join) never ran and
    contributes no keys."""

    def __init__(self) -> None:
        self._obs: list[Observation] = []

    def observe(self, df: DataFrame, *exprs: Column) -> DataFrame:
        obs = Observation()
        self._obs.append(obs)
        return df.observe(obs, *exprs)

    def get(self) -> dict:
        out: dict = {}
        for obs in self._obs:
            # Observation.get cannot return the empty row of a pruned node
            out.update(dict(obs._jo.getAsJava()))  # noqa: SLF001
        return out


def parquet_files(path: str | pathlib.Path) -> list[dict]:
    """Per-file lineage of a parquet file or directory, one footer read per
    file: ``{file, bytes, rows}`` in file-name order. Starts no Spark job,
    and is not fooled by a cached DataFrame over the same path. pyarrow's
    discovery skips the ``_``/``.``-prefixed files (e.g. ``_SUCCESS``) that
    Spark skips."""
    frags = pads.dataset(str(path), format="parquet").get_fragments()
    return sorted(
        (
            {
                "file": pathlib.Path(f.path).name,
                "bytes": pathlib.Path(f.path).stat().st_size,
                "rows": f.metadata.num_rows,
            }
            for f in frags
        ),
        key=lambda p: p["file"],
    )


def parquet_rows(path: str | pathlib.Path) -> int:
    """Rows of a parquet file or directory, from its files' footers."""
    return sum(f["rows"] for f in parquet_files(path))


class Pinned(NamedTuple):
    df: DataFrame  # the read-back of the written files
    rows: int  # their footer row count
    seen: dict  # the aggregates observed during the write


def pin(df: DataFrame, path: str | pathlib.Path, *exprs: Column) -> Pinned:
    """Write ``df`` to parquet at ``path`` once, observing ``exprs`` on the
    written rows, and return the read-back, the footer rows and the
    observed values. The write is the only Spark job: the read-back takes
    the written schema instead of inferring it.

    A CLI writes every output this way, and pins with it a frame that feeds
    two or more actions, where lazy recompute would re-run the whole
    upstream chain per action. Parquet, not persist(): no MemoryStore
    contention at high parallelism, and the files double as an inspectable
    artifact of the run."""
    return _pin_files(df, path, *exprs)[0]


def _pin_files(
    df: DataFrame, path: str | pathlib.Path, *exprs: Column
) -> tuple[Pinned, list[dict]]:
    """``pin``, plus the written files' ``parquet_files`` lineage: the
    footer rows come from that one footer pass."""
    obs = StageObservations()
    if exprs:
        df = obs.observe(df, *exprs)
    df.write.mode("overwrite").parquet(str(path))
    back = df.sparkSession.read.schema(df.schema).parquet(str(path))
    files = parquet_files(path)
    return Pinned(back, sum(f["rows"] for f in files), obs.get()), files


class CheckpointCatalog:
    def __init__(self, spark: SparkSession, base_path: str | pathlib.Path):
        self.spark = spark
        self.base = pathlib.Path(base_path)
        self.base.mkdir(parents=True, exist_ok=True)

    # ------------------------------------------------------------- manifest

    def _stage_dir(self, stage: str) -> pathlib.Path:
        return self.base / stage

    def manifest(self, stage: str) -> dict | None:
        p = self._stage_dir(stage) / MANIFEST_NAME
        if p.exists():
            return json.loads(p.read_text())
        return None

    def read_rows(self, stage: str) -> list[dict]:
        """A small stage's rows as dicts, read from its files by pyarrow:
        starts no Spark job."""
        data = self._stage_dir(stage) / "data"
        return pads.dataset(str(data), format="parquet").to_table().to_pylist()

    def is_complete(self, stage: str, input_fingerprint: str) -> bool:
        m = self.manifest(stage)
        return bool(m and m.get("complete") and m.get("input_fingerprint") == input_fingerprint)

    # ------------------------------------------------------------ run/read

    def _table_name(self, stage: str) -> str:
        """Session-catalog name for a bucketed stage: stage slug + a hash of
        this catalog's base path, so two catalogs in one session never
        collide on a shared stage name."""
        slug = re.sub(r"[^a-z0-9_]", "_", stage.lower())
        suffix = hashlib.sha256(str(self.base.resolve()).encode()).hexdigest()[:8]
        return f"ckpt_{slug}_{suffix}"

    def _register_bucketed(self, stage: str, m: dict) -> str:
        """(Re-)register the external bucketed table over an existing stage
        checkpoint. saveAsTable metadata lives in the in-memory session
        catalog, so a NEW session resuming from this checkpoint must restore
        the bucket spec from the manifest — otherwise the files read back as
        plain parquet and every downstream join re-shuffles the big side."""
        name = self._table_name(stage)
        if not self.spark.catalog.tableExists(name):
            schema = T.StructType.fromJson(m["schema"])
            cols_ddl = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
            )
            bcols = ", ".join(f"`{c}`" for c in m["bucket_cols"])
            self.spark.sql(
                f"CREATE TABLE {name} ({cols_ddl}) USING PARQUET "
                f"CLUSTERED BY ({bcols}) SORTED BY ({bcols}) "
                f"INTO {m['bucket_n']} BUCKETS "
                f"LOCATION '{self._stage_dir(stage) / 'data'}'"
            )
        return name

    def read(self, stage: str) -> DataFrame:
        m = self.manifest(stage)
        if m and m.get("bucket_n"):
            return self.spark.table(self._register_bucketed(stage, m))
        return self.spark.read.parquet(str(self._stage_dir(stage) / "data"))

    def write(
        self,
        stage: str,
        df: DataFrame,
        input_fingerprint: str,
        extra: dict | Callable[[], dict] | None = None,
        bucket_by: tuple[int, list[str]] | None = None,
    ) -> DataFrame:
        """Materialize a stage: write parquet, take per-partition lineage
        from the footers of the files just written, emit the manifest. The
        only Spark job is the write itself: the read-back takes the written
        schema instead of inferring it, and a callable ``extra`` is called
        after the write, so it can read metrics that write collected.

        ``bucket_by=(n, cols)`` writes the stage as a BUCKETED, sorted table
        (hash-clustered files + session-catalog metadata). Downstream
        equi-joins on the bucket columns then read the checkpoint WITHOUT an
        exchange on this side — at 10^12 rows the fingerprint table is the
        largest intermediate and the verify stage joins it twice, so the
        bucketed write trades one shuffle at write time for zero at every
        read. An Iceberg table would express the same layout as a
        bucket-transform partition spec."""
        d = self._stage_dir(stage)
        data_dir = d / "data"
        t0 = time.time()
        # CRASH-SAFETY ORDER: invalidate the old manifest BEFORE touching
        # the data dir. A kill between the data clobber below and the new
        # manifest write must leave the stage INCOMPLETE (recompute on
        # rerun), never a stale complete:True manifest pointing at
        # destroyed/partial data — which a later resume with the old
        # fingerprint would silently read as 0 rows.
        (d / MANIFEST_NAME).unlink(missing_ok=True)
        if bucket_by is not None:
            n_buckets, bcols = bucket_by
            name = self._table_name(stage)
            self.spark.sql(f"DROP TABLE IF EXISTS {name}")
            if data_dir.exists():
                shutil.rmtree(data_dir)
            # repartition on the bucket key first so every writer task holds
            # exactly one bucket -> one file per bucket, which is what lets
            # the scan expose the SORTED property too (multi-file buckets
            # force a partition-local re-sort under sort-merge joins). This
            # is the write-time shuffle the layout trades for.
            (
                df.repartition(n_buckets, *[F.col(c) for c in bcols])
                .write.mode("overwrite")
                .bucketBy(n_buckets, *bcols)
                .sortBy(*bcols)
                .option("path", str(data_dir))
                .format("parquet")
                .saveAsTable(name)
            )
            out = self.spark.table(name)
            # per-partition (file) lineage: rows + bytes per parquet part file
            parts = parquet_files(data_dir)
        else:
            pinned, parts = _pin_files(df, data_dir)
            out = pinned.df
        wall_ms = int((time.time() - t0) * 1000)
        manifest = {
            "stage": stage,
            "complete": True,
            "input_fingerprint": input_fingerprint,
            "schema": out.schema.jsonValue(),
            "n_rows": int(sum(p["rows"] for p in parts)),
            "n_partitions": len(parts),
            "partitions": parts,
            "wall_ms": wall_ms,
            "written_at_epoch_s": int(t0),
            **(
                {"bucket_n": bucket_by[0], "bucket_cols": list(bucket_by[1])}
                if bucket_by is not None
                else {}
            ),
            **((extra() if callable(extra) else extra) or {}),
        }
        # atomic publish: tmp file + rename, so a kill mid-write can never
        # leave truncated JSON that bricks every later manifest() call
        tmp = d / (MANIFEST_NAME + ".tmp")
        tmp.write_text(json.dumps(manifest, indent=1))
        tmp.replace(d / MANIFEST_NAME)
        return out

    def run_stage(
        self,
        stage: str,
        input_fingerprint: str,
        compute: Callable[[], DataFrame],
        extra_metrics: Callable[[], dict] | None = None,
        bucket_by: tuple[int, list[str]] | None = None,
    ) -> DataFrame:
        """Resume-aware stage execution: skip compute when a matching complete
        checkpoint exists (the reference's 'each article read exactly once'
        discipline, lifted to stage level).

        ``extra_metrics`` runs after the stage's write and before its
        manifest is published; it reads what the write collected (a
        ``StageObservations`` the compute plan observed into) and starts no
        Spark job of its own."""
        if self.is_complete(stage, input_fingerprint):
            return self.read(stage)
        return self.write(stage, compute(), input_fingerprint, extra_metrics, bucket_by=bucket_by)


def input_fingerprint_of(path: str) -> str:
    """Cheap content fingerprint of an input dir/file: names+sizes+mtimes."""
    p = pathlib.Path(path)
    files = sorted(p.rglob("*.parquet")) if p.is_dir() else [p]
    sig = ";".join(f"{f.name}:{f.stat().st_size}:{int(f.stat().st_mtime)}" for f in files)
    return hashlib.sha256(sig.encode()).hexdigest()[:16]
