"""The benchmark's workloads: seeded inputs, one timed call into the engine's
public entry point, correctness checks that do not trust the engine, and the
per-layer numbers a traced run reads off its spans.

Why each workload exists is recorded in ``README.md`` next to this file.
"""

from __future__ import annotations

import hashlib
import json
import pathlib
import time

import numpy as np
import pandas as pd

from perfbench import inputs
from perfbench.trace import EventLog, Tracer

# The fingerprint and winnow kernels are timed over at most this many of the
# workload's own captions, as one batch (the session's Arrow batches hold up
# to 10k rows).
KERNEL_ROWS = 4000

IMAGE_STAGES = (
    "01_fingerprints", "02_candidates", "02b_anchors", "02b_substr",
    "03_verified", "04_clusters",
)
CURATION_STAGES = (
    "quality_filter", "pii_scrub", "exact_dedup", "near_dup", "sample", "write",
)


def digest(df: pd.DataFrame) -> str:
    cols = list(df.columns)
    rows = df.sort_values(cols).astype(str).agg("\t".join, axis=1)
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def read_parquet_dir(path: pathlib.Path, columns: list[str]) -> pd.DataFrame:
    parts = sorted(path.glob("*.parquet"))
    if not parts:
        return pd.DataFrame(columns=columns)
    return pd.concat([pd.read_parquet(p, columns=columns) for p in parts], ignore_index=True)


def kernel_rows_per_s(captions: list[str]) -> tuple[float, float]:
    """One core, in-process: ``functions.udfs.fingerprint_batch`` (the slim
    form the pipeline's UDF runs) and ``spec.winnow_anchors_batch`` over
    already-normalized text. Each is repeated until it has run 0.5 s."""
    from simhash_spark import spec
    from simhash_spark.config import DEFAULT_CONFIG as cfg
    from simhash_spark.functions.udfs import fingerprint_batch

    caps = captions[:KERNEL_ROWS]
    batch = pd.Series(caps)
    norm = [spec.normalize_for_substring(c) for c in caps]

    def rate(fn) -> float:
        n, t0 = 0, time.perf_counter()
        while n == 0 or time.perf_counter() - t0 < 0.5:
            fn()
            n += len(caps)
        return n / (time.perf_counter() - t0)

    fp = rate(lambda: fingerprint_batch(batch, cfg, emit_minhash=False))
    win = rate(lambda: spec.winnow_anchors_batch(norm, cfg.substr_window, cfg.substr_min_len))
    return fp, win


class Workload:
    name = ""
    entry = ""  # the engine entry point the timed call goes through

    def __init__(self, root: pathlib.Path, work: pathlib.Path, host: dict, seed: int):
        self.root, self.work, self.host, self.seed = root, work, host, seed
        self.meta: dict = {}
        self.input_dir = pathlib.Path()
        self.cache_hit = False

    # subclasses: prepare(), warm_up(spark), run_once(spark, rep) -> dict,
    # check(out) -> list[str], rows(), captions(), fingerprint_source(spark),
    # patch(tracer), layer_metrics(out, tracer, log) -> dict

    def n_files(self) -> int:
        return 2 * self.host["cores"]

    def cache(self, *sizes) -> inputs.InputCache:
        key = "-".join(str(x) for x in (self.name, *sizes, self.n_files(), f"s{self.seed}"))
        return inputs.InputCache(self.root, key, self.host["cores"])

    def warm_up(self, spark) -> None:
        """One untimed call on the full input. After a warm-up on a 200-row
        slice, the first timed call was 10-35% slower than the second."""
        self.run_once(spark, "warmup")


class ImagesBatch(Workload):
    """``plans.pipeline.run_pipeline`` with its default stages over a seeded
    image+caption corpus with one family of near-identical captions."""

    name = "images_batch"
    entry = "plans.pipeline.run_pipeline"
    N_ROWS = 3_000
    N_FAMILY = 330

    def prepare(self) -> None:
        cache = self.cache(self.N_ROWS, self.N_FAMILY)
        d, self.meta, self.cache_hit = cache.load_or_build(
            lambda out, pool: inputs.build_images(
                out, pool, self.seed, self.N_ROWS, self.N_FAMILY, self.n_files()
            )
        )
        self.input_dir = d / "corpus"
        self.truth_pairs = np.load(d / "truth_pairs.npy")
        self.ids = read_parquet_dir(self.input_dir, ["image_id"])["image_id"]

    def rows(self) -> int:
        return self.meta["n_rows"]

    def n_blocks(self) -> int:
        from simhash_spark.config import DEFAULT_CONFIG

        return DEFAULT_CONFIG.n_blocks  # run_pipeline's default config

    def captions(self) -> list[str]:
        return read_parquet_dir(self.input_dir, ["caption"])["caption"].fillna("").tolist()

    def run_once(self, spark, rep: str) -> dict:
        from simhash_spark.plans.pipeline import run_pipeline

        ckpt = self.work / f"ckpt_{rep}"
        t0 = time.perf_counter()
        run_pipeline(spark, str(self.input_dir), str(ckpt))
        wall = time.perf_counter() - t0
        return {"wall_s": wall, "ckpt": ckpt}

    def check(self, out: dict) -> list[str]:
        errors = []
        lab = read_parquet_dir(out["ckpt"] / "04_clusters" / "data", ["image_id", "cluster_id"])
        if lab["image_id"].duplicated().any():
            errors.append("an image_id appears more than once in 04_clusters")
        if set(lab["image_id"]) != set(self.ids):
            errors.append("04_clusters ids differ from the corpus ids")
        if not errors:
            # the frozen representative rule: a cluster's label is its min id
            mins = lab.groupby("cluster_id")["image_id"].min()
            if not (mins.index == mins.to_numpy()).all():
                errors.append("a cluster label is not the min id of its members")
        label = dict(zip(lab["image_id"].str[3:].astype(int), lab["cluster_id"]))
        out["recall"] = inputs.pair_recall(self.truth_pairs, label)
        out["digest"] = digest(lab)
        return errors

    def fingerprint_source(self, spark):
        return spark.read.parquet(str(self.input_dir))

    def patch(self, tracer: Tracer) -> None:
        from simhash_spark.plans import pipeline
        from simhash_spark.sources.catalog import CheckpointCatalog

        for fn in ("fingerprint_job", "candidate_job", "verify_job", "cluster_job",
                   "winnow_anchor_table", "verify_substring_pairs"):
            tracer.patch(pipeline, fn, f"build:{fn}")
        tracer.patch(CheckpointCatalog, "run_stage", lambda _self, stage, *a, **k: f"stage:{stage}")
        tracer.patch(CheckpointCatalog, "write", lambda _self, stage, *a, **k: f"write:{stage}")

    def layer_metrics(self, out: dict, tracer: Tracer, log: EventLog) -> dict:
        root = tracer.find("rep:traced")[0]
        man = {
            s: json.loads((out["ckpt"] / s / "_manifest.json").read_text()) for s in IMAGE_STAGES
        }
        wall = {s: m["wall_ms"] / 1000 for s, m in man.items()}
        n = {s: m["n_rows"] for s, m in man.items()}

        def span(name: str) -> dict:
            return tracer.find(name, under=root)[0]

        def build_s(fn: str, stage: str) -> float:
            return sum(tracer.duration(s) for s in tracer.find(f"build:{fn}", under=span(f"stage:{stage}")))

        _, cand_tasks = log.select(tracer.path_of(span("write:02_candidates")))
        stats = man["02_candidates"].get("bucket_stats", {})
        sub_pairs = man["02b_substr"].get("n_pairs", 0)
        m = {
            "candidates.s": build_s("candidate_job", "02_candidates") + wall["02_candidates"],
            "candidates.pairs_per_row": n["02_candidates"] / self.rows(),
            "candidates.max_bucket": max((v["max_bucket"] or 0 for v in stats.values()), default=0),
            "candidates.task_max_over_median": EventLog.max_over_median(cand_tasks),
            "candidates.shuffle_mb": EventLog.totals(cand_tasks)["shuffle_write_mb"],
            "verify.s": build_s("verify_job", "03_verified") + wall["03_verified"],
            "verify.yield": n["03_verified"] / max(1, n["02_candidates"] + n["02b_substr"]),
            "substring.anchors_s": build_s("winnow_anchor_table", "02b_anchors") + wall["02b_anchors"],
            "substring.verify_s": build_s("verify_substring_pairs", "02b_substr") + wall["02b_substr"],
            "substring.yield": n["02b_substr"] / sub_pairs if sub_pairs else 0.0,
            "cc.s": build_s("cluster_job", "04_clusters") + wall["04_clusters"],
            "cc.edges": n["03_verified"],
            "catalog.write_s": sum(wall.values()),
            "catalog.lineage_s": sum(
                tracer.duration(span(f"write:{s}")) - wall[s] for s in IMAGE_STAGES
            ),
            "catalog.metrics_s": sum(tracer.self_time(span(f"stage:{s}")) for s in IMAGE_STAGES),
            "catalog.mb_written": sum(
                p["bytes"] for m_ in man.values() for p in m_["partitions"]
            ) / 2**20,
        }
        for s in IMAGE_STAGES:
            m[f"stage.{s}_s"] = tracer.duration(span(f"stage:{s}"))
        return m


class TextCuration(Workload):
    """``jobs.run_curation.run_curation`` with ``substring=True,
    sample_rate=0.8`` over a seeded documents corpus."""

    name = "text_curation"
    entry = "jobs.run_curation.run_curation"
    N_DOCS = 2_000

    def prepare(self) -> None:
        cache = self.cache(self.N_DOCS)
        d, self.meta, self.cache_hit = cache.load_or_build(
            lambda out, pool: inputs.build_documents(out, self.seed, self.N_DOCS, self.n_files())
        )
        self.input_dir = d / "documents"
        self.truth_pairs = np.load(d / "truth_pairs.npy")

    def rows(self) -> int:
        return self.meta["n_docs"]

    def n_blocks(self) -> int:
        from simhash_spark.config import index_config_for

        # run_curation sizes its index from the exact-dedup survivors
        return index_config_for(len(self.meta["exact_survivors"])).n_blocks

    def captions(self) -> list[str]:
        return read_parquet_dir(self.input_dir, ["text"])["text"].fillna("").tolist()

    def run_once(self, spark, rep: str) -> dict:
        from jobs.run_curation import run_curation

        out_dir = self.work / f"curation_{rep}"
        t0 = time.perf_counter()
        stats = run_curation(
            spark, str(self.input_dir), str(out_dir), substring=True, sample_rate=0.8
        )
        wall = time.perf_counter() - t0
        return {"wall_s": wall, "out": out_dir, "stats": stats}

    def check(self, out: dict) -> list[str]:
        errors = []
        stats = out["stats"]
        q = next(s for s in stats["stages"] if s["stage"] == "quality_filter")
        if q["dropped"] != self.meta["dropped"]:
            errors.append(f"quality drops {q['dropped']} != reference {self.meta['dropped']}")
        exact = read_parquet_dir(out["out"] / "_stages" / "03_exact", ["doc_id"])["doc_id"]
        if sorted(exact.tolist()) != self.meta["exact_survivors"]:
            errors.append("exact-dedup survivors differ from the pandas reference")
        docs = read_parquet_dir(out["out"] / "documents", ["doc_id", "text"])
        if docs["doc_id"].duplicated().any():
            errors.append("a doc_id appears more than once in the output")
        if not set(docs["doc_id"]) <= set(self.meta["exact_survivors"]):
            errors.append("the output holds a doc the exact-dedup stage dropped")
        if len(docs) != stats["rows_out"]:
            errors.append("reported rows_out differs from the rows written")
        lab = read_parquet_dir(out["out"] / "_stages" / "04_clusters", ["doc_id", "cluster_id"])
        if sorted(lab["doc_id"].astype(int).tolist()) != self.meta["exact_survivors"]:
            errors.append("near-dup labels do not cover exactly the exact-dedup survivors")
        out["recall"] = inputs.pair_recall(
            self.truth_pairs, dict(zip(lab["doc_id"].astype(int), lab["cluster_id"]))
        )
        out["digest"] = digest(docs)
        return errors

    def fingerprint_source(self, spark):
        from pyspark.sql import functions as F

        return spark.read.parquet(str(self.input_dir)).select(
            F.col("doc_id").cast("string").alias("image_id"),
            F.col("text").alias("caption"),
            F.lit(0).cast("long").alias("phash"),
        )

    def patch(self, tracer: Tracer) -> None:
        from simhash_spark.operators import curation, dedup, textops
        from simhash_spark.plans import text_dedup

        for owner, fn in (
            (textops, "quality_filter"), (curation, "pii_scrub"),
            (dedup, "exact_dedup"), (text_dedup, "text_near_dup_clusters"),
            (dedup, "near_dup_keep_list"), (curation, "stratified_sample"),
        ):
            tracer.patch(owner, fn, f"build:{fn}")
        # the stats counts run_curation reports are eager jobs of their own
        from pyspark.sql.classic.dataframe import DataFrame

        for fn in ("count", "collect"):
            tracer.patch(DataFrame, fn, f"action:{fn}")

    def layer_metrics(self, out: dict, tracer: Tracer, log: EventLog) -> dict:
        walls = {s["stage"]: s["wall_s"] for s in out["stats"]["stages"]}
        return {f"curation.{s}_s": float(walls.get(s, 0.0)) for s in CURATION_STAGES}


WORKLOADS = {w.name: w for w in (ImagesBatch, TextCuration)}
