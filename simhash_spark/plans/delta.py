"""Batch-incremental (delta) maintenance of a near-duplicate index.

At web scale the corpus is append-mostly: a daily increment arrives next to
a fingerprinted + clustered base of 10^12 rows. Re-running the full pipeline
re-pays fingerprinting AND candidate generation over the whole base; this
module folds the increment in against checkpointed state. Per update it
touches only:

- the NEW rows' fingerprints (one UDF pass over the increment),
- buckets CONTAINING a new row (one semi-join of the base key table against
  the increment's keys — the base fingerprint checkpoint is scanned, never
  re-expanded; with the bucketed E1 checkpoint the verify re-joins are also
  exchange-free on the base side),
- clusters ADJACENT to a new verified pair (star edges reconstruct exactly
  their membership for the merge CC; every untouched cluster keeps its
  label verbatim, without entering the CC loop at all).

Equality contract (differential-tested in tests/test_delta.py): when no
bucket exceeds ``bucket_cap``, the updated labels are IDENTICAL to running
the full batch pipeline over base ∪ increment. Why: bucket keys are
per-row content hashes, so the union corpus's old–old candidate pairs are
exactly the base run's — connectivity the base labels already summarize;
the only genuinely new information is pairs touching an increment row, and
the star edges replay each touched component's membership into the merge
CC (labels are min-id, and the star vertex set is the full old component,
so the merged min is the true min). Candidate buckets past the cap
degrade to the same id-order chain as the batch path, over the bucket's
full contents; the delta keeps the chain edges touching a new row and
relies on the base labels for the old ones, so clusters agree for content
that actually verifies as duplicate. Substring anchors past the cap are
no exception to the contract: every chain edge there is a true pair
(incremental_substring_pairs).
"""

from __future__ import annotations

import json
import pathlib
from collections.abc import Callable
from dataclasses import asdict, dataclass, fields
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simhash_spark.config import DEFAULT_CONFIG, PipelineConfig, config_fingerprint
from simhash_spark.operators.candidates import (
    candidate_pairs,
    explode_all_keys,
    union_candidates,
)
from simhash_spark.operators.connected_components import connected_components
from simhash_spark.operators.dedup import exact_keep, exact_survivors
from simhash_spark.operators.substring import verify_substring_pairs, winnow_anchor_table
from simhash_spark.plans.pipeline import (
    fingerprint_job,
    singleton_labels,
    substring_tag,
    verify_job,
)
from simhash_spark.sources.catalog import (
    CheckpointCatalog,
    StageObservations,
    input_fingerprint_of,
)


def _pairs_touching_new(
    rows_all: DataFrame,
    rows_new: DataFrame,
    key: str,
    expand: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """(a, b, ...) pairs touching >= 1 increment id, from the (key, id, ...)
    rows of a key table: only buckets CONTAINING a new member are expanded
    — the full table is scanned once and semi-joined against the
    increment's (distinct) keys, so the cost is linear in |base rows| +
    |touched-bucket contents|, NOT in the base's pair volume — and each is
    expanded over its full contents (base ∪ new), so the cold/hot split
    matches the full run's. Old–old pairs inside touched buckets are
    dropped: the base labels already connect them."""
    touched = rows_all.join(rows_new.select(key).distinct(), key, "left_semi")
    pairs = expand(touched)
    new_ids = rows_new.select("id").distinct()
    pa = pairs.join(new_ids.withColumnRenamed("id", "a"), "a", "left_semi")
    pb = pairs.join(new_ids.withColumnRenamed("id", "b"), "b", "left_semi")
    return pa.unionByName(pb).dropDuplicates(["a", "b"])


def incremental_candidates(
    fp_new: DataFrame,
    fp_all: DataFrame,
    cfg: PipelineConfig,
    include_phash: bool = True,
) -> DataFrame:
    """Candidate pairs (a, b, src) touching >= 1 increment row, from the
    buckets of the packed key table that hold a new row."""
    return _pairs_touching_new(
        explode_all_keys(fp_all, cfg, include_phash=include_phash),
        explode_all_keys(fp_new, cfg, include_phash=include_phash),
        "k",
        lambda touched: candidate_pairs(touched, cfg),
    )


def incremental_substring_pairs(
    anchors_base: DataFrame,
    anchors_new: DataFrame,
    cfg: PipelineConfig,
) -> DataFrame:
    """Substring-stage delta: verified (a, b, src='substr') pairs touching
    >= 1 increment doc, without re-winnowing or re-reading the base corpus:
    the anchor occurrences carry the contexts that verify them.

    Anchors are content hashes, so the bucket index's touched-bucket rule
    applies. A hot anchor's chain edges touching a new doc connect it to
    every doc it shares a run with, since the old docs of one context
    class or run key share a run and so are one base component — the
    labels equal the full run's either side of the cap.
    """
    return _pairs_touching_new(
        anchors_base.unionByName(anchors_new),
        anchors_new,
        "anchor",
        lambda touched: verify_substring_pairs(touched, cfg),
    ).withColumn("src", F.lit("substr"))


def incremental_cluster_update(
    base_clusters: DataFrame,
    verified_new: DataFrame,
    fp_new: DataFrame,
) -> DataFrame:
    """Merge new verified pairs into existing (image_id, cluster_id) labels.

    CC runs over new pairs ∪ star edges (member -> old label) of the old
    clusters ADJACENT to a new pair — a graph linear in |new pairs| +
    |touched members|, independent of total corpus size. Untouched clusters
    bypass the loop and keep their labels; increment rows in no pair become
    singletons labeled by themselves (the frozen representative rule).
    """
    pair_ids = (
        verified_new.select(F.col("a").alias("image_id"))
        .unionByName(verified_new.select(F.col("b").alias("image_id")))
        .distinct()
    )
    touched_cids = (
        base_clusters.join(pair_ids, "image_id", "left_semi").select("cluster_id").distinct()
    )
    members = base_clusters.join(touched_cids, "cluster_id", "left_semi")
    # star edges replay the touched component: every member links to its old
    # label (itself the component's min member, so it is a member vertex too)
    star = members.where(F.col("image_id") != F.col("cluster_id")).select(
        F.col("image_id").alias("a"), F.col("cluster_id").alias("b")
    )
    labels = connected_components(verified_new.select("a", "b").unionByName(star))
    relabeled = labels.select(F.col("id").alias("image_id"), "cluster_id")
    untouched = base_clusters.join(touched_cids, "cluster_id", "left_anti")
    return relabeled.unionByName(untouched).unionByName(singleton_labels(labels, fp_new))


@dataclass
class DeltaResult:
    fingerprints_new: DataFrame
    verified_new: DataFrame
    clusters: DataFrame


def incremental_near_dup_update(
    base_fp: DataFrame,
    base_clusters: DataFrame,
    fp_new: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    include_phash: bool = True,
) -> DeltaResult:
    """One delta maintenance step over already-fingerprinted inputs:
    base_fp/base_clusters come from the previous run's checkpoints (E1/E4),
    fp_new from fingerprint_job/text_fingerprints over the increment."""
    fp_all = base_fp.unionByName(fp_new)
    cand = incremental_candidates(fp_new, fp_all, cfg, include_phash=include_phash)
    verified = verify_job(cand, fp_all, cfg, use_phash=include_phash)
    clusters = incremental_cluster_update(base_clusters, verified, fp_new)
    return DeltaResult(fp_new, verified, clusters)


# --------------------------------------------------------------------------
# Production surface: delta runs over CheckpointCatalog state (jobs/run_delta)
#
# A delta catalog stores ONLY increment-sized stages (00b_bytes_delta on
# byte-exact chains, 01_fingerprints_delta, 02b_anchors_delta,
# 02_candidates_delta, 03_verified_delta) plus the full
# updated label table (04_clusters — the narrow consumer artifact) and a
# `_delta_base.json` pointer to the catalog it extends. State that must span
# the whole corpus (fingerprints, anchors) is never rewritten: readers union
# the chain root's table with each link's delta table — the Iceberg
# append-snapshot shape expressed over the parquet backend. Chains grow one
# plan-union per increment; a periodic compact_chain (below) resets the root
# without recomputing anything.

DELTA_POINTER = "_delta_base.json"


def _delta_base_of(ckpt_path: str | pathlib.Path) -> str | None:
    p = pathlib.Path(ckpt_path) / DELTA_POINTER
    return json.loads(p.read_text())["base"] if p.exists() else None


def catalog_chain(ckpt_path: str | pathlib.Path) -> list[str]:
    """[root full-run catalog, delta 1, ..., this catalog] — oldest first."""
    chain: list[str] = []
    cur: str | None = str(ckpt_path)
    while cur is not None:
        if cur in chain:
            raise RuntimeError(f"delta chain cycle at {cur}")
        chain.append(cur)
        cur = _delta_base_of(cur)
    return list(reversed(chain))


def read_chain_stage(
    spark: SparkSession, ckpt_path: str | pathlib.Path, root_stage: str, delta_stage: str
) -> DataFrame:
    """Union a corpus-spanning stage across the delta chain: the root's full
    table plus each subsequent catalog's increment-only table."""
    chain = catalog_chain(ckpt_path)
    dfs = [CheckpointCatalog(spark, chain[0]).read(root_stage)]
    dfs += [CheckpointCatalog(spark, c).read(delta_stage) for c in chain[1:]]
    return reduce(lambda a, b: a.unionByName(b), dfs)


def run_metadata(
    cfg: PipelineConfig,
    input_path: str | list[str],
    enable_substring: bool,
    include_phash: bool,
    quality_filter: bool,
    byte_exact: bool,
) -> dict:
    """The run record a catalog's fingerprint stage writes into its manifest
    (01_fingerprints of a run_pipeline or compacted root, 01_fingerprints_delta
    of a link); chain_run_metadata reads it back. The delta path rebuilds
    the EXACT root config and stage flags from it — bucket keys depend on
    them, so an increment folded in under a different config would silently
    miss candidates; recording them makes config drift detectable."""
    return {
        "config": asdict(cfg),
        "enable_substring": enable_substring,
        "include_phash": include_phash,
        "quality_filter": quality_filter,
        "byte_exact": byte_exact,
        "input_path": input_path,
    }


def chain_run_metadata(spark: SparkSession, ckpt_path: str | pathlib.Path) -> dict:
    """Root run's recorded config + flags, and every link's input path."""
    chain = catalog_chain(ckpt_path)
    root = CheckpointCatalog(spark, chain[0]).manifest("01_fingerprints")
    if not root or "config" not in root:
        raise RuntimeError(
            f"{chain[0]} has no 01_fingerprints manifest with a recorded config — "
            "the delta path needs a base produced by run_pipeline (current version)"
        )
    stale = sorted(set(root["config"]) - {f.name for f in fields(PipelineConfig)})
    if stale:
        raise RuntimeError(
            f"{chain[0]} records config keys {stale} that PipelineConfig no longer "
            "has: its stages were built by an earlier version of the engine — "
            "rebuild the base with run_pipeline"
        )
    if root.get("quality_overrides"):
        raise RuntimeError(
            f"{chain[0]} was quality-filtered with non-default thresholds "
            f"{root['quality_overrides']}, which the engine no longer applies: "
            "rebuild the base with run_pipeline"
        )
    # a run_pipeline root records one input path; a compacted root records
    # the list of every path its chain folded in
    rp = root["input_path"]
    paths = list(rp) if isinstance(rp, list) else [rp]
    for c in chain[1:]:
        m = CheckpointCatalog(spark, c).manifest("01_fingerprints_delta")
        if not m:
            raise RuntimeError(f"{c} is not a complete delta catalog")
        paths.append(m["input_path"])
    return {
        "config": root["config"],
        "enable_substring": root["enable_substring"],
        "include_phash": root["include_phash"],
        # pre-quality-filter chains have no key -> False (additive upgrade)
        "quality_filter": root.get("quality_filter", False),
        "byte_exact": root.get("byte_exact", False),
        "input_paths": paths,
    }


def _require_anchor_contexts(spark: SparkSession, ckpt_path: str | pathlib.Path) -> None:
    """Raise unless every anchor table of the chain carries the occurrence
    contexts (``ctx``) the substring stage verifies from: a catalog written
    before anchors carried them holds bare (id, anchor) rows. Reads the
    manifests' recorded schemas only."""
    chain = catalog_chain(ckpt_path)
    for link, stage in [(chain[0], "02b_anchors")] + [(c, "02b_anchors_delta") for c in chain[1:]]:
        m = CheckpointCatalog(spark, link).manifest(stage) or {}
        if "ctx" not in {f["name"] for f in m.get("schema", {}).get("fields", [])}:
            raise RuntimeError(
                f"{link} has no {stage} table with anchor contexts (ctx): it was "
                "written before the anchor table carried them, so the substring "
                "stage cannot verify against it — rebuild the base with run_pipeline"
            )


def run_delta(
    spark: SparkSession,
    base_checkpoint: str,
    increment_path: str,
    checkpoint_path: str,
    cfg: PipelineConfig | None = None,
) -> DeltaResult:
    """Fold one increment into a completed run's checkpoint state.

    ``base_checkpoint`` is a run_pipeline catalog OR a previous run_delta
    catalog (chains compose). The config and stage flags are restored from
    the chain root's manifest; passing ``cfg`` asserts it matches — bucket
    keys depend on the config, so an increment folded in under a different
    one would silently miss candidates (the check makes drift loud).

    Byte-exact bases (run_pipeline ``byte_exact=True``) fold incrementally
    too: the increment resolves against the chain's 00b byte index (base
    keeper wins pre-existing digests; new digest groups keep their
    within-increment min id — the full-run min, since the group lives
    wholly in the increment), under an exact per-digest add-only guard
    that raises if an increment row would DEMOTE a base keeper (the one
    case batch folding cannot express; out-of-order byte arrivals need a
    fresh full run). With the guard green, the delta labels equal the full
    byte-exact run's (tests/test_delta.py).

    Resumable like run_pipeline: every delta stage lands in the new catalog
    under a lineage fingerprint that embeds the base's, so a crashed delta
    rerun skips complete stages and a changed base/increment/config recomputes.
    """
    if pathlib.Path(checkpoint_path).resolve() == pathlib.Path(base_checkpoint).resolve():
        # a self-pointing chain would make every catalog_chain walk raise
        # "delta chain cycle" forever AND let this run overwrite the base's
        # 04_clusters stage — fail before anything is read or written
        raise ValueError(
            "run_delta: checkpoint_path must differ from base_checkpoint "
            f"(both resolve to {pathlib.Path(checkpoint_path).resolve()})"
        )
    meta = chain_run_metadata(spark, base_checkpoint)
    base_cfg = PipelineConfig(**meta["config"])
    if cfg is None:
        cfg = base_cfg
    elif config_fingerprint(cfg) != config_fingerprint(base_cfg):
        raise RuntimeError(
            "config drift: the base chain was built with "
            f"{meta['config']}, which does not match the config passed to run_delta"
        )
    byte_exact = meta["byte_exact"]
    enable_substring = meta["enable_substring"]
    include_phash = meta["include_phash"]
    quality_filter = meta["quality_filter"]
    if enable_substring:
        _require_anchor_contexts(spark, base_checkpoint)

    cat = CheckpointCatalog(spark, checkpoint_path)
    ptr = pathlib.Path(checkpoint_path) / DELTA_POINTER
    if ptr.exists():
        prev = json.loads(ptr.read_text())["base"]
        if prev != str(base_checkpoint):
            raise RuntimeError(
                f"{checkpoint_path} already extends {prev}, not {base_checkpoint}"
            )
    else:
        ptr.write_text(json.dumps({"base": str(base_checkpoint)}))

    base_cat = CheckpointCatalog(spark, base_checkpoint)
    base01 = base_cat.manifest("01_fingerprints") or base_cat.manifest(
        "01_fingerprints_delta"
    )
    in_fp = (
        f"{base01['input_fingerprint']}+{input_fingerprint_of(increment_path)}"
        f"-{config_fingerprint(cfg)}{substring_tag(enable_substring)}-ph{int(include_phash)}"
        + ("-qf1" if quality_filter else "")
        + ("-bx1" if byte_exact else "")
    )

    src_new = spark.read.parquet(increment_path)
    if quality_filter:
        # the increment must pass the SAME keep/drop rules as the base —
        # otherwise dropped-quality rows would enter the index only for
        # rows that happened to arrive late (delta-equality violation)
        from simhash_spark.operators.search import image_quality_filter

        src_new = (
            image_quality_filter(src_new)
            .where(F.col("keep") == 1)
            .drop("keep", "reason")
        )
    if byte_exact:
        # 00b delta: fold the increment into the byte-exact tier (stage 00b
        # of the base run). The base's (image_id, digest, keep_id) rows ARE
        # the byte index; like every other delta stage, the base side is
        # scanned once and semi-joined against the increment's digests —
        # never re-expanded. Resolved keeper per increment row: the base
        # keeper where the digest pre-exists, else the within-increment
        # min id (new digest groups live wholly in the increment, so that
        # IS the full-run min). NULL-bytes rows never group (the frozen
        # absent-content rule) and ride through unsuppressed.
        #
        # ADD-ONLY GUARD (exact, per digest — not a blanket id-monotonicity
        # requirement): the batch keeper rule is min image_id per digest
        # group, so folding is equality-preserving iff no increment row
        # undercuts the base keeper of a digest it shares — such a row
        # would DEMOTE an already-fingerprinted, already-clustered keeper,
        # which an add-only fold cannot express. That case raises with the
        # offending rows; out-of-order arrivals need a fresh full run.
        bx_base = read_chain_stage(
            spark, base_checkpoint, "00b_bytes", "00b_bytes_delta"
        )
        bx_src_new = src_new
        bx_obs = StageObservations()

        def _bytes_delta() -> DataFrame:
            # keep_id here is the within-increment min id
            inc = exact_keep(bx_src_new, "image_id", "bytes")
            # keep_id is constant within a digest group in every chain link,
            # and the guard (below, enforced on every prior link too) makes
            # the EARLIEST link's keeper the min across links — min() picks it
            base_keep = (
                bx_base.join(inc.select("digest").distinct(), "digest", "left_semi")
                .groupBy("digest")
                .agg(F.min("keep_id").alias("base_keep_id"))
            )
            bx = inc.join(base_keep, "digest", "left").select(
                "image_id",
                "digest",
                F.coalesce("base_keep_id", "keep_id").alias("keep_id"),
            )
            # the manifest records how many increment rows the index
            # suppressed and how many would demote a base keeper, both
            # counted during the stage's own write
            return bx_obs.observe(
                bx,
                F.sum((F.col("image_id") != F.col("keep_id")).cast("long")).alias(
                    "byte_suppressed"
                ),
                F.sum((F.col("image_id") < F.col("keep_id")).cast("long")).alias(
                    "byte_demoting"
                ),
            )

        bx_new = cat.run_stage(
            "00b_bytes_delta", in_fp, _bytes_delta, extra_metrics=bx_obs.get
        )
        # the count lives in the manifest, so a resumed stage raises too;
        # the scan names the offending rows, and stands in for a count an
        # AQE-pruned observation never made
        if cat.manifest("00b_bytes_delta").get("byte_demoting") != 0 and (
            demoted := bx_new.where(F.col("image_id") < F.col("keep_id")).limit(3).collect()
        ):
            raise ValueError(
                "run_delta: increment rows undercut base byte-tier keepers "
                "(min-id rule would demote an already-indexed row): "
                + ", ".join(f"{r['image_id']} < {r['keep_id']}" for r in demoted)
                + " — out-of-order byte arrivals need a fresh full run"
            )
        src_new = exact_survivors(src_new, bx_new, "image_id")
    fp_new = cat.run_stage(
        "01_fingerprints_delta",
        in_fp,
        lambda: fingerprint_job(spark, src_new, cfg),
        extra_metrics=lambda: run_metadata(
            cfg, increment_path, enable_substring, include_phash, quality_filter, byte_exact
        ),
    )
    fp_base = read_chain_stage(
        spark, base_checkpoint, "01_fingerprints", "01_fingerprints_delta"
    )
    fp_all = fp_base.unionByName(fp_new)

    if enable_substring:
        anch_new = cat.run_stage(
            "02b_anchors_delta",
            in_fp,
            lambda: winnow_anchor_table(src_new.select("image_id", "caption"), cfg),
        )
        anch_base = read_chain_stage(
            spark, base_checkpoint, "02b_anchors", "02b_anchors_delta"
        )

    def _cand() -> DataFrame:
        c = incremental_candidates(fp_new, fp_all, cfg, include_phash=include_phash)
        if not enable_substring:
            return c
        sub = incremental_substring_pairs(anch_base, anch_new, cfg)
        return union_candidates(c, sub)

    cand = cat.run_stage("02_candidates_delta", in_fp, _cand)
    verified = cat.run_stage(
        "03_verified_delta",
        in_fp,
        lambda: verify_job(cand, fp_all, cfg, use_phash=include_phash),
    )
    base_clusters = base_cat.read("04_clusters")
    clusters = cat.run_stage(
        "04_clusters",
        in_fp,
        lambda: incremental_cluster_update(base_clusters, verified, fp_new),
    )
    return DeltaResult(fp_new, verified, clusters)


def compact_chain(
    spark: SparkSession,
    tip_checkpoint: str,
    out_checkpoint: str,
) -> None:
    """Compact a delta chain into a fresh root catalog (the periodic
    'rewrite the snapshot' step every append-log design needs — each
    run_delta link adds one plan-union to every chain read, so a chain left
    to grow pays O(links) scan setup per stage read and its readers depend
    on every link directory staying alive).

    NO recompute: the fingerprint UDF never runs. Cost is one bucketed write
    of the unioned fingerprint table (the same image_id clustering
    run_pipeline gives its E1 checkpoint, so post-compaction deltas keep the
    exchange-free verify joins), one write of the unioned anchor table, and
    one copy of the tip's full label table — all linear scans. The
    increment-sized candidate/verified stages are per-run audit artifacts
    and are not carried forward. ``run_delta`` chains compose off the
    compacted catalog exactly as off a run_pipeline catalog
    (chain length resets to 1); equality is gated in tests/test_delta.py.

    On the Iceberg production backend this is ``rewrite_data_files`` +
    snapshot expiry; here it is expressed over the parquet backend.
    """
    meta = chain_run_metadata(spark, tip_checkpoint)
    cfg = PipelineConfig(**meta["config"])
    enable_substring = meta["enable_substring"]
    chain = catalog_chain(tip_checkpoint)
    # the compacted catalog must be a NEW directory OUTSIDE the chain:
    # run_stage sees a different input fingerprint, and CheckpointCatalog
    # .write clobbers the stage data dir BEFORE executing the lazy plan
    # that reads it — compacting a chain into one of its own links would
    # rmtree the only copy of the fingerprint table mid-read
    out_r = pathlib.Path(out_checkpoint).resolve()
    for link in chain:
        if out_r == pathlib.Path(link).resolve():
            raise ValueError(
                f"compact_chain: out_checkpoint {out_checkpoint!r} is a link of "
                "the chain being compacted — writing there would destroy the "
                "source tables; pass a fresh directory"
            )
    tip = CheckpointCatalog(spark, chain[-1])
    tip01 = tip.manifest("01_fingerprints_delta") or tip.manifest("01_fingerprints")
    in_fp = f"compact:{tip01['input_fingerprint']}"

    cat = CheckpointCatalog(spark, out_checkpoint)
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cat.run_stage(
        "01_fingerprints",
        in_fp,
        lambda: read_chain_stage(
            spark, tip_checkpoint, "01_fingerprints", "01_fingerprints_delta"
        ),
        extra_metrics=lambda: {
            **run_metadata(
                cfg,
                meta["input_paths"],
                enable_substring,
                meta["include_phash"],
                meta["quality_filter"],
                meta["byte_exact"],
            ),
            "compacted_from": chain,
        },
        bucket_by=(n_buckets, ["image_id"]),
    )
    if meta["byte_exact"]:
        # the byte index is corpus-spanning state exactly like fingerprints:
        # post-compaction deltas resolve keepers against it
        cat.run_stage(
            "00b_bytes",
            in_fp,
            lambda: read_chain_stage(
                spark, tip_checkpoint, "00b_bytes", "00b_bytes_delta"
            ),
        )
    if enable_substring:
        cat.run_stage(
            "02b_anchors",
            in_fp,
            lambda: read_chain_stage(
                spark, tip_checkpoint, "02b_anchors", "02b_anchors_delta"
            ),
        )
    cat.run_stage("04_clusters", in_fp, lambda: tip.read("04_clusters"))


def text_incremental_clusters(
    base_docs: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """documents-table convenience: cluster the base corpus, then fold the
    increment in via the delta path; returns (id_col, cluster_id) for the
    UNION corpus — by the equality contract, identical to the full-run
    labels (driver query ``incremental_near_dup_clusters`` checks exactly
    that against the full-corpus oracle)."""
    from simhash_spark.plans.text_dedup import text_fingerprints, text_near_dup_clusters

    base_labels = text_near_dup_clusters(base_docs, id_col, text_col, cfg).select(
        F.col(id_col).alias("image_id"), "cluster_id"
    )
    fp_base = text_fingerprints(base_docs, id_col, text_col, cfg)
    fp_new = text_fingerprints(new_docs, id_col, text_col, cfg)
    res = incremental_near_dup_update(fp_base, base_labels, fp_new, cfg, include_phash=False)
    return res.clusters.select(F.col("image_id").alias(id_col), "cluster_id")
