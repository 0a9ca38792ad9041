"""spark-submit entry point for the near-duplicate pipeline.

Usage (BASELINE.json:6 ship shape):

    spark-submit --py-files engine.zip jobs/run_pipeline.py \
        --input  /path/to/images_parquet_or_iceberg_table \
        --checkpoint /path/to/checkpoints \
        --output /path/to/clusters_out \
        [--parallelism 32] [--no-substring] [--no-phash] \
        [--byte-exact [--tier-labels [--pixel-embeddings]]]

With --byte-exact the run IS the image tier ladder in production shape:
quality (optional) -> byte-exact md5 dedup (stage 00b, survivors feed every
later stage — the funnel order) -> the near-dup pipeline -> optional SemDeDup
semantic rung; --tier-labels publishes <output>/tier_labels, the per-image
attribution of the ONE tier that removed it, assembled from the run's own
stage outputs with zero recompute.

Local test: ``python jobs/run_pipeline.py --input ... --output ...`` (creates
its own local[N] session). Under spark-submit, uses the provided session conf.

Input contract: one row per image_id (the id is the dedup key; duplicate ids
would duplicate label rows downstream). The fixture generator's directory
also holds truth_* parquets — point --input at its images.parquet file.
"""

from __future__ import annotations

import argparse
import json
import pathlib
import sys
import time

try:  # under spark-submit --py-files the engine zip is already importable
    import simhash_spark  # noqa: F401
except ImportError:  # plain `python jobs/run_pipeline.py` from a checkout
    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))


# Id sets at or under this count broadcast to the per-payload decode scans of
# the semantic rung and the alignment filter (~30 B/id -> ~150 MB at the
# ceiling, well inside executor memory); above it restrict_to_ids decodes
# scan-locally and semi-joins the slim output rows instead.
SEMANTIC_BROADCAST_MAX_IDS = 5_000_000


def restrict_to_ids(src, ids, n_ids: int, per_row):
    """``per_row(src)`` restricted to the rows whose image_id is in ``ids``
    (``n_ids`` rows), without payload bytes ever riding an exchange (the
    00b invariant). At or under SEMANTIC_BROADCAST_MAX_IDS the id set ships
    to the scan, so the semi-join is a BroadcastHashJoin and bytes stay in
    their input partitions; above it a sort-merge semi-join would exchange
    every payload by image_id, so ``per_row`` runs scan-locally over all of
    ``src`` and only its slim output rows semi-join down to ``ids`` —
    paying per-row work on the extra rows, never a byte shuffle. ``per_row``
    must be a per-row pure function of its input rows, so both plans yield
    the same rows."""
    from pyspark.sql import functions as F

    if n_ids <= SEMANTIC_BROADCAST_MAX_IDS:
        return per_row(src.join(F.broadcast(ids), "image_id", "left_semi"))
    return per_row(src).join(ids, "image_id", "left_semi")


def _quality_hist(spark, ckpt: str) -> dict:
    """Per-reason drop counts from the 00_quality stage checkpoint."""
    from simhash_spark.sources.catalog import CheckpointCatalog

    rows = CheckpointCatalog(spark, ckpt).read("00_quality").collect()
    return {r["reason"]: r["n"] for r in rows if r["reason"] != "ok"}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="simhash_spark near-duplicate pipeline")
    ap.add_argument("--input", required=True, help="images parquet path")
    ap.add_argument("--output", required=True, help="output dir for clusters parquet")
    ap.add_argument("--checkpoint", default=None, help="stage checkpoint dir (default: <output>/_checkpoints)")
    ap.add_argument("--parallelism", type=int, default=None)
    ap.add_argument("--no-substring", action="store_true")
    ap.add_argument("--no-phash", action="store_true")
    ap.add_argument(
        "--cc-ckpt-every",
        type=int,
        default=0,
        help="write a fault-tolerant catalog checkpoint of the CC edge set "
        "every k rounds (0 = localCheckpoint only)",
    )
    ap.add_argument(
        "--quality-filter",
        action="store_true",
        help="drop low-quality rows (DataComp-style resolution/aspect/caption "
        "rules, operators/search.py) BEFORE fingerprinting; the per-reason "
        "histogram lands in the 00_quality stage manifest",
    )
    ap.add_argument(
        "--keep-rule",
        choices=["min-id", "best-resolution"],
        default="min-id",
        help="which cluster member survives in keep_list: 'min-id' (frozen "
        "representative rule, pure projection) or 'best-resolution' (highest "
        "w*h, ties min id — operators/dedup.near_dup_keep_best; one slim "
        "(image_id,w,h) re-scan + one cluster_id window exchange)",
    )
    ap.add_argument(
        "--byte-exact",
        action="store_true",
        help="run byte-exact dedup (md5 over the binary bytes column, keeper "
        "= min image_id, NULL bytes pass) as stage 00b BEFORE fingerprinting "
        "— the image tier ladder's first rung; every re-upload dropped here "
        "never pays any downstream stage. run_delta folds increments into "
        "the 00b index under an exact per-digest add-only guard (raises if "
        "an increment row would demote a base keeper; out-of-order byte "
        "arrivals need a fresh full run)",
    )
    ap.add_argument(
        "--tier-labels",
        action="store_true",
        help="write <output>/tier_labels — per-image attribution of the ONE "
        "tier that removed it (exact/near/[semantic]/kept), the frozen "
        "ladder rules of plans.pipeline.image_tier_labels assembled from "
        "this run's own stage outputs (no recompute). Covers the run's "
        "corpus: with --quality-filter, quality-dropped rows are accounted "
        "in the 00_quality manifest, not here. Requires --byte-exact",
    )
    ap.add_argument(
        "--pixel-embeddings",
        action="store_true",
        help="with --tier-labels: add the SEMANTIC rung — SemDeDup over "
        "centered block-mean pixel embeddings (multimodal.image_embeddings; "
        "swap for a CLIP encoder in production) of the near tier's "
        "survivors only (the funnel order: the decode pass never touches "
        "rows an earlier tier already dropped)",
    )
    ap.add_argument(
        "--semantic-tau",
        type=float,
        default=0.9,
        help="semantic-tier cosine threshold (SemDeDup tau)",
    )
    ap.add_argument(
        "--semantic-centroids",
        type=int,
        default=8,
        help="SemDeDup quantizer size k; pick so cells average ~corpus/k "
        "rows (parallelism AND per-task memory are both set by k)",
    )
    ap.add_argument(
        "--alignment-filter",
        action="store_true",
        help="write <output>/alignment — the cross-modal image-caption "
        "alignment verdict (operators/multimodal.caption_pixel_alignment, "
        "the DataComp CLIP-score-filter shape) over the KEPT rows only (the "
        "funnel order: the per-payload decode pays only for dedup "
        "survivors). A curation verdict table, deliberately NOT folded into "
        "keep_list (alignment is orthogonal to dedup — downstream training "
        "jobs intersect keep_list is_kept=1 with alignment keep=1); "
        "absent-signal rows pass per the operator's frozen rules",
    )
    ap.add_argument(
        "--alignment-tau",
        type=int,
        default=8500,
        help="alignment threshold in basis points of cosine (align_bp < tau "
        "drops as 'misaligned')",
    )
    ap.add_argument(
        "--n-blocks",
        type=int,
        default=None,
        help="pigeonhole block count override; default: corpus-size-adaptive "
        "(config.index_config_for — 16-bit keys go quadratic past ~1e5 rows)",
    )
    args = ap.parse_args(argv)
    if args.tier_labels and not args.byte_exact:
        ap.error("--tier-labels requires --byte-exact (the ladder's first rung)")
    if args.pixel_embeddings and not args.tier_labels:
        ap.error("--pixel-embeddings requires --tier-labels")

    from dataclasses import replace

    from simhash_spark.config import DEFAULT_CONFIG, index_config_for
    from simhash_spark.plans.pipeline import run_pipeline
    from simhash_spark.session import get_spark

    spark = get_spark(parallelism=args.parallelism, app_name="simhash-pipeline")
    ckpt = args.checkpoint or str(pathlib.Path(args.output) / "_checkpoints")
    t0 = time.time()
    if args.n_blocks is not None:
        cfg = replace(DEFAULT_CONFIG, n_blocks=args.n_blocks)
    else:
        # one metadata-cheap count picks the index scale class; at Iceberg/
        # parquet this is a footer read, not a data scan
        cfg = index_config_for(spark.read.parquet(args.input).count())
    res = run_pipeline(
        spark,
        args.input,
        ckpt,
        cfg,
        enable_substring=not args.no_substring,
        include_phash=not args.no_phash,
        cc_ckpt_every=args.cc_ckpt_every,
        quality_filter=args.quality_filter,
        byte_exact=args.byte_exact,
    )
    from simhash_spark.operators.dedup import near_dup_keep_best, near_dup_keep_list

    out = pathlib.Path(args.output)
    res.clusters.write.mode("overwrite").parquet(str(out / "clusters"))
    res.verified.write.mode("overwrite").parquet(str(out / "verified_pairs"))
    # the dedup DECISION (one representative per cluster) — the artifact a
    # downstream training job actually consumes
    if args.keep_rule == "best-resolution":
        from pyspark.sql import functions as F

        # column pruning keeps this re-scan to (image_id, w, h); with
        # --quality-filter on, clusters hold a subset of the input ids and
        # the inner join inside keep_best drops the filtered rows
        scores = spark.read.parquet(args.input).select(
            "image_id",
            (F.col("w").cast("long") * F.col("h").cast("long")).alias("score"),
        )
        keep = near_dup_keep_best(res.clusters, scores, id_col="image_id", score_col="score")
    else:
        keep = near_dup_keep_list(res.clusters, id_col="image_id")
    # written AFTER the tier block: when the semantic rung runs it demotes
    # whole clusters, and keep_list must agree with tier_labels on them

    tier_counts: dict = {}
    sem = None
    if args.tier_labels:
        # Assemble the frozen-ladder attribution from this run's OWN stage
        # outputs — zero recompute: exact drops from the 00b_bytes
        # checkpoint, near drops from 04_clusters (which already ran on the
        # byte tier's survivors), semantic drops (optional) from SemDeDup
        # over pixel embeddings of the NEAR tier's survivors only.
        from pyspark.sql import functions as F

        from simhash_spark.plans.pipeline import assemble_tiers, run_tier_drops
        from simhash_spark.sources.catalog import CheckpointCatalog

        corpus, drops = run_tier_drops(
            CheckpointCatalog(spark, ckpt).read("00b_bytes"), res.clusters
        )
        if args.pixel_embeddings:
            from simhash_spark.operators.ann import ivf_fit
            from simhash_spark.operators.dedup import semdedup_keep
            from simhash_spark.operators.multimodal import image_embeddings

            surv2 = res.clusters.where(
                F.col("image_id") == F.col("cluster_id")
            ).select("image_id")
            emb = restrict_to_ids(
                spark.read.parquet(args.input),
                surv2,
                surv2.count(),
                lambda src: image_embeddings(src)
                .where(F.col("error").isNull())
                .select("image_id", "embedding"),
            )
            # pin the embeddings: the decode+embed pass is the run's most
            # expensive stage and feeds THREE actions (the emptiness probe,
            # ivf_fit's driver sample, the semdedup kernel) — unpinned, the
            # whole corpus decode would run once per action (the CLAUDE.md
            # recompute-per-branch rule). Order-safety: ivf_fit
            # canonical-sorts its training sample, so the quantizer is a
            # pure function of the vector multiset, not the parquet layout.
            emb.write.mode("overwrite").parquet(str(out / "_sem_embeddings"))
            emb = spark.read.parquet(str(out / "_sem_embeddings"))
            # a corpus whose every payload quarantines (or is NULL) has no
            # embeddings: the rung is a no-op, not an ivf_fit crash
            if emb.take(1):
                cent = ivf_fit(
                    emb, n_centroids=args.semantic_centroids, n_iter=8,
                    vec_col="embedding",
                )
                sem = semdedup_keep(
                    emb, cent, threshold=args.semantic_tau,
                    id_col="image_id", vec_col="embedding",
                )
                # pin the slim decision too: it feeds the tier_labels write
                # AND both sides of the keep_list rep-map self-join
                sem.write.mode("overwrite").parquet(str(out / "_sem_keep"))
                sem = spark.read.parquet(str(out / "_sem_keep"))
                drops = drops.unionByName(
                    sem.where(F.col("is_kept") == 0).select(
                        "image_id", F.lit("semantic").alias("tier")
                    )
                )
        tiers = assemble_tiers(corpus, drops)
        tiers.write.mode("overwrite").parquet(str(out / "tier_labels"))
        tier_counts = {
            r["tier"]: r["n"]
            for r in spark.read.parquet(str(out / "tier_labels"))
            .groupBy("tier")
            .agg(F.count("*").alias("n"))
            .collect()
        }

    if sem is not None:
        # the keep decision must agree with the ladder: a near cluster whose
        # representative the semantic rung dropped is a semantic duplicate of
        # another cell member, so EVERY member of that cluster is demoted
        # (is_kept=0) and keep_id points at the surviving side — for the
        # min-id rule this makes keep_list's kept set identical to
        # tier_labels' is_kept=1 set; for best-resolution it means "best
        # member of each semantically surviving cluster". All joins are slim
        # (id, id) tables; the rep map is semantic-drop-bounded.
        from pyspark.sql import functions as F

        # the rung's group keeper is a cluster REPRESENTATIVE (min-id rep);
        # under --keep-rule best-resolution that rep may not be its own
        # cluster's chosen keeper, so resolve one hop further through the
        # pre-demotion keep decision — keep_id then always lands on a row
        # that is itself is_kept=1 (its cluster survived the rung, so the
        # demotion below never touches it): referential integrity holds for
        # BOTH keep rules.
        rep_keep = keep.select(
            F.col("image_id").alias("sem_keep_id"),
            F.col("keep_id").alias("sem_final_id"),
        )
        rep_map = (
            sem.where(F.col("is_kept") == 0)
            .join(
                sem.where(F.col("is_kept") == 1).select(
                    "group_id", F.col("image_id").alias("sem_keep_id")
                ),
                "group_id",
            )
            .join(rep_keep, "sem_keep_id")
            .select(
                F.col("image_id").alias("cluster_id"),
                F.col("sem_final_id").alias("sem_keep_id"),
            )
        )
        keep = (
            keep.join(res.clusters.select("image_id", "cluster_id"), "image_id")
            .join(rep_map, "cluster_id", "left")
            .select(
                "image_id",
                F.coalesce("sem_keep_id", "keep_id").alias("keep_id"),
                F.when(F.col("sem_keep_id").isNotNull(), F.lit(0))
                .otherwise(F.col("is_kept"))
                .alias("is_kept"),
            )
        )
    keep.write.mode("overwrite").parquet(str(out / "keep_list"))
    # the stats count below is a SECOND action on keep; with the semantic
    # demotion its lineage includes the decode+embed rung — read the
    # written artifact back instead of recomputing it
    keep = spark.read.parquet(str(out / "keep_list"))
    kept_n = keep.where("is_kept = 1").count()

    align_stats: dict = {}
    if args.alignment_filter:
        # Alignment over the kept set only — the funnel order (the decode
        # pass never touches rows dedup already dropped).
        from simhash_spark.operators.multimodal import caption_pixel_alignment

        align = restrict_to_ids(
            spark.read.parquet(args.input),
            keep.where("is_kept = 1").select("image_id"),
            kept_n,
            lambda src: caption_pixel_alignment(src, tau_bp=args.alignment_tau),
        )
        align.write.mode("overwrite").parquet(str(out / "alignment"))
        align = spark.read.parquet(str(out / "alignment"))
        align_stats = {
            "misaligned": align.where("keep = 0").count(),
            "alignment_tau_bp": args.alignment_tau,
        }

    stats = {
        "rows": res.fingerprints.count(),
        **(
            {"quality_dropped": _quality_hist(spark, ckpt)} if args.quality_filter else {}
        ),
        "candidates": res.candidates.count(),
        "verified": res.verified.count(),
        "clusters": res.clusters.select("cluster_id").distinct().count(),
        "kept": kept_n,
        **align_stats,
        **({"tiers": tier_counts} if tier_counts else {}),
        "wall_s": round(time.time() - t0, 2),
    }
    print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
