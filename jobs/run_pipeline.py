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
    args = ap.parse_args(argv)
    if args.tier_labels and not args.byte_exact:
        ap.error("--tier-labels requires --byte-exact (the ladder's first rung)")
    if args.pixel_embeddings and not args.tier_labels:
        ap.error("--pixel-embeddings requires --tier-labels")

    import functools

    from pyspark.sql import functions as F

    from simhash_spark.config import index_config_for
    from simhash_spark.plans.pipeline import (
        image_keep_list,
        restrict_to_ids,
        run_pipeline,
        semantic_keep_list,
    )
    from simhash_spark.session import get_spark
    from simhash_spark.sources.catalog import CheckpointCatalog, parquet_rows, pin

    spark = get_spark(parallelism=args.parallelism, app_name="simhash-pipeline")
    ckpt = args.checkpoint or str(pathlib.Path(args.output) / "_checkpoints")
    t0 = time.time()
    # the input's footer rows pick the index scale class: no Spark job
    cfg = index_config_for(parquet_rows(args.input))
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

    # every stat is a stage manifest or observed by an output write
    cat = CheckpointCatalog(spark, ckpt)
    out = pathlib.Path(args.output)
    # the input re-scans below share one read (its schema inference is a
    # Spark job), made only when one of them runs
    scan = functools.cache(lambda: spark.read.parquet(args.input))
    # labels are min-id: one row per cluster carries its own id, and those
    # rows are the near tier's survivors
    is_rep = F.col("image_id") == F.col("cluster_id")
    n_clusters = (
        pin(res.clusters, out / "clusters", F.sum(is_rep.cast("long")).alias("n"))
        .seen.get("n") or 0
    )
    pin(res.verified, out / "verified_pairs")
    # the dedup DECISION (one representative per cluster) — the artifact a
    # downstream training job actually consumes. The semantic rung demotes
    # whole clusters in it, so keep_list agrees with tier_labels on them
    keep = image_keep_list(res.clusters, args.keep_rule, scan)

    tier_counts: dict = {}
    if args.tier_labels:
        # Assemble the frozen-ladder attribution from this run's OWN stage
        # outputs — zero recompute: exact drops from the 00b_bytes
        # checkpoint, near drops from 04_clusters (which already ran on the
        # byte tier's survivors), semantic drops (optional) from SemDeDup
        # over pixel embeddings of the NEAR tier's survivors only.
        from simhash_spark.operators.dedup import assemble_tiers
        from simhash_spark.plans.pipeline import run_tier_drops

        corpus, drops = run_tier_drops(cat.read("00b_bytes"), res.clusters)
        if args.pixel_embeddings:
            from simhash_spark.operators.ann import ivf_fit
            from simhash_spark.operators.dedup import semdedup_keep
            from simhash_spark.operators.multimodal import image_embeddings

            # pin the embeddings: the decode+embed pass is the run's most
            # expensive stage and feeds two actions (ivf_fit's driver
            # sample, the semdedup kernel) — unpinned, the whole corpus
            # decode would run once per action (the CLAUDE.md
            # recompute-per-branch rule). Order-safety: ivf_fit
            # canonical-sorts its training sample, so the quantizer is a
            # pure function of the vector multiset, not the parquet layout.
            emb, n_emb, _ = pin(
                restrict_to_ids(
                    scan(),
                    res.clusters.where(is_rep).select("image_id"),
                    n_clusters,
                    lambda src: image_embeddings(src)
                    .where(F.col("error").isNull())
                    .select("image_id", "embedding"),
                ),
                out / "_sem_embeddings",
            )
            # a corpus whose every payload quarantines (or is NULL) has no
            # embeddings: the rung is a no-op, not an ivf_fit crash
            if n_emb:
                cent = ivf_fit(
                    emb, n_centroids=args.semantic_centroids, n_iter=8,
                    vec_col="embedding",
                )
                # pin the slim decision too: it feeds the tier_labels write
                # AND both sides of the keep_list rep-map self-join
                sem = pin(
                    semdedup_keep(
                        emb, cent, threshold=args.semantic_tau,
                        id_col="image_id", vec_col="embedding",
                    ),
                    out / "_sem_keep",
                ).df
                drops = drops.unionByName(
                    sem.where(F.col("is_kept") == 0).select(
                        "image_id", F.lit("semantic").alias("tier")
                    )
                )
                keep = semantic_keep_list(keep, res.clusters, sem)
        tiers = ("exact", "near", "semantic", "kept")
        seen = pin(
            assemble_tiers(corpus, drops),
            out / "tier_labels",
            *[F.sum((F.col("tier") == t).cast("long")).alias(t) for t in tiers],
        ).seen
        tier_counts = {t: n for t in tiers if (n := seen.get(t))}

    # the alignment restriction below reads the written keep_list: with the
    # semantic demotion its lineage includes the decode+embed rung
    keep, _, seen = pin(keep, out / "keep_list", F.sum("is_kept").alias("kept"))
    kept_n = seen.get("kept") or 0

    align_stats: dict = {}
    if args.alignment_filter:
        # Alignment over the kept set only — the funnel order (the decode
        # pass never touches rows dedup already dropped).
        from simhash_spark.operators.multimodal import caption_pixel_alignment

        align = restrict_to_ids(
            scan(),
            keep.where("is_kept = 1").select("image_id"),
            kept_n,
            lambda src: caption_pixel_alignment(src, tau_bp=args.alignment_tau),
        )
        seen = pin(
            align, out / "alignment", F.sum((F.col("keep") == 0).cast("long")).alias("n")
        ).seen
        align_stats = {
            "misaligned": seen.get("n") or 0,
            "alignment_tau_bp": args.alignment_tau,
        }

    stats = {"rows": cat.manifest("01_fingerprints")["n_rows"]}
    if args.quality_filter:
        hist = cat.read_rows("00_quality")
        stats["quality_dropped"] = {r["reason"]: r["n"] for r in hist if r["reason"] != "ok"}
    stats.update(
        candidates=cat.manifest("02_candidates")["n_rows"],
        verified=cat.manifest("03_verified")["n_rows"],
        clusters=n_clusters,
        kept=kept_n,
        **align_stats,
        **({"tiers": tier_counts} if tier_counts else {}),
        wall_s=round(time.time() - t0, 2),
    )
    print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
