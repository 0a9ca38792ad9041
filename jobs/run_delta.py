"""spark-submit entry point for batch-incremental index maintenance.

Folds an increment parquet into a completed run's checkpoint state (a
run_pipeline catalog or a previous run_delta catalog — chains compose):

    spark-submit --py-files engine.zip jobs/run_delta.py \
        --base-checkpoint /path/to/prev/checkpoints \
        --increment /path/to/new_rows_parquet \
        --checkpoint /path/to/delta/checkpoints \
        --output /path/to/clusters_out \
        [--parallelism 32]

Config and stage flags are restored from the base chain's manifests (and
validated — an increment folded in under a different config would silently
miss candidates). Outputs mirror run_pipeline: full updated clusters +
keep_list, plus the increment-only verified pairs. By the delta equality
contract (plans/delta.py), clusters equal a full run over base ∪ increment
whenever no bucket exceeds the cap.
"""

from __future__ import annotations

import argparse
import json
import pathlib
import sys
import time

try:  # under spark-submit --py-files the engine zip is already importable
    import simhash_spark  # noqa: F401
except ImportError:  # plain `python jobs/run_delta.py` from a checkout
    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="simhash_spark delta maintenance step")
    ap.add_argument("--base-checkpoint", required=True, help="completed base catalog")
    ap.add_argument("--increment", required=True, help="increment parquet path")
    ap.add_argument("--checkpoint", required=True, help="NEW catalog dir for this delta")
    ap.add_argument("--output", required=True, help="output dir for updated clusters")
    ap.add_argument("--parallelism", type=int, default=None)
    ap.add_argument(
        "--tier-labels",
        action="store_true",
        help="write <output>/tier_labels — per-image attribution of the ONE "
        "tier that removed it (exact/near/kept) over the WHOLE chain corpus, "
        "assembled from chain state with zero recompute: exact drops from "
        "the unioned 00b byte index, near drops from the updated clusters. "
        "Requires a byte-exact chain. The semantic rung is NOT offered here: "
        "SemDeDup's keep rule is not add-only (a new member can change a "
        "cell's keeper), so semantic attribution needs a full run_pipeline "
        "--pixel-embeddings pass",
    )
    ap.add_argument(
        "--alignment-filter",
        action="store_true",
        help="write <output>/alignment_delta — the cross-modal image-caption "
        "verdict (caption_pixel_alignment) for the INCREMENT's newly-kept "
        "rows only. Sound because the verdict is a PER-ROW pure function "
        "(pixels + caption of that row alone): unlike SemDeDup's keep rule "
        "a row's verdict can never change as the corpus grows, so base "
        "verdicts stay valid and the delta face is add-only by "
        "construction — union alignment_delta over the chain to cover the "
        "whole corpus",
    )
    ap.add_argument(
        "--alignment-tau",
        type=int,
        default=8500,
        help="alignment threshold in basis points of cosine",
    )
    ap.add_argument(
        "--keep-rule",
        choices=["min-id", "best-resolution"],
        default="min-id",
        help="which cluster member survives in keep_list — MUST match the "
        "rule the base run published, or the chain's representatives "
        "silently flip policy between runs. 'best-resolution' re-scans "
        "(image_id, w, h) from every chain input plus the increment "
        "(paths recorded in the chain manifests)",
    )
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from simhash_spark.plans.delta import chain_run_metadata, run_delta
    from simhash_spark.plans.pipeline import image_keep_list, restrict_to_ids
    from simhash_spark.session import get_spark
    from simhash_spark.sources.catalog import CheckpointCatalog, pin

    spark = get_spark(parallelism=args.parallelism, app_name="simhash-delta")
    t0 = time.time()
    if args.tier_labels and not chain_run_metadata(spark, args.base_checkpoint)[
        "byte_exact"
    ]:
        # fail BEFORE paying for the fold
        raise SystemExit(
            "run_delta: --tier-labels requires a byte-exact chain "
            "(the ladder's first rung; base run_pipeline --byte-exact)"
        )
    res = run_delta(spark, args.base_checkpoint, args.increment, args.checkpoint)

    # every stat is a delta-catalog manifest or observed by an output write
    out = pathlib.Path(args.output)
    # labels are min-id: one row per cluster carries its own id
    is_rep = F.col("image_id") == F.col("cluster_id")
    n_clusters = (
        pin(res.clusters, out / "clusters", F.sum(is_rep.cast("long")).alias("n"))
        .seen.get("n") or 0
    )
    pin(res.verified_new, out / "verified_pairs_delta")
    # best-resolution scores the union corpus: every chain link records its
    # input path in its 01 manifest, the increment is this run's input
    keep, _, seen = pin(
        image_keep_list(
            res.clusters,
            args.keep_rule,
            lambda: spark.read.parquet(
                *chain_run_metadata(spark, args.checkpoint)["input_paths"]
            ),
        ),
        out / "keep_list",
        F.sum("is_kept").alias("kept"),
    )
    kept_n = seen.get("kept") or 0
    cat = CheckpointCatalog(spark, args.checkpoint)
    stats = {}
    bx = cat.manifest("00b_bytes_delta")
    if bx:
        # byte-exact chain: how many increment rows the 00b index suppressed
        # (re-uploads that never paid the fingerprint UDF or any later stage)
        stats["byte_suppressed"] = bx.get("byte_suppressed") or 0
    if args.alignment_filter:
        # the increment's newly-KEPT rows only: per-row pure verdict, so
        # the base's existing alignment rows remain valid verbatim (the
        # add-only argument in the flag's help text)
        from simhash_spark.operators.multimodal import caption_pixel_alignment

        align = pin(
            restrict_to_ids(
                spark.read.parquet(args.increment),
                keep.where("is_kept = 1").select("image_id"),
                kept_n,
                lambda src: caption_pixel_alignment(src, tau_bp=args.alignment_tau),
            ),
            out / "alignment_delta",
            F.sum((F.col("keep") == 0).cast("long")).alias("misaligned"),
        )
        stats["alignment_delta_rows"] = align.rows
        stats["misaligned_delta"] = align.seen.get("misaligned") or 0
        stats["alignment_tau_bp"] = args.alignment_tau
    if args.tier_labels:
        from simhash_spark.operators.dedup import assemble_tiers
        from simhash_spark.plans.delta import read_chain_stage
        from simhash_spark.plans.pipeline import run_tier_drops

        corpus, drops = run_tier_drops(
            read_chain_stage(spark, args.checkpoint, "00b_bytes", "00b_bytes_delta"),
            res.clusters,
        )
        pin(assemble_tiers(corpus, drops), out / "tier_labels")
    stats.update(
        increment_rows=cat.manifest("01_fingerprints_delta")["n_rows"],
        candidates_delta=cat.manifest("02_candidates_delta")["n_rows"],
        verified_delta=cat.manifest("03_verified_delta")["n_rows"],
        rows_total=cat.manifest("04_clusters")["n_rows"],
        clusters=n_clusters,
        kept=kept_n,
        wall_s=round(time.time() - t0, 2),
    )
    print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
