"""Exact verification — entirely JVM-side, whole-stage-codegen'd.

The reference's popcnt inner loop (/root/reference/README.md:16) becomes ONE
Catalyst expression: ``bit_count(a_fp XOR b_fp)``. No UDF, no Python worker.

The frozen duplicate predicate (SURVEY.md §5.2 / fixtures.compute_truth):

    dup(a,b) := (hamming(simhash) <= r AND both captions have shingles)
             OR  hamming(phash)   <= r_p
             OR  shared normalized caption substring >= L chars (verified
                 at the anchor by the substr stage; a 'substr' pair passes)

Candidates from ANY index are checked against ALL criteria — a MinHash-LSH
candidate that happens to be a pixel dup still verifies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from simhash_spark.config import PipelineConfig


def verify_pairs(
    candidates: DataFrame,
    fp: DataFrame,
    cfg: PipelineConfig,
    id_col: str = "image_id",
    use_phash: bool = True,
) -> DataFrame:
    """candidates(a, b, src) x fingerprints -> verified_pairs.

    Two shuffle equi-joins attach each side's fingerprints (at cluster scale
    both sides hash-partition on id; the fingerprint table is the big side and
    is scanned with only 4 columns — `bytes` never enters this plan).

    ``use_phash=False`` for text-only corpora (no perceptual hash column):
    the phash criterion drops out of the predicate and hamming_phash is -1.
    """
    ph_col = F.col("phash") if use_phash else F.lit(0).cast("long")
    side = fp.select(
        F.col(id_col).alias("_id"),
        F.col("simhash").alias("_sim"),
        ph_col.alias("_ph"),
        F.col("n_shingles").alias("_nsh"),
    )
    a = side.select(
        F.col("_id").alias("a"),
        F.col("_sim").alias("_sim_a"),
        F.col("_ph").alias("_ph_a"),
        F.col("_nsh").alias("_nsh_a"),
    )
    b = side.select(
        F.col("_id").alias("b"),
        F.col("_sim").alias("_sim_b"),
        F.col("_ph").alias("_ph_b"),
        F.col("_nsh").alias("_nsh_b"),
    )
    joined = candidates.join(a, "a").join(b, "b")
    hc = F.bit_count(F.col("_sim_a").bitwiseXOR(F.col("_sim_b")))
    hp = (
        F.bit_count(F.col("_ph_a").bitwiseXOR(F.col("_ph_b")))
        if use_phash
        else F.lit(-1)
    )
    caption_ok = (hc <= cfg.hamming_radius) & (F.col("_nsh_a") > 0) & (F.col("_nsh_b") > 0)
    phash_ok = (hp <= cfg.phash_radius) if use_phash else F.lit(False)
    substr_ok = F.col("src").contains("substr")
    return (
        joined.withColumn("hamming_caption", hc.cast("int"))
        .withColumn("hamming_phash", hp.cast("int"))
        .where(caption_ok | phash_ok | substr_ok)
        .select("a", "b", "hamming_caption", "hamming_phash", "src")
    )


def dup_kind_report(
    verified: DataFrame,
    fp: DataFrame,
    cfg: PipelineConfig,
    id_col: str = "image_id",
) -> DataFrame:
    """Monitoring: verified dup pairs broken down by the FIRST criterion
    that establishes them — 'simhash' > 'phash' > 'substr', the same
    priority fixtures.compute_truth uses to label truth pairs (so at an
    exact-pipeline corpus the report equals the truth-kind histogram).

    The per-source dup-mass split is the number a curation run watches to
    decide where to spend index budget (caption-heavy vs pixel-heavy dup
    populations want different n_blocks/radius trade-offs). One pair-table
    scan + two id equi-joins for the shingle counts + a 3-row agg; the big
    fingerprint side ships only (id, n_shingles).
    """
    na = fp.select(F.col(id_col).alias("a"), F.col("n_shingles").alias("_na"))
    nb = fp.select(F.col(id_col).alias("b"), F.col("n_shingles").alias("_nb"))
    j = verified.join(na, "a").join(nb, "b")
    caption_ok = (
        (F.col("hamming_caption") <= cfg.hamming_radius)
        & (F.col("_na") > 0)
        & (F.col("_nb") > 0)
    )
    phash_ok = (F.col("hamming_phash") >= 0) & (
        F.col("hamming_phash") <= cfg.phash_radius
    )
    kind = F.when(caption_ok, F.lit("simhash")).when(phash_ok, F.lit("phash")).otherwise(
        F.lit("substr")
    )
    return (
        j.groupBy(kind.alias("kind"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("kind")
    )


def pair_distance_histogram(
    candidates: DataFrame,
    fp: DataFrame,
    cfg: PipelineConfig,
    id_col: str = "image_id",
    col: str = "simhash",
    radius: int | None = None,
) -> DataFrame:
    """Threshold-tuning surface: the exact Hamming-distance histogram over
    ALL candidate pairs (not just the accepted ones) -> one row per distance
    value ``(hamming, n_pairs, accepted)``.

    The accepted/rejected margin is what a curation run inspects before
    moving the radius: mass piled just ABOVE the radius means the index is
    surfacing near-misses a wider radius would admit; a clean gap means the
    threshold sits in a natural valley. Same shape as the reference's
    radius calibration sweep, but computed in one pass from the candidate
    set the index already produced (no re-query per radius).

    ``col``/``radius`` pick the fingerprint axis: the default calibrates
    the caption SimHash against ``cfg.hamming_radius``; ``col="phash",
    radius=cfg.phash_radius`` calibrates the image pipeline's perceptual
    hash over the same candidate set.

    Plan: two slim ``(id, <col>)`` equi-joins (bytes/bands never enter),
    ``bit_count(xor)`` in whole-stage codegen, then a map-side-combined
    group agg whose key domain is <= 65 values — the exchange ships at most
    65 rows per mapper regardless of corpus size. ``accepted`` is derived
    from the grouped key, not re-checked per pair.
    """
    r = cfg.hamming_radius if radius is None else radius
    a = fp.select(F.col(id_col).alias("a"), F.col(col).alias("_sa"))
    b = fp.select(F.col(id_col).alias("b"), F.col(col).alias("_sb"))
    hc = F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))).cast("int")
    return (
        candidates.join(a, "a")
        .join(b, "b")
        # FROZEN NULL RULE: pairs where either side's fingerprint is NULL
        # (e.g. decode-quarantined rows that still became candidates via the
        # caption indexes) are EXCLUDED — they have no distance on this axis
        # and can never be accepted by it (verify's OR-predicate treats a
        # NULL hash the same way). Without the filter a single NULL row
        # would emit a (hamming=NULL, accepted=NULL) bucket, breaking the
        # integer-only output contract and the <=65-key domain claim.
        .where(F.col("_sa").isNotNull() & F.col("_sb").isNotNull())
        .groupBy(hc.alias("hamming"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .withColumn("accepted", (F.col("hamming") <= F.lit(r)).cast("int"))
    )
