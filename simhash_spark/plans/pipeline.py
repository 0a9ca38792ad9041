"""The end-to-end near-duplicate pipeline (SURVEY.md §3.2 E1-E3).

Stages (each checkpointed + resumable via CheckpointCatalog):

  E1 fingerprints : scan -> prune bytes -> one ArrowEvalPython pass
                    (simhash + minhash + bands), phash passthrough
  E2 candidates   : LSH bands ∪ simhash rotations ∪ phash rotations
                    -> bucket self-joins (capped/chained) -> union+dedup
  E2b substr      : winnowing anchors as join keys -> exact shared-run verify
  E3 verified     : native bit_count Hamming verify of all candidates
  E4 clusters     : large-star/small-star CC; isolated vertices = singletons

Column pruning is the single most important scan optimization at 10^12 rows:
E1 selects only (image_id, caption, phash) — the multi-TB `bytes` column
never leaves the parquet/Iceberg scan (checked by test_pipeline_e2e's
explain assertion).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simhash_spark.config import DEFAULT_CONFIG, PipelineConfig
from simhash_spark.functions.udfs import with_fingerprints
from simhash_spark.operators.candidates import (
    bucket_stats_from_observed,
    generate_candidates,
    union_candidates,
)
from simhash_spark.operators.connected_components import connected_components
from simhash_spark.operators.dedup import (
    exact_keep,
    exact_survivors,
    tier_drops,
    tier_ladder,
)
from simhash_spark.operators.substring import (
    substring_stage_summary,
    verify_substring_pairs,
    winnow_anchor_table,
)
from simhash_spark.operators.verify import verify_pairs
from simhash_spark.sources.catalog import (
    CheckpointCatalog,
    StageObservations,
    input_fingerprint_of,
)


def fingerprint_job(spark: SparkSession, src: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """E1: (image_id, caption, phash) -> + simhash, n_shingles, bands.

    One stage, no shuffle; `bytes` pruned at the scan; the raw minhash
    signature stays inside the UDF (only its band hashes leave Python —
    see FINGERPRINT_SCHEMA_SLIM).
    """
    slim = src.select("image_id", "caption", "phash")
    return with_fingerprints(slim, cfg, emit_minhash=False).drop("caption")


def candidate_job(
    fp: DataFrame,
    cfg: PipelineConfig,
    include_phash: bool = True,
    observe: Callable[..., DataFrame] | None = None,
) -> DataFrame:
    """E2: fingerprints -> candidate pairs (a, b, src). ``observe`` collects
    the per-source bucket histogram while the pairs are computed."""
    return generate_candidates(fp, cfg, include_phash=include_phash, observe=observe)


def verify_job(
    candidates: DataFrame, fp: DataFrame, cfg: PipelineConfig, use_phash: bool = True
) -> DataFrame:
    """E3: exact Hamming verification of the unioned candidate set.
    ``use_phash`` is the run's ``include_phash``: near_dup_pairs holds the
    rule."""
    return verify_pairs(candidates, fp, cfg, use_phash=use_phash)


def near_dup_pairs(
    fp: DataFrame,
    src: DataFrame | None,
    cfg: PipelineConfig,
    *,
    include_phash: bool = True,
    enable_substring: bool = True,
    stage: Callable[..., DataFrame] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """E2 -> E3, the one spelling of the near-dup stage order: fingerprints
    ``fp`` -> candidates -> (∪ substring pairs over ``src``'s (image_id,
    caption)) -> verified. Returns (index candidates, verified pairs).

    Two rules hold on every path built from here. ``include_phash`` removes
    the phash AXIS, from the candidate keys and the verify criterion
    together: a phash-only dup verified by one path but not by a chained
    delta run would break the delta equality contract. Substring pairs join
    the candidate set before verify, which passes them unconditionally.

    ``stage(name, compute, extra_metrics=None)`` runs each stage
    (run_pipeline passes the catalog's run_stage): the candidates and
    substring stages then observe their manifest accounting off the rows
    they compute. Without it the stages compose lazily and observe nothing,
    so the plan carries no CollectMetrics."""
    observed = stage is not None
    stage = stage or (lambda name, compute, extra_metrics=None: compute())
    cand_obs, sub_obs = StageObservations(), StageObservations()

    def cand_metrics() -> dict:
        # skew/recall accounting: bucket histogram per index + how many hot
        # buckets were degraded to spanning chains — the "no silent
        # truncation" rule (SURVEY.md §7.5.3)
        stats = bucket_stats_from_observed(cand_obs.get())
        hot = sum(1 for s in stats.values() if (s["max_bucket"] or 0) > cfg.bucket_cap)
        return {
            "bucket_stats": stats,
            "bucket_cap": cfg.bucket_cap,
            "indexes_with_hot_buckets": hot,
        }

    cand = stage(
        "02_candidates",
        lambda: candidate_job(
            fp, cfg, include_phash=include_phash, observe=cand_obs.observe if observed else None
        ),
        extra_metrics=cand_metrics,
    )
    all_cand = cand
    if enable_substring:
        # the anchor table is its own stage: the resume point for the
        # substring stage, the whole of its verification state (each
        # occurrence carries its context, so no caption is read again) and
        # the incremental-maintenance state (a delta run semi-joins it
        # against the increment's anchors instead of re-winnowing the base)
        anch = stage(
            "02b_anchors", lambda: winnow_anchor_table(src.select("image_id", "caption"), cfg)
        )
        sub = stage(
            "02b_substr",
            lambda: verify_substring_pairs(
                anch, cfg, observe=sub_obs.observe if observed else None
            ).withColumn("src", F.lit("substr")),
            extra_metrics=lambda: substring_stage_summary(sub_obs.get()),
        )
        all_cand = union_candidates(cand, sub)
    verified = stage(
        "03_verified", lambda: verify_job(all_cand, fp, cfg, use_phash=include_phash)
    )
    return cand, verified


def cluster_job(
    verified: DataFrame,
    vertices: DataFrame,
    cfg: PipelineConfig,
    catalog: CheckpointCatalog | None = None,
    cc_ckpt_every: int = 0,
    input_fingerprint: str = "",
    small_graph_limit: int | None = None,
) -> DataFrame:
    """E4: verified pairs -> (image_id, cluster_id = min id in component).
    Vertices absent from any verified pair are singleton clusters.

    ``catalog`` + ``cc_ckpt_every`` > 0 turns on the fault-tolerant CC round
    checkpoint (connected_components docstring) — localCheckpoint alone is
    executor-local and a lost executor mid-loop would kill a 100-TB run.
    ``small_graph_limit`` passes through to connected_components (0 forces
    the distributed star loop — the scaling bench uses it to measure the
    loop path instead of the parallelism-constant driver fast path)."""
    cc_kwargs = {} if small_graph_limit is None else {"small_graph_limit": small_graph_limit}
    labels = connected_components(
        verified.select("a", "b"),
        catalog=catalog,
        ckpt_every=cc_ckpt_every,
        input_fingerprint=input_fingerprint,
        **cc_kwargs,
    )
    return labels.select(F.col("id").alias("image_id"), "cluster_id").unionByName(
        singleton_labels(labels, vertices)
    )


def singleton_labels(labels: DataFrame, vertices: DataFrame) -> DataFrame:
    """The frozen singleton rule: a vertex in no verified pair is its own
    cluster. ``labels`` is connected_components' (id, cluster_id); returns
    (image_id, cluster_id = image_id) for every ``vertices`` image_id that
    ``labels`` does not cover."""
    return (
        vertices.select(F.col("image_id"))
        .join(labels.select(F.col("id").alias("image_id")), "image_id", "left_anti")
        .select("image_id", F.col("image_id").alias("cluster_id"))
    )


def run_tier_drops(byte_index: DataFrame, clusters: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(corpus ids, exact ∪ near drops) for assemble_tiers from a byte-exact
    run's own stage outputs: the 00b byte index (image_id, keep_id) and the
    04 labels (image_id, cluster_id). The corpus is every cluster vertex
    (the byte survivors, NULL-bytes rows included) plus the byte tier's
    drops. Shared by run_pipeline and run_delta --tier-labels."""
    exact = tier_drops(byte_index, "exact", "keep_id")
    near = tier_drops(clusters, "near", "cluster_id")
    corpus = clusters.select("image_id").unionByName(exact.select("image_id"))
    return corpus, exact.unionByName(near)


def image_keep_list(
    clusters: DataFrame, keep_rule: str, scan: Callable[[], DataFrame]
) -> DataFrame:
    """The keep decision an image run publishes: (image_id, keep_id,
    is_kept), one survivor per cluster. 'min-id' is the frozen
    representative rule, a pure projection of the labels. 'best-resolution'
    keeps each cluster's highest w*h member, ties min id
    (dedup.near_dup_keep_best): ``scan()`` is read only for this rule,
    column pruning keeps it to (image_id, w, h), and the cluster_id window
    is one exchange. Labels with no row in ``scan()`` (e.g. rows the quality
    filter dropped) fall out of the inner score join."""
    from simhash_spark.operators.dedup import near_dup_keep_best, near_dup_keep_list

    if keep_rule == "best-resolution":
        scores = scan().select(
            "image_id",
            (F.col("w").cast("long") * F.col("h").cast("long")).alias("score"),
        )
        return near_dup_keep_best(clusters, scores, id_col="image_id", score_col="score")
    return near_dup_keep_list(clusters, id_col="image_id")


def semantic_keep_list(keep: DataFrame, clusters: DataFrame, sem: DataFrame) -> DataFrame:
    """``keep`` (image_keep_list over ``clusters``) made to agree with the
    semantic rung's decision ``sem`` (semdedup_keep over the cluster
    representatives): a near cluster whose representative the rung dropped
    is a semantic duplicate of another cell member, so EVERY member of that
    cluster is demoted (is_kept=0) and keep_id points at the surviving side.
    For the min-id rule this makes the kept set identical to tier_labels'
    is_kept=1 set; for best-resolution it means "best member of each
    semantically surviving cluster". All joins are slim (id, id) tables; the
    rep map is semantic-drop-bounded.

    The rung's group keeper is a cluster REPRESENTATIVE (min-id rep); under
    best-resolution that rep may not be its own cluster's chosen keeper, so
    resolve one hop further through the pre-demotion keep decision — keep_id
    then always lands on a row that is itself is_kept=1 (its cluster
    survived the rung, so the demotion never touches it): referential
    integrity holds for BOTH keep rules."""
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
    return (
        keep.join(clusters.select("image_id", "cluster_id"), "image_id")
        .join(rep_map, "cluster_id", "left")
        .select(
            "image_id",
            F.coalesce("sem_keep_id", "keep_id").alias("keep_id"),
            F.when(F.col("sem_keep_id").isNotNull(), F.lit(0))
            .otherwise(F.col("is_kept"))
            .alias("is_kept"),
        )
    )


# Id sets at or under this count broadcast to the per-payload decode scans of
# the semantic rung and the alignment filter (~30 B/id -> ~150 MB at the
# ceiling, well inside executor memory); above it restrict_to_ids decodes
# scan-locally and semi-joins the slim output rows instead.
SEMANTIC_BROADCAST_MAX_IDS = 5_000_000


def restrict_to_ids(src: DataFrame, ids: DataFrame, n_ids: int, per_row) -> DataFrame:
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
    if n_ids <= SEMANTIC_BROADCAST_MAX_IDS:
        return per_row(src.join(F.broadcast(ids), "image_id", "left_semi"))
    return per_row(src).join(ids, "image_id", "left_semi")


def image_tier_labels(
    spark: SparkSession,
    src: DataFrame,
    cfg: PipelineConfig | None = None,
    emb: DataFrame | None = None,
    centroids=None,
    tau: float = 0.9,
) -> DataFrame:
    """The IMAGE face of dedup.tier_ladder over the BASELINE input_hint
    table: byte-exact (md5 over the binary column — the same file
    re-uploaded under a new id/caption) -> near (the flagship caption-SimHash
    + phash-pigeonhole pipeline: cluster_job over fingerprint/candidate/
    verify of the survivors) -> optionally semantic (SemDeDup over pixel
    embeddings, the Abbas'23 LAION regime). Output: (image_id, tier in
    {'exact','near','semantic','kept'}, is_kept).

    ``emb`` is (image_id, embedding) — operators/multimodal.py::
    image_embeddings in this container, a CLIP-style encoder in production;
    ``centroids`` from ann.ivf_fit over the same embeddings. Images with a
    NULL or no embedding (decode quarantine, null bytes) pass the semantic
    tier. Query-face caveat: fp feeds candidate AND verify, so this composed
    face caches it; production runs materialize tier boundaries through the
    CheckpointCatalog like run_pipeline.
    """
    cfg = cfg or DEFAULT_CONFIG

    def near_clusters(surv: DataFrame) -> DataFrame:
        fp = fingerprint_job(spark, surv, cfg).cache()
        _, verified = near_dup_pairs(fp, surv, cfg, enable_substring=False)
        return cluster_job(verified, fp, cfg)

    return tier_ladder(src, "image_id", "bytes", near_clusters, emb, centroids, tau)


def stage_fingerprint(
    input_path: str,
    cfg: PipelineConfig,
    enable_substring: bool,
    include_phash: bool,
    quality_filter: bool = False,
    byte_exact: bool = False,
) -> str:
    """Stage checkpoint identity = input content + full config + pipeline
    flags: a rerun with a different index config (e.g. n_blocks=8) or
    stage set must recompute, never silently resume stages computed under
    the old configuration. The quality-filter and byte-exact flags join the
    identity only when enabled (``-qf1``, ``-bx1``) so pre-existing
    checkpoints keep resuming under their original fingerprints."""
    from simhash_spark.config import config_fingerprint

    qf = "-qf1" if quality_filter else ""
    bx = "-bx1" if byte_exact else ""
    return (
        f"{input_fingerprint_of(input_path)}-{config_fingerprint(cfg)}"
        f"{substring_tag(enable_substring)}-ph{int(include_phash)}{qf}{bx}"
    )


def substring_tag(enable_substring: bool) -> str:
    """The substring flag's part of a stage identity. ``-ss2``: the
    02b_anchors table carries each occurrence's (lo, ctx) context; a
    catalog tagged ``-ss1`` holds bare (id, anchor) rows that cannot be
    verified at the anchor, so its stages are never resumed."""
    return "-ss2" if enable_substring else "-ss0"


@dataclass
class PipelineResult:
    fingerprints: DataFrame
    candidates: DataFrame
    verified: DataFrame
    clusters: DataFrame


def run_pipeline(
    spark: SparkSession,
    input_path: str,
    checkpoint_path: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    enable_substring: bool = True,
    include_phash: bool = True,
    cc_ckpt_every: int = 0,
    quality_filter: bool = False,
    byte_exact: bool = False,
) -> PipelineResult:
    """The resumable end-to-end run: every stage lands in the catalog with a
    manifest; rerunning after a crash skips complete stages (T5).

    The E1 checkpoint is written hash-clustered + sorted on image_id
    (CheckpointCatalog.write bucket_by): E3 joins the fingerprint table
    TWICE on that key and E4's singleton anti-join hits it again — with the
    bucketed layout all three reads skip the exchange/sort on the big side,
    paying one clustered write instead of three shuffles of the largest
    intermediate. Bucket count follows the session's shuffle
    parallelism (a real deployment sets both to ~2-3x total cores).

    E2 -> E3 is near_dup_pairs with the catalog's run_stage as its stage
    hook. Manifest metrics come from the stages' own writes: the candidates
    stage observes its bucket histogram off the window that sizes the
    buckets, the substring verify its pairs examined and hot anchors. The
    run starts no Spark job beyond the ones that compute and write stages."""
    from simhash_spark.plans.delta import run_metadata

    cat = CheckpointCatalog(spark, checkpoint_path)
    in_fp = stage_fingerprint(
        input_path, cfg, enable_substring, include_phash, quality_filter, byte_exact
    )
    src = spark.read.parquet(input_path)

    if quality_filter:
        # E0: DataComp-style keep/drop BEFORE the expensive fingerprint UDF —
        # at 100 TB the filter is a zero-shuffle projection fused into the
        # scan, so pruning here saves the dropped fraction of every
        # downstream stage. The stage CHECKPOINT holds only the per-reason
        # histogram (the monitorable artifact + resume marker); the kept
        # rows themselves are recomputed on read — re-running one codegen'd
        # predicate is far cheaper than writing a near-copy of the corpus.
        from simhash_spark.operators.search import image_quality_filter

        flt = image_quality_filter(src)
        cat.run_stage(
            "00_quality", in_fp, lambda: flt.groupBy("reason").agg(F.count("*").alias("n"))
        )
        src = flt.where(F.col("keep") == 1).drop("keep", "reason")

    if byte_exact:
        # E0b: byte-exact dedup BEFORE fingerprinting — the image tier
        # ladder's first rung as a production stage. The funnel ordering is
        # the scale argument: at 10^12 rows every byte re-upload dropped
        # here never pays the fingerprint UDF, the candidate exchange, or
        # the verify joins. Frozen rule = dedup.exact_keep (keeper =
        # lexicographic min image_id per md5 group; NULL-bytes rows pass).
        # The checkpoint stores ONE SLIM ROW PER HASHED INPUT
        # (image_id, digest 16-byte binary, keep_id) — the byte-dedup index
        # state; bytes themselves never shuffle (md5 reduces them inside the
        # scan projection) and never land in the catalog. Survivors are an
        # anti-join against the drop subset on read.
        bx_src = src
        bx = cat.run_stage("00b_bytes", in_fp, lambda: exact_keep(bx_src, "image_id", "bytes"))
        src = exact_survivors(src, bx, "image_id")

    fp = cat.run_stage(
        "01_fingerprints",
        in_fp,
        lambda: fingerprint_job(spark, src, cfg),
        extra_metrics=lambda: run_metadata(
            cfg, input_path, enable_substring, include_phash, quality_filter, byte_exact
        ),
        bucket_by=(int(spark.conf.get("spark.sql.shuffle.partitions")), ["image_id"]),
    )
    cand, verified = near_dup_pairs(
        fp,
        src,
        cfg,
        include_phash=include_phash,
        enable_substring=enable_substring,
        stage=lambda name, compute, **kw: cat.run_stage(name, in_fp, compute, **kw),
    )
    clusters = cat.run_stage(
        "04_clusters",
        in_fp,
        lambda: cluster_job(
            verified, fp, cfg, catalog=cat, cc_ckpt_every=cc_ckpt_every, input_fingerprint=in_fp
        ),
    )
    return PipelineResult(fp, cand, verified, clusters)
