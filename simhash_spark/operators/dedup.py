"""Corpus deduplication operators (brief: exact, MinHash+LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup) over a generic (id, text) /
(id, embedding) corpus — the training-data-pipeline face of the engine.

The near-dup machinery (SimHash pigeonhole index, MinHash LSH banding,
verify, connected components) is the SAME code the image+caption pipeline
uses (operators/candidates.py etc.); this module adds:

- exact_keep : the frozen exact keeper rule (min id per md5 digest, NULL
  content never groups) that exact_dedup, both tier ladders and the
  byte-exact stage compose from; exact_dedup_groups reports the groups
  (one map-combined hash agg, oracle-checked).
- tier_ladder : the exact -> near -> semantic dedup ladder behind the text
  and image tier-label faces.
- ngram_jaccard_pairs : exact n-gram-shingle Jaccard via per-shingle doc-id
  lists + native pair expansion — one shuffle on the shingle key; the
  frequent-shingle cap keeps output linear and per-group memory bounded at
  scale (same hot-bucket argument as candidates.py). Fully SQL-expressible
  (oracle-checked).
- embedding_near_dup : cosine >= tau pairs. Cosine is one Arrow-batched
  numpy einsum per batch (Catalyst higher-order-function folds evaluate
  their lambdas per element interpreted — measured ~20x slower, see
  cosine_col); scale path buckets by
  random-hyperplane LSH first (operators/ann.srp_signature) so the
  self-join is per-bucket, not n^2.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ----------------------------------------------------------------- exact dedup


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact-duplicate groups: md5(text) -> (content_hash, n_copies, keep_id).

    keep_id = min id (frozen canonical-representative rule). One hash-agg
    shuffle with map-side combine; at 100 TB this is the cheapest dedup pass
    and runs first so downstream near-dup stages see each content once.
    """
    return (
        df.select(F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("id").alias("keep_id"))
    )


def exact_keep(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """The FROZEN exact keeper rule, defined once for every exact tier:
    (id_col, digest, keep_id) for each row whose content is not NULL, with
    digest = unhex(md5(content)) (16 bytes) and keep_id = the min id over
    the rows sharing that digest.

    NULL content is absent, not equal: such rows get no row here, so they
    never group and pass every exact tier. The window reads only the slim
    (id, digest) projection — md5 reduces the payload inside the scan, so
    it never rides the one digest-keyed exchange. This is also the
    ``00b_bytes`` checkpoint schema."""
    return (
        df.where(F.col(content_col).isNotNull())
        .select(id_col, F.unhex(F.md5(F.col(content_col))).alias("digest"))
        .withColumn("keep_id", F.min(id_col).over(Window.partitionBy("digest")))
    )


def exact_survivors(df: DataFrame, keep: DataFrame, id_col: str) -> DataFrame:
    """``df`` without the rows an exact_keep table ``keep`` drops (id !=
    keep_id): the NULL-content rows plus one keeper per digest. The
    anti-join's build side is the drop set alone, not the corpus."""
    return df.join(
        keep.where(F.col(id_col) != F.col("keep_id")).select(id_col), id_col, "left_anti"
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The deduplicated corpus: the exact tier's survivors (exact_keep's
    rule; NULL-text rows always survive). Note the funnel REPORT's
    n_exact_dup_extra counter (dedup_funnel_report) still counts NULL rows
    as extras because countDistinct skips NULLs — that is a monitoring
    count, not this decision surface."""
    return exact_survivors(df, exact_keep(df, id_col, text_col), id_col)


# --------------------------------------------------------- n-gram Jaccard


def ngram_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int, hashed: bool = False
) -> DataFrame:
    """(id, shingle) distinct word-n-grams, native exprs only, ZERO shuffle:
    split on whitespace -> sliding n-window -> per-doc array_distinct ->
    explode. Cross-doc (id, shingle) duplicates are impossible, so deduping
    INSIDE each row's gram array replaces the old post-explode
    ``.distinct()`` — which was a full exchange of the operator's biggest
    intermediate at any corpus size. Short docs (1..n-1 tokens) emit their
    full join — same frozen short-row rule as spec.shingle_list.

    ``hashed=True`` replaces each shingle string with xxhash64(shingle)
    before the dedup, so everything downstream moves 16-byte rows instead
    of n-gram text. A 64-bit collision inside one doc merges two of its
    shingles (~n_sh^2/2^64, negligible, only ever lowers that doc's count)."""
    grams = ngram_array_col(text_col, n)
    if hashed:
        grams = F.transform(grams, lambda g: F.xxhash64(g))
    return df.select(
        F.col(id_col).alias("id"), F.explode(F.array_distinct(grams)).alias("shingle")
    )


def ngram_array_col(text_col: str, n: int) -> F.Column:
    """array<string> of a doc's word n-grams IN TOKEN-POSITION ORDER (element
    i = the gram starting at 1-based token i+1) — the shared frozen-semantics
    core of ngram_shingles and the positional span operators. Frozen rules:
    lowercase, trim, split on whitespace; docs with 1..n-1 tokens emit their
    full join as one gram; empty/whitespace text emits nothing."""
    from functools import reduce

    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    nt = F.size(toks)
    # n-grams as a zip_with chain of n shifted slices, NOT
    # transform(sequence(...), i -> slice(toks, i, n)): HOF lambdas run
    # interpreted and re-evaluate captured expressions PER ELEMENT, so the
    # sequence form re-ran the whole lower/trim/split chain once per token
    # (measured 6x slower on the sf0.1 documents). zip_with's array children
    # are ordinary per-row expressions; the lambdas below touch only their
    # element args.
    cnt = nt - (n - 1)
    shifted = [F.slice(toks, i + 1, cnt) for i in range(n)]
    joined = reduce(
        lambda acc, nxt: F.zip_with(acc, nxt, lambda a, b: F.concat_ws(" ", a, b)),
        shifted,
    )
    grams = F.when(nt >= n, joined).otherwise(
        F.when(nt > 0, F.array(F.array_join(toks, " "))).otherwise(
            F.array().cast("array<string>")
        )
    )
    # the only possible empty gram is the whitespace-only-doc artifact
    # (split('') = ['']), whose removal cannot shift any other position
    return F.filter(grams, lambda g: F.length(g) > 0)


def _ngram_shared_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    shingle_doc_cap: int,
) -> DataFrame:
    """(a, b, n_shared, n_a, n_b) for every doc pair sharing >= 1 n-gram
    shingle, a < b — the shared core of ngram_jaccard_pairs and
    ngram_containment_pairs (one pair-count plan, two similarity algebras).

    Plan: distinct (id, shingle) -> per-doc sizes (broadcastable rollup) ->
    per-shingle doc-id lists (ONE shuffle; memory bounded by the cap) ->
    native C(s,2) pair expansion -> per-pair shared count -> join sizes.
    No self-join of the shingle table.

    ``shingle_doc_cap``: shingles present in more than this many docs are
    dropped before the join (a stop-shingle: at web scale "click here to"
    appears in 10^9 docs and would emit 10^18 pairs). Dropping can only
    LOWER the similarity estimates for pairs that share such mega-shingles;
    the cap is recorded by the caller's manifest, never silent.
    """
    from simhash_spark.operators.candidates import cold_pairs, sized_buckets
    from simhash_spark.session import spread_small_input

    # ONE exchange of the shingle table, total (the bucket rule of
    # operators/candidates.py without its hot chain: a shared count cannot
    # be chained, so stop-shingles are dropped): shingle frequency is a
    # window count over the shingle-clustered rows, not a separate groupBy
    # + semi-join — the old shape (freq agg / semi-join / sizes agg over a
    # persisted table) paid an extra full exchange for the frequency
    # pre-agg plus a broadcast build of the kept-shingle list that could
    # never broadcast at web scale.
    # ngram_shingles itself is now shuffle-free (per-doc array_distinct),
    # so the window's ClusteredDistribution(shingle) inserts the single
    # exchange; the stop-shingle filter runs before the collect agg, which
    # therefore never materializes a mega-shingle's doc list (per-group
    # memory bounded by the cap at ANY corpus size — the window count
    # itself spills via the sort-based window buffer).
    sh = ngram_shingles(spread_small_input(df), id_col, text_col, n, hashed=True)
    sized = sized_buckets(sh, ["shingle"])
    pairs = cold_pairs(sized, ["shingle"], shingle_doc_cap)
    shared = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_shared"))
    # per-doc shingle counts over the FULL corpus, computed from the SAME
    # shingle-clustered rows (identical subplan incl. the window -> AQE
    # reuses the materialized shuffle stage at runtime; no persist needed):
    # one map-side-combining count agg whose shuffle is ~one row per doc.
    # Deliberately NOT semi-joined down to pair-participating docs — that
    # variant chains sizes behind the whole pair pipeline and serializes
    # the plan (measured 2.17 s vs 14-35 s at sf0.1).
    sizes = sized.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    sa = sizes.select(F.col("id").alias("a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("b"), F.col("n_sh").alias("n_b"))
    return shared.join(sa, "a").join(sb, "b").select("a", "b", "n_shared", "n_a", "n_b")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    shingle_doc_cap: int = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for every pair sharing >= 1 shingle,
    filtered to jaccard >= threshold. Returns (a, b, n_shared, n_a, n_b,
    jaccard), a < b; jaccard = shared/(|a|+|b|-shared), one int division
    (engine-portable). Plan/cap semantics: _ngram_shared_counts.
    """
    counts = _ngram_shared_counts(df, id_col, text_col, n, shingle_doc_cap)
    return (
        counts.withColumn(
            "jaccard",
            F.col("n_shared").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "n_shared", "n_a", "n_b", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
    shingle_doc_cap: int = 1000,
) -> DataFrame:
    """Exact n-gram CONTAINMENT (Broder'97 §2): shared / min(|a|, |b|) —
    the asymmetric near-dup measure Jaccard under-scores. A short doc
    quoted verbatim inside a much longer one has containment ~1 but
    jaccard ~|short|/|long| (arbitrarily small), so boilerplate extraction
    and quote/inclusion detection filter on containment, not Jaccard
    (Lee'22 §4 discusses exactly this failure mode of symmetric measures).

    Returns (a, b, n_shared, n_a, n_b, containment, contained_id), a < b;
    ``contained_id`` = the smaller-shingle-set side (ties -> a, frozen) —
    the doc a keep-rule would drop if the pair is treated as an inclusion.
    One int division; same one-exchange plan and stop-shingle cap as
    ngram_jaccard_pairs (_ngram_shared_counts).
    """
    counts = _ngram_shared_counts(df, id_col, text_col, n, shingle_doc_cap)
    return (
        counts.withColumn(
            "containment",
            F.col("n_shared").cast("double")
            / F.least("n_a", "n_b").cast("double"),
        )
        .where(F.col("containment") >= threshold)
        .withColumn(
            "contained_id",
            F.when(F.col("n_a") <= F.col("n_b"), F.col("a")).otherwise(F.col("b")),
        )
        .select("a", "b", "n_shared", "n_a", "n_b", "containment", "contained_id")
    )


def ngram_near_dup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    shingle_doc_cap: int = 1000,
) -> DataFrame:
    """Near-dup CLUSTERS under the exact n-gram Jaccard measure — the
    cluster face the SimHash and embedding dedup families already have,
    for the third algebra: connected components over ngram_jaccard_pairs,
    every doc labeled (singletons by themselves, min-STRING-id component
    labels — the same frozen rule as text_near_dup_clusters, so the keep/
    weight/split decision operators apply unchanged on these labels).

    Plan: the audited ONE-exchange shared-counts core builds the pair set;
    ``pipeline.cluster_job`` labels it (the O(log n) star loop, bounded
    driver fast path under the edge limit, and the frozen singleton rule).
    Nothing here is new machinery — the operator exists so a pure n-gram
    dedup run composes from queries the driver checks.
    """
    from simhash_spark.config import DEFAULT_CONFIG
    from simhash_spark.plans.pipeline import cluster_job

    pairs = ngram_jaccard_pairs(df, id_col, text_col, n, threshold, shingle_doc_cap)
    pairs = pairs.select(F.col("a").cast("string").alias("a"), F.col("b").cast("string").alias("b"))
    ids = df.select(F.col(id_col).cast("string").alias("image_id"))
    return cluster_job(pairs, ids, DEFAULT_CONFIG).withColumnRenamed("image_id", id_col)


def near_dup_keep_list(clusters: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, cluster_id) labels -> (id, keep_id, is_kept): the dedup DECISION a
    run publishes — one representative per near-dup cluster, everything else
    marked for drop. This is the reference program's actual output shape
    (which rows survive), derived from cluster labels.

    connected_components labels every cluster by its MINIMUM member id and
    singletons by themselves (plans/text_dedup.cluster rule), so the frozen
    min-id representative rule makes keep_id == cluster_id — a pure
    projection, no extra shuffle at any corpus size."""
    return clusters.select(
        F.col(id_col),
        F.col("cluster_id").alias("keep_id"),
        (F.col(id_col) == F.col("cluster_id")).cast("int").alias("is_kept"),
    )


def near_dup_keep_best(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Quality-aware dedup decision: (id, cluster_id) labels + (id, score) ->
    (id, keep_id, is_kept), keeping each cluster's HIGHEST-score member
    (ties broken by minimum id — frozen, deterministic). Real curation runs
    keep the best member (longest / highest quality score), not the minimum
    id; near_dup_keep_list stays as the id-rule variant.

    ``scores`` must cover every clustered id (inner join; a missing score
    silently dropping a row would corrupt the keep decision, so callers
    join the same table the clusters came from). Plan: one score equi-join
    + ONE cluster_id exchange — keep_id is a first_value window over the
    whole cluster partition, no second aggregate+join pass.
    """
    j = clusters.join(
        scores.select(F.col(id_col), F.col(score_col).alias("_score")), id_col
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("cluster_id")
        .orderBy(F.col("_score").desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    j = j.withColumn("keep_id", F.first(F.col(id_col)).over(w))
    return j.select(
        F.col(id_col),
        F.col("keep_id"),
        (F.col(id_col) == F.col("keep_id")).cast("int").alias("is_kept"),
    )


def tier_drops(
    rows: DataFrame, tier: str, keep_col: str, id_col: str = "image_id", id_type=None
) -> DataFrame:
    """(id_col, tier) for the rows of a keeper table whose id is not its
    keeper ``keep_col`` — the drop set of one ladder rung (exact_keep's
    keep_id, or a near-dup label's cluster_id). ``id_type`` casts ids back
    to the corpus id type (near labels ride as strings)."""
    ids = F.col(id_col) if id_type is None else F.col(id_col).cast(id_type)
    return rows.where(F.col(id_col) != F.col(keep_col)).select(
        ids.alias(id_col), F.lit(tier).alias("tier")
    )


def assemble_tiers(corpus_ids: DataFrame, drops: DataFrame, id_col: str = "image_id") -> DataFrame:
    """The ladder's FROZEN label assembly, shared by every face that
    publishes tier attribution (tier_ladder, run_pipeline / run_delta
    --tier-labels): left-join the (id_col, tier) drop set onto the corpus
    ids; unlabeled rows are 'kept' / is_kept=1. Disjointness of the drop
    tiers is the caller's funnel invariant."""
    return corpus_ids.join(drops, id_col, "left").select(
        id_col,
        F.coalesce(F.col("tier"), F.lit("kept")).alias("tier"),
        F.col("tier").isNull().cast("int").alias("is_kept"),
    )


def tier_ladder(
    corpus: DataFrame,
    id_col: str,
    content_col: str,
    near_clusters: Callable[[DataFrame], DataFrame],
    emb: DataFrame | None = None,
    centroids: np.ndarray | None = None,
    tau: float = 0.95,
    vec_id_col: str | None = None,
    vec_col: str = "embedding",
) -> DataFrame:
    """Tiered dedup attribution — the production dedup LADDER as one table,
    the one definition behind the text (dedup_tier_labels) and image
    (pipeline.image_tier_labels) faces: exact -> near -> optionally
    semantic, each tier running ONLY on the survivors of the previous one
    (the curation CLI's frozen stage order), and every dropped row labeled
    with the ONE tier that removed it.

    Output: one row per corpus row, (id_col, tier, is_kept) with tier in
    {'exact','near','semantic'} for dropped rows and 'kept' for survivors
    (is_kept = 1 iff tier = 'kept').

    FROZEN per-tier rules:
    - exact: exact_keep over ``content_col``; NULL content passes.
    - near: ``near_clusters(survivors)`` -> (id_col, cluster_id) with min
      string-id labels; keeper = the member whose id IS its label.
    - semantic (only when ``emb`` is given, with ``centroids``):
      semdedup_keep's lowest-centroid-cosine rule at cosine >= ``tau`` over
      the embedding rows (``vec_id_col`` default id_col, ``vec_col``) of the
      remaining survivors; a row with a NULL or no embedding passes.
    Tiers are disjoint by construction (each runs on the prior survivors),
    so the assembly is a union of drop sets + one left join.

    Scale shape: tier 1 is one digest-keyed window over slim (id, digest)
    rows; tier 2 is the caller's near-dup pipeline on the (smaller)
    survivor set; tier 3 is the one-exchange SemDeDup group kernel on the
    yet-smaller remainder — the funnel ordering exists so the expensive
    tiers see the fewest rows. Query-face caveat: the cheap survivor
    filters feed several branches and recompute per branch; production
    runs materialize tier boundaries through the CheckpointCatalog.
    """
    id_type = corpus.schema[id_col].dataType
    keep = exact_keep(corpus, id_col, content_col)
    exact = tier_drops(keep, "exact", "keep_id", id_col)
    surv1 = exact_survivors(corpus, keep, id_col)
    near = tier_drops(near_clusters(surv1), "near", "cluster_id", id_col, id_type)
    drops = exact.unionByName(near)
    if emb is not None:
        if centroids is None:
            raise ValueError("semantic tier needs both emb and centroids")
        surv2 = surv1.select(id_col).join(near.select(id_col), id_col, "left_anti")
        drops = drops.unionByName(
            semantic_drops(emb, surv2, centroids, tau, id_col, vec_id_col, vec_col)
        )
    return assemble_tiers(corpus.select(id_col), drops, id_col)


def semantic_drops(
    emb: DataFrame,
    surv_ids: DataFrame,
    centroids: np.ndarray,
    tau: float,
    id_col: str,
    vec_id_col: str | None = None,
    vec_col: str = "embedding",
) -> DataFrame:
    """(id_col, tier='semantic') for the rows semdedup_keep drops among the
    embedding rows of ``surv_ids``: the ladder's semantic rung, shared with
    run_curation's semantic stage. ``emb``'s ids (``vec_id_col``, default
    id_col) are cast to the survivors' id type. FROZEN absent-signal rule:
    a row with a NULL or no embedding never enters the kernel, so it
    passes."""
    id_type = surv_ids.schema[id_col].dataType
    vecs = (
        emb.select(
            F.col(vec_id_col or id_col).cast(id_type).alias(id_col),
            F.col(vec_col).alias("vec"),
        )
        .where(F.col("vec").isNotNull())
        .join(surv_ids, id_col, "left_semi")
    )
    sem = semdedup_keep(vecs, centroids, threshold=tau, id_col=id_col, vec_col="vec")
    return sem.where(F.col("is_kept") == 0).select(id_col, F.lit("semantic").alias("tier"))


def dedup_tier_labels(
    docs: DataFrame,
    emb: DataFrame,
    centroids: np.ndarray,
    cfg=None,
    tau: float = 0.95,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The TEXT face of tier_ladder: exact (md5 of ``text_col``) -> near
    (text_near_dup_clusters, the SimHash/MinHash pipeline) -> semantic
    (SemDeDup over ``emb``'s (vec_id_col, vec_col) rows). The per-doc
    face of the funnel report: "which mechanism removed how much, and
    which doc fell to which rule"."""
    from simhash_spark.config import DEFAULT_CONFIG
    from simhash_spark.plans.text_dedup import text_near_dup_clusters

    cfg = cfg or DEFAULT_CONFIG
    return tier_ladder(
        docs,
        id_col,
        text_col,
        lambda surv: text_near_dup_clusters(surv, id_col, text_col, cfg),
        emb,
        centroids,
        tau,
        vec_id_col,
        vec_col,
    )


def cluster_size_histogram(clusters: DataFrame) -> DataFrame:
    """(id, cluster_id) labels -> (cluster_size, n_clusters, n_rows): the
    dedup report a 100 TB run publishes (how much of the corpus is
    duplicate mass, at what multiplicity). Two hash aggs with map-side
    combine; output is at most |distinct sizes| rows."""
    sizes = clusters.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .withColumn("n_rows", (F.col("cluster_size") * F.col("n_clusters")).cast("long"))
        .select(F.col("cluster_size").cast("long").alias("cluster_size"), "n_clusters", "n_rows")
    )


def dedup_funnel_report(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    candidates: DataFrame,
    verified: DataFrame,
    clusters: DataFrame,
) -> DataFrame:
    """End-to-end dedup FUNNEL — one (stage, metric, value) row per pipeline
    stage, the single table an operator reads to see where a run's duplicate
    mass went (the north-star contract's "metrics" face, and the corpus-level
    companion of the per-source ``dedup_report``):

        1 n_docs             corpus rows in
        2 n_exact_dup_extra  rows an exact (md5) pass would drop
                             (FROZEN null rule: count - countDistinct(md5)
                             on both engines, so every NULL-text row counts
                             as an extra — NULLs never form a keepable md5
                             group; the test corpora carry no NULL text)
        3 n_candidate_pairs  index-proposed pairs (LSH ∪ pigeonhole)
        4 n_verified_pairs   pairs surviving exact verification
        5 n_dup_docs         docs inside a multi-member near-dup cluster
        6 n_dup_clusters     multi-member clusters
        7 n_kept_docs        survivors of the min-id keep rule

    Takes the already-built stage DataFrames (same instances the cluster
    query composes) so the report never re-derives semantics; production
    runs read the same numbers from stage manifests without recomputation
    (CheckpointCatalog), and this query face recomputes shared stages per
    branch — acceptable at driver-check scale, documented here.

    Every branch is a metric-only aggregate (count / conditional count) whose
    exchange ships one row per mapper; the cluster branch reuses the
    one-exchange window-count shape (``dedup_report``). Values are BIGINT,
    assembled long-form via ``stack`` — no 1-row cross joins (the plan
    tripwire forbids CartesianProduct anywhere in the query surface).
    """
    d = docs.select(
        F.col(id_col).cast("string").alias("id"), F.col(text_col).alias("t")
    )
    m_docs = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(F.md5(F.col("t"))).alias("nd"),
    ).select(
        F.stack(
            F.lit(2),
            F.lit(1), F.lit("n_docs"), F.col("n").cast("long"),
            F.lit(2), F.lit("n_exact_dup_extra"), (F.col("n") - F.col("nd")).cast("long"),
        ).alias("stage", "metric", "value")
    )
    m_cand = candidates.agg(F.count(F.lit(1)).alias("n")).select(
        F.stack(
            F.lit(1), F.lit(3), F.lit("n_candidate_pairs"), F.col("n").cast("long")
        ).alias("stage", "metric", "value")
    )
    m_ver = verified.agg(F.count(F.lit(1)).alias("n")).select(
        F.stack(
            F.lit(1), F.lit(4), F.lit("n_verified_pairs"), F.col("n").cast("long")
        ).alias("stage", "metric", "value")
    )
    first = clusters.columns[0]
    sized = clusters.select(
        F.col(first).alias("_id"), F.col("cluster_id").alias("_cid")
    ).withColumn("_csize", F.count(F.lit(1)).over(Window.partitionBy("_cid")))
    m_clu = sized.agg(
        F.sum(F.when(F.col("_csize") > 1, 1).otherwise(0)).alias("dup_docs"),
        F.sum(
            F.when((F.col("_csize") > 1) & (F.col("_id") == F.col("_cid")), 1).otherwise(0)
        ).alias("dup_clusters"),
        F.sum(F.when(F.col("_id") == F.col("_cid"), 1).otherwise(0)).alias("kept"),
    ).select(
        F.stack(
            F.lit(3),
            F.lit(5), F.lit("n_dup_docs"), F.col("dup_docs").cast("long"),
            F.lit(6), F.lit("n_dup_clusters"), F.col("dup_clusters").cast("long"),
            F.lit(7), F.lit("n_kept_docs"), F.col("kept").cast("long"),
        ).alias("stage", "metric", "value")
    )
    out = m_docs.unionByName(m_cand).unionByName(m_ver).unionByName(m_clu)
    return out.select(F.col("stage").cast("int").alias("stage"), "metric", "value")


# ------------------------------------------------------- embedding near-dup


def cosine_col(a, b) -> F.Column:
    """Cosine similarity between two array<float/double> columns — one
    numpy einsum/norm pass per Arrow batch (the engine's vectorized-UDF
    fast path). Not Catalyst higher-order functions: zip_with/aggregate
    evaluate their lambda per ELEMENT without codegen — for 64-dim vectors
    that is ~400 interpreted lambda invocations per row, measured ~20x
    slower than this one Arrow-batched numpy pass."""
    @F.pandas_udf(T.DoubleType())
    def _cos(xa: pd.Series, xb: pd.Series) -> pd.Series:
        if not len(xa):
            return pd.Series(np.zeros(0, np.float64))
        ma = np.stack(xa.to_numpy()).astype(np.float64)
        mb = np.stack(xb.to_numpy()).astype(np.float64)
        dots = np.einsum("ij,ij->i", ma, mb)
        na = np.linalg.norm(ma, axis=1)
        nb = np.linalg.norm(mb, axis=1)
        return pd.Series(dots / (na * nb))

    return _cos(a, b)


def embedding_near_dup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 16,
    n_tables: int = 1,
    use_lsh: bool = True,
    seed: int = 7,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a, b, a<b) with cosine >= tau.

    Scale path (use_lsh=True): bucket by a random-hyperplane (SRP) signature
    first, so the self-join is per-bucket, not n^2. Recall lever: ONE side of
    the join probes its signature plus all n_planes one-bit flips, the other
    side keeps raw signatures — a pair collides iff its signatures are within
    Hamming 1, at (n_planes+2)x total key volume instead of the (n_planes+1)^2
    cross-collision blow-up of probing both sides. The candidate stage carries
    ONLY 16-byte (a, b) id pairs through the dedup exchange; embedding vectors
    are re-attached by two equi-joins afterward, exactly like verify_pairs
    re-attaches fingerprints — so duplicate key collisions never pay vector
    serialization. use_lsh=False is the exact n^2 baseline for tests and the
    DuckDB oracle.
    """
    from simhash_spark.operators.ann import srp_keys
    from simhash_spark.session import spread_small_input

    v = spread_small_input(emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")))
    if use_lsh:
        ids_only = v.select("id", "vec")
        raw = srp_keys(
            ids_only, "vec", n_planes=n_planes, n_tables=n_tables, seed=seed, multi_probe=False
        ).select("id", "key")
        probed = srp_keys(
            ids_only, "vec", n_planes=n_planes, n_tables=n_tables, seed=seed, multi_probe=True
        ).select("id", "key")
        pairs = (
            probed.alias("x")
            .join(raw.alias("y"), "key")
            .where(F.col("x.id") != F.col("y.id"))
            .select(
                F.least("x.id", "y.id").alias("a"),
                F.greatest("x.id", "y.id").alias("b"),
            )
            .dropDuplicates(["a", "b"])
        )
        cand = pairs.join(
            v.select(F.col("id").alias("a"), F.col("vec").alias("va")), "a"
        ).join(v.select(F.col("id").alias("b"), F.col("vec").alias("vb")), "b")
    else:
        x = v.select(F.col("id").alias("a"), F.col("vec").alias("va"))
        y = v.select(F.col("id").alias("b"), F.col("vec").alias("vb"))
        cand = x.crossJoin(y).where(F.col("a") < F.col("b"))
    return (
        cand.withColumn("cosine", cosine_col(F.col("va"), F.col("vb")))
        .where(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


def semdedup_keep(
    emb: DataFrame,
    centroids: np.ndarray,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — cluster-local
    semantic deduplication: k-means-partition the embedding space, compare
    pairs ONLY within a cluster, group members connected by cosine >= tau,
    and keep each duplicate group's member with the LOWEST cosine to its
    cluster centroid (the paper's rule: the least-prototypical example is
    the most informative survivor; ties break by minimum id — frozen).

    Returns every corpus row: (id, group_id, is_kept) with group_id = the
    duplicate group's minimum member id (singletons label themselves,
    is_kept = 1) — the same label/decision shape as near_dup_keep_list, so
    downstream weighting/split operators apply unchanged.

    This is a THIRD embedding-dedup algebra next to embedding_near_dup's
    exact baseline and its SRP-LSH scale path: the quantizer bounds the
    comparison volume to sum_c m_c^2 instead of n^2 (the paper's point), and
    the centroid-distance keep rule differs from min-id / keep-best.

    Plan shape — ONE exchange, zero joins: centroids ride in the UDF closure
    (ivf_fit trains them on a bounded driver sample — never a corpus pass);
    assignment + centroid cosine is one matmul per Arrow batch
    (make_ivf_assign_sim_udf); then groupBy(list_id).applyInPandas runs the
    whole per-cell decision — blocked gram matrix (numpy, memory bounded at
    _GRAM_BLOCK_ELEMS regardless of cell size), union-find over the
    qualifying pairs only, keep rule, labels — inside the group kernel.
    Groups cannot straddle k-means cells (nprobe=1), so the decision is
    complete per cell and every corpus row is emitted directly: no pair
    materialization, no CC loop, no window, no re-attach join. This is the
    paper's own execution shape (per-cluster in-memory similarity), measured
    17-42x faster than the equivalent self-join + distributed-CC formulation
    on a 200k/400k/800k ladder with bit-identical output at every rung
    (BENCH/SEMDEDUP_AB.md; reproduce: design_regime.py --semdedup).

    Scale/skew: one task per cell; parallelism and per-task memory are both
    set by the quantizer's k (the paper's regime — pick k so cells average
    ~corpus/k rows; the gram block keeps compute memory flat even on a hot
    cell, and cell payload is m*dim*8 bytes, e.g. ~0.5 GB for 1M x 64-dim).
    """
    from simhash_spark.operators.ann import make_ivf_assign_sim_udf

    assign = make_ivf_assign_sim_udf(centroids)
    v = (
        emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        .withColumn("_a", assign(F.col("vec")))
        .select("id", "vec", F.col("_a.list_id").alias("list_id"), F.col("_a.csim").alias("csim"))
    )
    thr = float(threshold)
    id_type = emb.schema[id_col].dataType  # id-type-generic, like the rest
    out_schema = T.StructType(
        [
            T.StructField("id", id_type),
            T.StructField("group_id", id_type),
            T.StructField("is_kept", T.IntegerType()),
        ]
    )

    def cell_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        ids = pdf["id"].to_numpy()  # int64 for long ids, object for strings
        if m == 1:
            return pd.DataFrame(
                {"id": ids, "group_id": ids, "is_kept": np.ones(1, np.int32)}
            )
        # ascending-id order makes the union-to-min-index rule below yield
        # min-ID roots directly (the engine's frozen group-label rule;
        # lexicographic for string ids, same as the near-dup family)
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        csim = pdf["csim"].to_numpy(np.float64)[order]
        mat = _unit_rows(pdf["vec"].to_numpy()[order])

        parent = np.arange(m, dtype=np.int64)

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for i, c, _cos in _iter_gram_pairs(mat, thr):
            ri, rj = find(i), find(c)
            if ri != rj:
                lo, hi = (ri, rj) if ri < rj else (rj, ri)
                parent[hi] = lo
        roots = np.fromiter((find(i) for i in range(m)), np.int64, m)
        # keeper = first member in (csim asc, id asc) order per group;
        # singletons keep themselves — same rule, group of one
        keep = np.zeros(m, np.int32)
        seen: set[int] = set()
        for i in np.lexsort((np.arange(m), csim)):
            r = int(roots[i])
            if r not in seen:
                seen.add(r)
                keep[i] = 1
        return pd.DataFrame({"id": ids, "group_id": ids[roots], "is_kept": keep})

    return (
        v.groupBy("list_id")
        .applyInPandas(cell_kernel, out_schema)
        .select(F.col("id").alias(id_col), "group_id", "is_kept")
    )


# per-gram-block element budget for the similarity kernels' blocked matmuls:
# 32M float64 = 256 MB per block regardless of cell size
_GRAM_BLOCK_ELEMS = 32 << 20


def _unit_rows(arrs) -> np.ndarray:
    """Stack a sequence of vectors into float64 unit rows — the similarity
    kernels' shared normalization (1e-12 floor guards zero vectors)."""
    mat = np.stack(arrs).astype(np.float64)
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    return mat


def _iter_gram_pairs(mat: np.ndarray, thr: float):
    """Yield (i, j, cos) for every upper-triangle pair of unit rows with
    cos >= thr, via row-blocked gram matmuls bounded at _GRAM_BLOCK_ELEMS
    elements: the O(m^2) compare stays in numpy; only qualifying pairs
    (edge volume) reach the Python loop. Shared by semdedup_keep and
    semdedup_tau_sweep so the block sizing and triangle rule live once."""
    m = len(mat)
    blk = max(1, min(4096, _GRAM_BLOCK_ELEMS // max(m, 1)))
    for s in range(0, m, blk):
        g = mat[s : s + blk] @ mat.T
        rows, cols = np.nonzero(g >= thr)
        if not len(rows):
            continue
        cos = g[rows, cols]
        for r, c, cv in zip(rows.tolist(), cols.tolist(), cos.tolist()):
            i = s + r
            if c > i:  # upper triangle only (skips self-pairs too)
                yield i, c, cv


def semdedup_tau_sweep(
    emb: DataFrame,
    centroids: np.ndarray,
    tau_bps: list[int],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup threshold-calibration curve (the semantic-axis analog of
    phash_distance_histogram's radius margin): for each candidate threshold
    tau (basis points), the corpus-wide keep rate semdedup_keep WOULD
    produce at that tau — Abbas'23 picks tau per corpus by exactly this
    retention sweep, so a production run needs the curve as a first-class
    (monitorable, oracle-checkable) operator, not a notebook loop.

    One row per tau: (tau_bp, n_rows, n_kept, n_dropped, keep_bp), all
    integers (keep_bp = n_kept * 10000 div n_rows — floor division, so the
    row is bit-equal across engines). n_kept == the number of duplicate
    groups: every group keeps exactly one member (singletons keep
    themselves), hence n_dropped per cell == successful union-find merges,
    which is ALL the kernel has to count — no keep rule, no labels.

    Scale shape: the whole grid costs ONE corpus pass — the same
    groupBy(cell).applyInPandas kernel as semdedup_keep, gram blocks
    computed once at min(tau), each qualifying pair unioned into every
    tau <= its cosine (pair volume is edge volume, the matmul dominates).
    Plan = the kernel's one corpus exchange plus a k_taus*k_cells-row final
    agg — grid width never re-scans the corpus.

    FROZEN comparison rule: a pair matches tau iff cos * 10000.0 >= tau_bp
    (float64 product vs the integer, exactly this expression — the numpy
    oracle mirror evaluates the identical form).
    """
    from simhash_spark.operators.ann import make_ivf_assign_sim_udf

    if not tau_bps:
        raise ValueError("tau_bps must be non-empty")
    taus = sorted({int(t) for t in tau_bps})
    thr_min = min(taus) / 10000.0

    assign = make_ivf_assign_sim_udf(centroids)
    v = (
        emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        .withColumn("_a", assign(F.col("vec")))
        .select("vec", F.col("_a.list_id").alias("list_id"))
    )
    out_schema = T.StructType(
        [
            T.StructField("tau_bp", T.IntegerType()),
            T.StructField("m", T.LongType()),
            T.StructField("n_merges", T.LongType()),
        ]
    )

    def cell_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m == 1:
            return pd.DataFrame(
                {
                    "tau_bp": np.array(taus, np.int32),
                    "m": np.ones(len(taus), np.int64),
                    "n_merges": np.zeros(len(taus), np.int64),
                }
            )
        mat = _unit_rows(pdf["vec"].to_numpy())
        parents = {t: np.arange(m, dtype=np.int64) for t in taus}
        merges = {t: 0 for t in taus}

        def find(parent: np.ndarray, x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for i, c, cos in _iter_gram_pairs(mat, thr_min):
            cb = cos * 10000.0  # the FROZEN comparison form
            for t in taus:
                if cb < t:
                    break  # taus ascending: higher taus can't match either
                parent = parents[t]
                ri, rj = find(parent, i), find(parent, c)
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
                    merges[t] += 1
        return pd.DataFrame(
            {
                "tau_bp": np.array(taus, np.int32),
                "m": np.full(len(taus), m, np.int64),
                "n_merges": np.array([merges[t] for t in taus], np.int64),
            }
        )

    return (
        v.groupBy("list_id")
        .applyInPandas(cell_kernel, out_schema)
        .groupBy("tau_bp")
        .agg(F.sum("m").alias("n_rows"), F.sum("n_merges").alias("n_dropped"))
        .select(
            "tau_bp",
            "n_rows",
            (F.col("n_rows") - F.col("n_dropped")).alias("n_kept"),
            "n_dropped",
            # integer floor division — bit-equal across engines (house rule)
            F.expr("(n_rows - n_dropped) * 10000 div n_rows").alias("keep_bp"),
        )
        .orderBy("tau_bp")
    )


def cluster_label_eval(
    assign: DataFrame,
    truth: DataFrame,
    id_col: str = "vec_id",
    cluster_col: str = "group_id",
    label_col: str = "label",
) -> DataFrame:
    """External clustering quality vs a ground-truth class column — the
    embedding axis's counterpart of dedup_truth_eval, via exact PAIR
    COUNTING computed from the (cluster, label) CONTINGENCY TABLE, never
    from materialized pairs: with n_gl = rows in cluster g with label l,

        pairs_same_cluster = sum_g C(n_g., 2)
        pairs_same_label   = sum_l C(n_.l, 2)
        pairs_both         = sum_gl C(n_gl, 2)

    so pair precision = both/cluster and pair recall = both/label (the
    standard pair-counting decomposition behind the Rand index) cost two
    map-combined hash aggs + one single-row agg — O(#clusters x #labels)
    intermediate instead of O(sum m^2) pairs, the reason this is safe to
    run on a 10^12-row assignment while dedup_eval's explicit-pair metric
    needs its max_cluster_size guard.

    Output: ONE row, all exact integers (n_rows, n_clusters, n_labels, the
    three pair sums as bigint, precision_bp / recall_bp by floor division)
    — bit-equal across engines.

    Overflow discipline: every pair product/sum is computed in
    DECIMAL(38,0) — exact to 1e38, which covers C(n,2) for any n <= 1e19,
    so the math never wraps at the 10^12-row scale this function is sold
    for (bigint n*(n-1) wraps SILENTLY at n ~ 3e9 with ANSI off, and
    pairs*10000 at pairs ~ 9.2e14 — both magnitudes routine there; DuckDB's
    HUGEINT would not, so the engines would also diverge). The bp floor
    division is made exact via pmod (decimal `/` ROUNDS at reduced scale —
    subtracting the remainder first makes the quotient an exact integer).
    The OUTPUT pair-sum columns stay bigint for the driver contract; if a
    sum genuinely exceeds bigint (>= 9.2e18 pairs) the cast raises via
    raise_error instead of wrapping — loud, like dedup_eval's guard.
    """
    j = assign.select(F.col(id_col).alias("id"), F.col(cluster_col).alias("g")).join(
        truth.select(F.col(id_col).alias("id"), F.col(label_col).alias("l")), "id"
    )
    ct = j.groupBy("g", "l").agg(F.count(F.lit(1)).alias("n"))
    # cluster/label marginals as two sub-aggs of the same small table
    # (#g x #l rows, never corpus-sized)
    per_g = ct.groupBy("g").agg(F.sum("n").alias("ng"))
    per_l = ct.groupBy("l").agg(F.sum("n").alias("nl"))
    # sum(n*(n-1)) is even, so / 2 is an exact integer at any decimal scale
    pair_sum = "CAST(sum(CAST({c} AS DECIMAL(38,0)) * ({c} - 1)) / 2 AS DECIMAL(38,0))"
    a = ct.agg(
        F.sum("n").cast("bigint").alias("n_rows"),
        F.countDistinct("g").alias("n_clusters"),
        F.countDistinct("l").alias("n_labels"),
        F.expr(pair_sum.format(c="n")).alias("_both"),
    )
    pg = per_g.agg(F.expr(pair_sum.format(c="ng")).alias("_same_g"))
    pl = per_l.agg(F.expr(pair_sum.format(c="nl")).alias("_same_l"))
    to_bigint = (
        "CASE WHEN {x} > CAST(9223372036854775807 AS DECIMAL(38,0)) THEN "
        "CAST(raise_error('cluster_label_eval: pair sum exceeds bigint "
        "(>= 9.2e18 pairs) — widen the output contract to decimal before "
        "trusting these columns') AS BIGINT) ELSE CAST({x} AS BIGINT) END"
    )
    floor_bp = (
        "CASE WHEN {d} = 0 THEN CAST(10000 AS BIGINT) ELSE "
        "CAST((_both * 10000 - pmod(_both * 10000, {d})) / {d} AS BIGINT) END"
    )
    # single-row assembly via a constant-key equi-join (BroadcastHashJoin,
    # never a CartesianProduct — the plan sweep forbids that node)
    k = F.lit(1).alias("_k")
    return (
        a.select(k, "*")
        .join(pg.select(k, "*"), "_k")
        .join(pl.select(k, "*"), "_k")
        .select(
            "n_rows",
            "n_clusters",
            "n_labels",
            F.expr(to_bigint.format(x="_same_g")).alias("pairs_same_cluster"),
            F.expr(to_bigint.format(x="_same_l")).alias("pairs_same_label"),
            F.expr(to_bigint.format(x="_both")).alias("pairs_both"),
            F.expr(floor_bp.format(d="_same_g")).alias("precision_bp"),
            F.expr(floor_bp.format(d="_same_l")).alias("recall_bp"),
        )
    )


# ----------------------------------------------------------- dedup eval


def dedup_eval(
    clusters: DataFrame,
    truth_pairs: DataFrame,
    id_col: str = "image_id",
    cluster_col: str = "cluster_id",
    max_cluster_size: int | None = 10_000,
    sample_oversized: bool = False,
) -> DataFrame:
    """Dup-pair recall/precision of a cluster assignment against an
    independent ground-truth pair table — BASELINE.json's recall >= 0.99
    gate as a first-class, monitorable operator (the number a production
    run reports per batch, not just a test assertion).

    Predicted pairs = all same-cluster pairs (a < b): the north rule
    compares CLUSTER assignments, so transitive-closure pairs count as
    predicted even when no single index proposed them. Output is ONE row:
    n_truth, n_pred, n_hit (bigint) and recall_bp / precision_bp (basis
    points, floor integer division — exact integer arithmetic end to end,
    so the row is bit-equal across engines; 9900 bp == the 0.99 gate).

    Scale: the self-join on cluster_col materializes exactly sum_C(size,2)
    rows — the metric's own cardinality, concentrated on the largest
    clusters. That is inherent to pair-recall (the truth table it joins
    is the same size class), so the operator ENFORCES a bound instead of
    documenting one: any cluster larger than ``max_cluster_size`` raises
    (loud failure via an IN-PLAN ``raise_error`` over the member rows — it
    fires at execution, strictly before the pair join materializes, and
    construction stays lazy: no hidden probe job, no second run of the
    upstream lineage) unless ``sample_oversized=True``, which deterministically
    downsamples each oversized cluster's MEMBERS to ~max_cluster_size with
    the md5 keep rule (hash(cluster_id|id) % size < cap) before pairing —
    pair counts for those clusters then measure the sampled subgraph, and
    the output is still deterministic across runs/engines. Pass
    ``max_cluster_size=None`` to disable the guard entirely. Both join
    exchanges carry bare (id, cluster_id) / (a, b) rows; the final agg is
    a single map-combined global sum.
    """
    lab = clusters.select(F.col(cluster_col).alias("_c"), F.col(id_col).alias("_id"))
    if max_cluster_size is not None:
        # cluster sizes as a WINDOW count over the same _c-keyed rows the
        # pair self-join below shuffles on — one exchange serves both (the
        # CLAUDE.md exchange-reuse pattern), and the guard stays LAZY: no
        # collect()/job at DataFrame-construction time, so building the
        # query for plan inspection costs nothing and the upstream lineage
        # (possibly the whole pipeline) runs exactly once, not twice.
        from pyspark.sql import Window

        lab = lab.withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy("_c")))
        if sample_oversized:
            # md5 member rule: ~max_cluster_size survivors per oversized
            # cluster, deterministic in (cluster_id, id) only.
            lab = lab.where(
                (F.col("_n") <= max_cluster_size)
                | (
                    F.pmod(
                        F.conv(
                            F.md5(F.concat_ws("|", "_c", "_id")).substr(1, 8), 16, 10
                        ).cast("bigint"),
                        F.col("_n"),
                    )
                    < F.lit(max_cluster_size)
                )
            ).select("_c", "_id")
        else:
            # in-plan guard: raise_error fires while scanning MEMBER rows —
            # strictly before the C(size,2) pair join materializes anything
            # — and is folded into the _id projection so pruning can never
            # drop it. Error carries cluster id, size, projected pair count.
            msg = F.format_string(
                "dedup_eval: cluster %s has %s members (> max_cluster_size="
                f"{max_cluster_size}" + "); its pair self-join alone would "
                "materialize ~%s rows. Pass sample_oversized=True for a "
                "deterministic member sample, or raise/disable "
                "max_cluster_size explicitly.",
                F.col("_c"),
                F.col("_n"),
                (F.col("_n") * (F.col("_n") - 1) / 2).cast("bigint"),
            )
            lab = lab.select(
                "_c",
                F.when(F.col("_n") > max_cluster_size, F.raise_error(msg))
                .otherwise(F.col("_id"))
                .alias("_id"),
            )
    pred = (
        lab.select(F.col("_c"), F.col("_id").alias("a"))
        .join(lab.select(F.col("_c"), F.col("_id").alias("b")), "_c")
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
    )
    ta, tb = F.least("a", "b"), F.greatest("a", "b")
    truth = truth_pairs.select(ta.alias("a"), tb.alias("b")).dropDuplicates(["a", "b"])
    j = pred.withColumn("_p", F.lit(1)).join(
        truth.withColumn("_t", F.lit(1)), ["a", "b"], "full_outer"
    )
    agg = j.agg(
        F.sum("_p").alias("n_pred"),
        F.sum("_t").alias("n_truth"),
        F.sum(F.col("_p") * F.col("_t")).alias("n_hit"),
    )
    return agg.select(
        F.coalesce("n_truth", F.lit(0)).alias("n_truth"),
        F.coalesce("n_pred", F.lit(0)).alias("n_pred"),
        F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
        F.expr("CASE WHEN n_truth > 0 THEN (10000 * n_hit) DIV n_truth ELSE 10000 END").alias(
            "recall_bp"
        ),
        F.expr("CASE WHEN n_pred > 0 THEN (10000 * n_hit) DIV n_pred ELSE 10000 END").alias(
            "precision_bp"
        ),
    )


def near_dup_sample_weights(clusters: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Duplicate-aware sampling weights: every row of a near-dup cluster
    gets weight_bp = floor(10000 / cluster_size) floored at 1, so a
    cluster's total sampling mass stays ~one document (for mega-clusters
    past 10,000 members the floor keeps every row minimally sampleable —
    mass grows to size/10000 "documents" rather than silently zeroing the
    whole cluster out of the corpus). The keep-ONE-representative rule
    (near_dup_keep_list) deletes duplicate signal; weighting instead keeps
    all copies but downweights them — the alternative curation policy when
    near-dups carry complementary context (boilerplate-framed articles).

    Exact integer arithmetic (engine-portable); one cluster_id window
    exchange, the same single-exchange shape as dedup_report/keep_best
    (count-over-window, not a groupBy + re-join of the labels table).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id")
    return clusters.select(
        F.col(id_col),
        F.count(F.lit(1)).over(w).alias("cluster_size"),
    ).withColumn("weight_bp", F.expr("greatest(1, 10000 div cluster_size)"))


def minhash_est_eval(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg=None,
) -> DataFrame:
    """Signature-accuracy evaluation — the MinHash family's counterpart of
    dedup_eval (clusters) and ann_recall_eval (ANN): per candidate pair, the
    MinHash-ESTIMATED Jaccard (matching signature lanes / n_perm, the
    Broder'97 estimator) against the EXACT Jaccard of the same shingle-hash
    sets, both in integer basis points.

        (a, b, est_bp, exact_bp, err_bp)

    The gap this watches: LSH banding's s-curve is calibrated on the
    ESTIMATE, so a drifting |est - exact| (short docs, tiny shingle sets,
    skewed TF) silently moves the effective near-dup threshold. This makes
    that drift a monitorable table instead of a trust assumption.

    Plan: one eval-schema fingerprint pass (the kernel's existing per-row
    distinct hash set rides out of the UDF — zero extra hashing), candidate
    pairs from the audited one-exchange index plan over the SAME fingerprint
    table, then two slim (id, minhash, shingle_hashes) equi-joins. Estimate =
    native zip_with lane equality (lambda touches only its element args),
    exact = native array_intersect on the distinct sets; integer DIV end to
    end, so rows are engine-portable bit-for-bit. The payload table is
    persisted (MEMORY_AND_DISK): it feeds the candidate branch and both join
    sides, and the branches' column sets differ — without the pin each
    branch re-runs the fingerprint UDF (the exchange-reuse trap documented
    in candidates.py). Diagnostic-run sizing: the set column is unbounded by
    design (FINGERPRINT_SCHEMA_EVAL note); production pipelines keep the
    slim schema.

    Cache lifecycle: the pin lives for the session (a lazily-returned
    DataFrame cannot unpersist behind itself) — long-lived sessions running
    many diagnostics should ``spark.catalog.clearCache()`` between them or
    materialize this operator's input to (tmpfs) parquet, exactly the
    bench.py per-stage hygiene rule; at the driver's correctness scale the
    pinned table is a few hundred rows.
    """
    from pyspark import StorageLevel

    from simhash_spark.config import DEFAULT_CONFIG
    from simhash_spark.functions.udfs import with_fingerprints
    from simhash_spark.plans.text_dedup import as_captions, text_candidates
    from simhash_spark.session import spread_small_input

    cfg = cfg or DEFAULT_CONFIG
    slim = spread_small_input(as_captions(docs, id_col, text_col))
    fpe = (
        with_fingerprints(slim, cfg, emit_minhash=True, emit_shingle_hashes=True)
        .drop("caption")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cand = text_candidates(fpe.drop("minhash", "shingle_hashes"), cfg)
    pa = fpe.select(
        F.col("image_id").alias("a"),
        F.col("minhash").alias("_ma"),
        F.col("shingle_hashes").alias("_sa"),
    )
    pb = fpe.select(
        F.col("image_id").alias("b"),
        F.col("minhash").alias("_mb"),
        F.col("shingle_hashes").alias("_sb"),
    )
    eq = F.aggregate(
        F.zip_with("_ma", "_mb", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, el: acc + el,
    )
    n_shared = F.size(F.array_intersect("_sa", "_sb"))
    return (
        cand.select("a", "b")
        .join(pa, "a")
        .join(pb, "b")
        .withColumn("_eq", eq.cast("long"))
        # sizes cast to long BEFORE the 10000x products below: F.size is
        # int32 and 10000 * _ns would wrap (non-ANSI) past ~214k distinct
        # shingles — book-length docs are exactly where drift matters
        .withColumn("_ns", n_shared.cast("long"))
        .withColumn("_na", F.size("_sa").cast("long"))
        .withColumn("_nb", F.size("_sb").cast("long"))
        .select(
            "a",
            "b",
            F.expr(f"(10000 * _eq) DIV {cfg.n_perm}").alias("est_bp"),
            F.expr("(10000 * _ns) DIV (_na + _nb - _ns)").alias("exact_bp"),
            F.expr(
                f"abs((10000 * _eq) DIV {cfg.n_perm}"
                " - (10000 * _ns) DIV (_na + _nb - _ns))"
            ).alias("err_bp"),
        )
    )
