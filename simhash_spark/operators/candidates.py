"""Candidate-pair generation — LSH band buckets ∪ pigeonhole rotation buckets.

This operator replaces the reference's all-pairs fingerprint comparison
(/root/reference/README.md:16, the cache-tuned O(n^2) loops) with equi-joins
on bucket keys: O(n^2) becomes O(sum of bucket^2), bounded by ``bucket_cap``.

Skew strategy (SURVEY.md O11/O19/O20):
- buckets <= bucket_cap: all C(s,2) pairs from one collect of the bucket's
  sorted ids, expanded by two native explodes (no self-join; the collect
  is bounded by the cap).
- buckets >  bucket_cap (hot bands — e.g. a viral caption repeated 10^6
  times): emit a CHAIN of consecutive ids instead of all pairs. Linear output,
  preserves connectivity through verification for identical/near-identical
  content (which is the only way buckets get hot). The drop is logged in the
  stage metrics, never silent (SURVEY.md §7.5.3).

A pair found in several key tables (32 bands + rotation combos) is
deduplicated once, in candidate_pairs' groupBy(a, b), which keeps its
provenance as a sorted, comma-joined source set.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from simhash_spark.config import PipelineConfig
from simhash_spark.functions.native import pigeonhole_key_cols


def _tagged(code: int, idx, key_col: F.Column) -> F.Column:
    """One packed 8-byte bucket key: xxhash64 of (source code, table index,
    raw key) with the 2-bit source code folded into the low bits, so a
    bucket membership row is just (k, id) — no struct, no extra column.
    A 2^-62 hash collision merges two buckets, which only adds candidates
    that exact verification filters out. ``idx`` is an int (static table
    index) or a Column (transform's lambda position)."""
    idx_col = F.lit(idx) if isinstance(idx, int) else idx
    return F.xxhash64(F.lit(code), idx_col, key_col).bitwiseAND(F.lit(~3)).bitwiseOR(
        F.lit(code)
    )


def src_code() -> F.Column:
    """Recover the 2-bit source code from a packed key's low bits."""
    return F.col("k").bitwiseAND(F.lit(3))


# packed-key source codes (``_tagged``) and the provenance name each decodes to
SOURCES = {1: "minhash_lsh", 2: "simhash_rot", 3: "phash_rot"}


def _decode(code: F.Column) -> F.Column:
    return (
        F.when(code == 1, SOURCES[1])
        .when(code == 2, SOURCES[2])
        .when(code == 3, SOURCES[3])
        .otherwise("other")
    )


# above this combination count the key expressions move into a vectorized
# UDF: C(16,13)=560 combos as Catalyst expressions serialize to a 9 MB task
# binary and the stage becomes plan-compile-bound (measured 180 s for 500
# docs); the numpy path computes identical buckets in one pass per batch
WIDE_INDEX_UDF_THRESHOLD = 64


def explode_all_keys(
    fp: DataFrame,
    cfg: PipelineConfig,
    id_col: str = "image_id",
    include_phash: bool = True,
    force_udf_keys: bool | None = None,
) -> DataFrame:
    """fingerprints -> (k, id): ALL index keys (LSH bands ∪ simhash
    pigeonhole ∪ phash pigeonhole) in ONE scan + ONE explode.

    One explode per index would read the fingerprint table once per index —
    three scans and three shuffle-map stages. Here each row builds one flat
    ``array<long>`` of pre-hashed packed keys and explodes once: at 10^12
    rows this is the difference between reading the fingerprint checkpoint
    three times and once.

    Deliberately flat: an earlier array-of-struct formulation disabled
    WholeStageCodegen for the whole projection (executedPlan showed zero
    WSCG nodes — fully interpreted, measured 3.6x slower); a plain bigint
    array keeps the key expressions inside codegen. The source code rides
    in each key's low 2 bits (``src_code``).
    """
    import math

    combos = math.comb(cfg.n_blocks, cfg.n_blocks - cfg.hamming_radius)
    use_udf = combos > WIDE_INDEX_UDF_THRESHOLD if force_udf_keys is None else force_udf_keys
    if use_udf:
        from simhash_spark.functions.udfs import make_tagged_keys_udf

        ph_col = F.col("phash") if include_phash else F.lit(0).cast("long")
        arr = make_tagged_keys_udf(cfg, include_phash)(
            F.col("simhash"), ph_col, F.col("n_shingles"), F.col("bands")
        )
        return fp.select(F.col(id_col).alias("id"), F.explode(arr).alias("k")).select(
            "k", "id"
        )

    has_sh = F.col("n_shingles") > 0
    band_keys = F.transform("bands", lambda v, i: _tagged(1, i, v))
    sim_keys = F.array(
        *[
            _tagged(2, i, col)
            for i, col in enumerate(
                pigeonhole_key_cols("simhash", cfg.n_blocks, cfg.hamming_radius)
            )
        ]
    )
    arr = F.when(has_sh, F.concat(band_keys, sim_keys)).otherwise(
        F.array().cast("array<bigint>")
    )
    if include_phash:
        ph_keys = F.array(
            *[
                _tagged(3, i, col)
                for i, col in enumerate(
                    pigeonhole_key_cols("phash", cfg.n_blocks, cfg.phash_radius)
                )
            ]
        )
        # xxhash64 SKIPS null args (hash of the remaining ones), so a null
        # phash would give every null row the same constant key per table —
        # one giant cross-row bucket. Gate on isNotNull: null phash emits no
        # phash keys, so null-phash rows never share a phash bucket.
        ph_keys = F.when(F.col("phash").isNotNull(), ph_keys).otherwise(
            F.array().cast("array<bigint>")
        )
        arr = F.concat(arr, ph_keys)
    return fp.select(F.col(id_col).alias("id"), F.explode(arr).alias("k")).select("k", "id")


def bucket_pairs_packed(
    packed: DataFrame,
    cfg: PipelineConfig,
    observe: Callable[..., DataFrame] | None = None,
) -> DataFrame:
    """(k, id) packed bucket memberships -> candidate pairs (a, b, src).

    ONE exchange of the key table, total. Bucket size is a window count over
    the k-clustered rows, not a separate groupBy + semi-join: the previous
    shape (sizes agg / cold semi / hot semi) consumed packed three times with
    DIFFERENT column sets, so Catalyst's column pruning made the three
    exchange subplans non-identical and exchange reuse never fired — three
    full shuffles (and three fingerprint scans + keygen passes) of a table
    with ~40 keys/row. Here the window's required ClusteredDistribution(k)
    inserts the single exchange (none at all if the input is already
    k-clustered, e.g. the delta path's bucketed checkpoints); the cold and
    hot branches then read the SAME (k, id, _bsize) rows, so AQE reuses the
    one materialized shuffle stage at runtime, and the downstream groupBy(k)
    / lag windows are exchange-free (k ⊆ their clustering keys). Local
    measurement at 60k images/2.4M keys: ~2x faster best-case and far lower
    run variance than the semi-join shape (fewer shuffles = less of this
    sandbox's syscall-bound shuffle term); at 10^12 rows it also removes two
    O(n_buckets) join builds that could never broadcast.

    The window count buffers one bucket per task slot (sort-based, spills via
    ExternalAppendOnlyUnsafeRowArray), so a viral 10^6-member bucket spills
    to disk instead of OOMing — same guarantee the old sort-window chain path
    already relied on. Skew note: a window (unlike a join) cannot be
    AQE-skew-split, so one pathological bucket = one slow (spilled) task.
    This is an accepted trade for -2 full exchanges per run because the
    production funnel runs exact_dedup FIRST (dedup.py): identical content —
    the only thing that makes buckets truly enormous — collapses to one row
    before any index key is built, leaving hot buckets at near-identical
    scale (bounded by cfg.bucket_cap accounting, chained after the count).

    Only buckets with 2..cap members produce all-pairs output; the collect
    agg sees them AFTER the _bsize filter, so per-group memory stays bounded
    by the cap at any corpus size and the sparse-index regime (~85%
    singleton buckets at 40-bit keys) never collects one-element arrays.

    ``observe`` (``StageObservations.observe``) receives the per-source
    bucket histogram (``bucket_stat_exprs``) off the same window: a
    min(id) over it flags one head row per bucket (ids are unique within a
    bucket), so the numbers cost no extra exchange or pass.
    """
    w = Window.partitionBy("k")
    with_size = packed.withColumn("_bsize", F.count(F.lit(1)).over(w))
    if observe is not None:
        with_size = observe(
            with_size.withColumn("_head", F.col("id") == F.min("id").over(w)),
            *bucket_stat_exprs(),
        )
    cold = with_size.where(
        (F.col("_bsize") >= 2) & (F.col("_bsize") <= cfg.bucket_cap)
    )
    grouped = (
        cold.groupBy("k")
        .agg(F.sort_array(F.collect_list("id")).alias("_ids"))
        .select(src_code().alias("c"), "_ids")
    )
    # two chained explodes (pipelined, no shuffle between them) expand each
    # bucket's sorted id list into its C(s,2) ordered pairs; deliberately
    # lambda-free — NamedLambdaVariable expressions in this position break
    # localCheckpoint plan re-resolution downstream (Spark 4.1)
    lefts = grouped.select("c", "_ids", F.posexplode("_ids").alias("_i", "a"))
    pairs_small = lefts.select(
        "c",
        "a",
        F.explode(
            F.slice("_ids", F.col("_i") + 2, F.size("_ids") - F.col("_i") - 1)
        ).alias("b"),
    )

    # BIG buckets: the salted spanning chain
    big = with_size.where(F.col("_bsize") > cfg.bucket_cap).withColumn("c", src_code())
    pairs_big = salted_chain(big, ["k"], cfg.salt_buckets, carry=("c",))
    return (
        pairs_small.unionByName(pairs_big)
        .withColumn("src", _decode(F.col("c")))
        .select("a", "b", "src")
    )


def salted_chain(
    members: DataFrame, keys: list[str], salt_buckets: int, carry: tuple[str, ...] = ()
) -> DataFrame:
    """(*keys, id, *carry) members of hot buckets -> (a, b, *carry) edges, a < b:
    a salted spanning chain per bucket (O19), the hot-bucket rule of both
    indexes (bucket_pairs_packed; the substring stage's run-keyed buckets).

    A hot bucket of m rows is split into ``salt_buckets`` sub-chains sorted
    independently (each sorts m/S rows, not m), then the S chain heads are
    linked by one more tiny chain — together a spanning tree of the bucket
    (exactly m-1 edges for distinct ids), so connectivity is preserved while
    the output stays linear in m and no single sort holds the full hot
    bucket. An id repeated within a bucket yields (id, id) edges, which a
    caller with repeats filters out. ``carry`` columns must be constant
    within a bucket."""
    salted = members.withColumn("_salt", F.pmod(F.xxhash64("id"), F.lit(salt_buckets)))
    w_salt = Window.partitionBy(*keys, "_salt").orderBy("id")
    chained = salted.withColumn("_prev", F.lag("id").over(w_salt))
    pairs_chain = chained.where(F.col("_prev").isNotNull()).select(
        F.col("_prev").alias("a"), F.col("id").alias("b"), *carry
    )
    heads = chained.where(F.col("_prev").isNull()).select(*keys, *carry, "id")
    w_head = Window.partitionBy(*keys).orderBy("id")
    pairs_heads = (
        heads.withColumn("_prev", F.lag("id").over(w_head))
        .where(F.col("_prev").isNotNull())
        .select(F.col("_prev").alias("a"), F.col("id").alias("b"), *carry)
    )
    return pairs_chain.unionByName(pairs_heads)


def bucket_stat_exprs() -> list[F.Column]:
    """Aggregates over bucket_pairs_packed's window rows (k, id, _bsize,
    _head) that ``bucket_stats_from_observed`` turns into the per-source
    bucket histogram rows."""
    exprs = []
    for c in SOURCES:
        row = src_code() == c
        head = row & F.col("_head")
        exprs += [
            F.count(F.when(row, 1)).alias(f"rows_{c}"),
            F.count(F.when(head, 1)).alias(f"n_buckets_{c}"),
            F.max(F.when(row, F.col("_bsize"))).alias(f"max_bucket_{c}"),
            F.count(F.when(head & (F.col("_bsize") > 1), 1)).alias(f"n_colliding_{c}"),
        ]
    return exprs


def bucket_stats_from_observed(m: dict) -> dict[str, dict]:
    """``bucket_stat_exprs`` values -> {src: {src, n_buckets, max_bucket,
    avg_bucket, n_colliding}}; sources without keys have no row."""
    stats = {}
    for c, name in SOURCES.items():
        n = m.get(f"n_buckets_{c}") or 0
        if n:
            stats[name] = {
                "src": name,
                "n_buckets": n,
                "max_bucket": m[f"max_bucket_{c}"],
                "avg_bucket": m[f"rows_{c}"] / n,
                "n_colliding": m[f"n_colliding_{c}"],
            }
    return stats


def candidate_pairs(
    packed: DataFrame,
    cfg: PipelineConfig,
    observe: Callable[..., DataFrame] | None = None,
) -> DataFrame:
    """(k, id) packed bucket memberships -> one row per candidate pair
    (a, b, src), src the sorted comma-joined set of sources that bucketed
    the pair. ``observe`` passes through to bucket_pairs_packed."""
    return (
        bucket_pairs_packed(packed, cfg, observe)
        .groupBy("a", "b")
        .agg(F.array_join(F.array_sort(F.collect_set("src")), ",").alias("src"))
    )


def generate_candidates(
    fp: DataFrame,
    cfg: PipelineConfig,
    id_col: str = "image_id",
    include_phash: bool = True,
    observe: Callable[..., DataFrame] | None = None,
) -> DataFrame:
    """All candidate sources unioned, canonicalized, deduplicated:
    MinHash-LSH ∪ SimHash-rotation ∪ pHash-rotation (SURVEY.md O9-O13).

    Keys for all three indexes come from ONE scan of the fingerprint table
    (explode_all_keys); candidate_pairs buckets and deduplicates them.
    """
    packed = explode_all_keys(fp, cfg, id_col, include_phash=include_phash)
    return candidate_pairs(packed, cfg, observe)


def union_candidates(cand: DataFrame, more: DataFrame) -> DataFrame:
    """Union two (a, b, src) candidate sets whose src columns are already
    comma-joined source sets (e.g. index candidates ∪ substring pairs) ->
    one row per pair with the merged, sorted set."""
    return (
        cand.unionByName(more)
        .groupBy("a", "b")
        .agg(
            F.array_join(
                F.array_sort(F.flatten(F.collect_set(F.split("src", ",")))), ","
            ).alias("src")
        )
    )


def bucket_size_histogram(packed: DataFrame) -> DataFrame:
    """Full bucket-size histogram per index family from the PACKED key table
    -> (src, bucket_size, n_buckets), singleton buckets included.

    The skew surface behind the candidates manifest's summary rows: the whole
    size distribution is what a 10^12-row run inspects to pick bucket_cap /
    salting thresholds (one hot band at size 10^6 vs a thousand at 10^3
    produce the same avg but need different treatment). Integer-only output
    so the driver oracle compares bit-exactly.

    Plan: the SAME map-side-combined groupBy(k) exchange the candidates
    stage runs (key-count exchange units), then a tiny (src, size) agg —
    at most sources x 65-ish distinct sizes per mapper after the combine.
    Source recovered from each packed key's low 2 bits; a 2^-62 xxhash64
    key collision would merge two buckets' counts, the same accepted odds
    as candidate generation itself.
    """
    return (
        packed.groupBy("k")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .select(
            _decode(src_code()).alias("src"),
            F.col("bucket_size").cast("int").alias("bucket_size"),
        )
        .groupBy("src", "bucket_size")
        .agg(F.count(F.lit(1)).alias("n_buckets"))
    )
