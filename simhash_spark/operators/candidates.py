"""Candidate-pair generation — LSH band buckets ∪ pigeonhole rotation buckets.

This operator replaces the reference's all-pairs fingerprint comparison
(/root/reference/README.md:16, the cache-tuned O(n^2) loops) with equi-joins
on bucket keys: O(n^2) becomes O(sum of bucket^2), bounded by ``bucket_cap``.

It also holds the bucket rule every key table here follows (the candidate
keys, the substring stage's anchors, the n-gram shingles; SURVEY.md
O11/O19/O20), in three parts over the key table's one exchange:
- sizing (``sized_buckets``): each bucket's rows, from one unordered
  window; the stage metrics also flag one head row per bucket
  (``bucket_heads``);
- buckets of 2..cap rows (``cold_pairs``): all C(s,2) pairs from one
  collect of the bucket's sorted items, expanded by two native explodes
  (no self-join; the collect is bounded by the cap);
- buckets over the cap (``id_chain``, hot bands — e.g. a viral caption
  repeated 10^6 times): a CHAIN of consecutive ids in id order instead of
  all pairs, m-1 edges. Linear output, preserves connectivity through
  verification for identical/near-identical content (which is the only
  way buckets get hot). The hot buckets are counted in the stage metrics,
  never silent (SURVEY.md §7.5.3).

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


def sized_buckets(members: DataFrame, keys: list[str]) -> DataFrame:
    """Bucket sizing, the first part of the bucket rule: adds ``_bsize``
    (the rows of each bucket) from ONE unordered window over ``keys``.

    The window's ClusteredDistribution(keys) is the key table's one
    exchange (none at all if the input is already clustered on the keys,
    e.g. the delta path's bucketed checkpoints); the cold and hot parts
    read the same sized rows, so AQE reuses the one materialized shuffle
    stage. The window buffers one bucket per task slot (sort-based, spills
    via ExternalAppendOnlyUnsafeRowArray), so a viral 10^6-member bucket
    spills to disk instead of OOMing. A window, unlike a join, cannot be
    AQE-skew-split, so one pathological bucket is one slow task; the
    production funnel runs exact_dedup first, so identical content — the
    only thing that makes buckets truly enormous — arrives as one row."""
    return members.withColumn("_bsize", F.count(F.lit(1)).over(Window.partitionBy(*keys)))


def bucket_heads(sized: DataFrame, keys: list[str]) -> DataFrame:
    """``sized_buckets`` rows -> the same rows plus ``_head``, true on
    exactly one row per bucket: the least by its other columns (the key
    tables' rows are distinct). A second window over the same keys, so no
    exchange beyond the sizing's. Only the reader that the stage metrics
    observe takes it: the struct it compares is projected below the key
    exchange, so readers with and without it would not share one."""
    row = F.struct(*[c for c in sized.columns if c not in (*keys, "_bsize")])
    return sized.withColumn("_head", row == F.min(row).over(Window.partitionBy(*keys)))


def cold_pairs(
    sized: DataFrame, keys: list[str], cap: int, item: str | F.Column = "id"
) -> DataFrame:
    """Buckets of 2..``cap`` rows (``sized_buckets`` rows) -> (*keys, a, b)
    for every pair of the bucket's items, a before b in sorted order.

    The collect sees only capped buckets, so per-group memory is bounded
    by the cap at any corpus size and singleton buckets (~85% at 40-bit
    keys) never collect. Two chained explodes (pipelined, no shuffle
    between them) expand each sorted list into its C(s,2) ordered pairs;
    deliberately lambda-free — NamedLambdaVariable expressions in this
    position break localCheckpoint plan re-resolution downstream (Spark
    4.1)."""
    grouped = (
        sized.where((F.col("_bsize") >= 2) & (F.col("_bsize") <= cap))
        .groupBy(*keys)
        .agg(F.sort_array(F.collect_list(item)).alias("_items"))
    )
    lefts = grouped.select(*keys, "_items", F.posexplode("_items").alias("_i", "a"))
    return lefts.select(
        *keys,
        "a",
        F.explode(
            F.slice("_items", F.col("_i") + 2, F.size("_items") - F.col("_i") - 1)
        ).alias("b"),
    )


def id_chain(members: DataFrame, keys: list[str]) -> DataFrame:
    """(*keys, id) members of hot buckets -> (*keys, a, b) edges: each
    member linked to the previous id of its bucket in id order, a
    spanning chain of m-1 edges for m distinct ids. Connectivity is kept
    while the output stays linear in m. One lag window over the keys, so
    it needs no exchange beyond the key table's. An id repeated within a
    bucket yields (id, id) edges, which a caller with repeats filters
    out."""
    w = Window.partitionBy(*keys).orderBy("id")
    return (
        members.withColumn("_prev", F.lag("id").over(w))
        .where(F.col("_prev").isNotNull())
        .select(*keys, F.col("_prev").alias("a"), F.col("id").alias("b"))
    )


def bucket_pairs_packed(
    packed: DataFrame,
    cfg: PipelineConfig,
    observe: Callable[..., DataFrame] | None = None,
) -> DataFrame:
    """(k, id) packed bucket memberships -> candidate pairs (a, b, src), by
    the bucket rule (module docstring).

    ONE exchange of the key table, total. Bucket size is a window count over
    the k-clustered rows, not a separate groupBy + semi-join: the previous
    shape (sizes agg / cold semi / hot semi) consumed packed three times with
    DIFFERENT column sets, so Catalyst's column pruning made the three
    exchange subplans non-identical and exchange reuse never fired — three
    full shuffles (and three fingerprint scans + keygen passes) of a table
    with ~40 keys/row. Local measurement at 60k images/2.4M keys: ~2x faster
    best-case and far lower run variance than the semi-join shape; at 10^12
    rows it also removes two O(n_buckets) join builds that could never
    broadcast.

    ``observe`` (``StageObservations.observe``) receives the per-source
    bucket histogram (``bucket_stat_exprs``) off the sizing window's rows
    and head flags, so the numbers cost no extra exchange or pass. Only
    the cold reader is observed, before its 2..cap filter: it sees every
    sized row, and each reader of the reused exchange would otherwise
    evaluate its own copy of the aggregates.
    """
    sized = sized_buckets(packed, ["k"])
    observed = (
        sized if observe is None else observe(bucket_heads(sized, ["k"]), *bucket_stat_exprs())
    )
    hot = id_chain(sized.where(F.col("_bsize") > cfg.bucket_cap), ["k"])
    return (
        cold_pairs(observed, ["k"], cfg.bucket_cap)
        .unionByName(hot)
        .select("a", "b", _decode(src_code()).alias("src"))
    )


def bucket_stat_exprs() -> list[F.Column]:
    """Aggregates over the sized rows (k, id, _bsize, _head) of
    bucket_pairs_packed's observed reader that ``bucket_stats_from_observed``
    turns into the per-source bucket histogram rows."""
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
    size distribution is what a 10^12-row run inspects to pick bucket_cap
    (one hot band at size 10^6 vs a thousand at 10^3 produce the same avg but need different treatment). Integer-only output
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
