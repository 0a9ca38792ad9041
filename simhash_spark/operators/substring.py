"""Substring stage — winnowing anchors co-locate docs, an exact run check verifies.

Catches near-identical caption RUNS that shingle-based fingerprints miss
(BASELINE.json:6; Lee et al., ACL 2022 use a corpus suffix array for the same
purpose). Spark-first decomposition:

1. anchor extraction (vectorized winnowing UDF, spec.winnow_anchors_batch):
   any two docs sharing a normalized substring of >= L chars share >= 1
   anchor hash (Schleimer'03 winnowing guarantee) — this turns the global
   substring-search problem into an equi-join key, so NO cross-partition
   suffix array is needed.
2. anchor buckets -> C(s,2) candidate pairs, deduplicated ACROSS anchors
   (near-identical docs share dozens of anchors; verifying per pair instead
   of per anchor group was measured 3.7x faster at sf0.1).
3. one exact verification per distinct pair (window-set shared-run check,
   equivalent to the LCP >= L predicate) in a batched mapInPandas. Hash
   collisions die here; tests/test_properties.py checks the predicate
   against a brute-force substring search.

Hot anchors (boilerplate prefixes shared by millions of captions) are capped
at ``bucket_cap`` docs per anchor with a deterministic keep rule; dropped
volume is observable in stage metrics (no silent truncation).
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from simhash_spark.config import PipelineConfig
from simhash_spark.functions.udfs import make_winnow_udf


def _shares_run(a: str, b: str, min_len: int) -> bool:
    """Exact: do a and b share a common substring of length >= min_len?
    Window-set intersection over length-min_len slices — any run >= L
    contains a window of length exactly L, so this is the LCP >= L
    predicate without building a suffix array.

    This is the reference predicate (also the collision fallback of the
    vectorized path below); the hot path is _window_hash_index +
    _pair_shares_run, which computes the same answer with one numpy rolling
    hash per DOC (reused across every pair the doc appears in) instead of a
    Python set of string slices per PAIR."""
    if len(a) < min_len or len(b) < min_len:
        return False
    if len(b) < len(a):
        a, b = b, a
    wins = {a[i : i + min_len] for i in range(len(a) - min_len + 1)}
    return any(b[i : i + min_len] in wins for i in range(len(b) - min_len + 1))


_ROLL_BASE = 1099511628211          # odd -> invertible mod 2^64
_ROLL_BASE_INV = pow(_ROLL_BASE, -1, 1 << 64)


def _window_hash_index(text: str, min_len: int) -> tuple[np.ndarray, np.ndarray]:
    """(sorted unique 64-bit rolling hashes of every length-min_len window,
    first occurrence position of each) — one O(n) vectorized pass.

    h(i) = sum_j text[i+j] * B^j  mod 2^64, computed position-independently
    via prefix sums P[i] = sum_{j<i} c[j] B^j and h(i) = (P[i+L]-P[i]) * B^-i
    (B odd, hence invertible mod 2^64; uint64 arithmetic wraps modularly).
    Equal windows ALWAYS hash equal, so hash-set intersection can only
    over-report; _pair_shares_run string-confirms hits, keeping exactness.
    """
    codes = np.frombuffer(text.encode("ascii", "replace"), dtype=np.uint8)
    n = len(codes)
    if n < min_len:
        return np.zeros(0, np.uint64), np.zeros(0, np.int64)
    nw = n - min_len + 1
    pows = np.empty(n, np.uint64)
    pows[0] = 1
    np.multiply.accumulate(np.full(n - 1, _ROLL_BASE, np.uint64), out=pows[1:])
    pref = np.zeros(n + 1, np.uint64)
    np.cumsum(codes.astype(np.uint64) * pows, out=pref[1:])
    inv_pows = np.empty(nw, np.uint64)
    inv_pows[0] = 1
    if nw > 1:
        np.multiply.accumulate(np.full(nw - 1, _ROLL_BASE_INV, np.uint64), out=inv_pows[1:])
    h = (pref[min_len:] - pref[:-min_len]) * inv_pows
    uniq, first = np.unique(h, return_index=True)
    return uniq, first.astype(np.int64)


def _pair_shares_run(
    na: str,
    nb: str,
    ia: tuple[np.ndarray, np.ndarray],
    ib: tuple[np.ndarray, np.ndarray],
    min_len: int,
) -> bool:
    """Same predicate as _shares_run, via the precomputed window-hash indexes.

    searchsorted intersection of the two sorted unique-hash arrays, then a
    direct string comparison at the recorded first positions of each common
    hash (64-bit collisions can only ADD candidates, never hide a real shared
    window — a true shared window's hash is common by construction). In the
    astronomically-unlikely case every common hash is a cross-collision at
    its first positions, fall back to the exact set predicate."""
    ua, pa = ia
    ub, pb = ib
    if not len(ua) or not len(ub):
        return False
    if len(ua) > len(ub):
        ua, pa, ub, pb, na, nb = ub, pb, ua, pa, nb, na
    pos = np.searchsorted(ub, ua)
    pos_c = np.minimum(pos, len(ub) - 1)
    common = np.flatnonzero(ub[pos_c] == ua)
    for k in common:
        i, j = int(pa[k]), int(pb[pos_c[k]])
        if na[i : i + min_len] == nb[j : j + min_len]:
            return True
    if len(common):
        return _shares_run(na, nb, min_len)
    return False


def winnow_anchor_table(
    df: DataFrame, cfg: PipelineConfig, id_col: str = "image_id", caption_col: str = "caption"
) -> DataFrame:
    """(id, caption) -> distinct (id, anchor) winnowing-anchor rows.

    Content-keyed like the fingerprint bucket keys: two docs sharing a
    normalized run >= L always share >= 1 anchor, so the table doubles as
    the substring stage's equi-join index AND the incremental-maintenance
    state (plans/delta.py semi-joins a base anchor checkpoint against an
    increment's anchors instead of re-winnowing the base corpus)."""
    from simhash_spark.session import spread_small_input

    df = spread_small_input(df)
    winnow = make_winnow_udf(cfg)
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(winnow(F.col(caption_col))).alias("anch"),
        )
        .select("id", F.col("anch.anchor").alias("anchor"))
        .distinct()
    )


def pairs_from_anchor_table(anchors: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """(id, anchor) -> distinct unverified (a, b) pairs, a < b.

    Hot anchors (boilerplate prefixes) are capped deterministically at
    ``bucket_cap`` docs per anchor (keep lowest ids); the cap is applied to
    the FULL bucket contents, so a delta run feeding only touched buckets
    reproduces the full run's keep decision exactly."""
    w = Window.partitionBy("anchor").orderBy("id")
    anchors = anchors.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") <= cfg.bucket_cap
    )
    # anchor buckets -> C(s,2) candidate pairs, deduped ACROSS anchors
    grouped = (
        anchors.groupBy("anchor")
        .agg(F.sort_array(F.collect_list("id")).alias("_ids"))
        .where(F.size("_ids") > 1)
    )
    lefts = grouped.select("_ids", F.posexplode("_ids").alias("_i", "a"))
    return lefts.select(
        "a",
        F.explode(
            F.slice("_ids", F.col("_i") + 2, F.size("_ids") - F.col("_i") - 1)
        ).alias("b"),
    ).distinct()


def _normed_pairs(
    cand: DataFrame,
    df: DataFrame,
    id_col: str,
    caption_col: str,
    observe: Callable[..., DataFrame] | None = None,
) -> DataFrame:
    """Candidate (a, b) pairs with both sides' NORMALIZED text attached
    (_na/_nb) — the shared join plumbing of verify_substring_pairs and
    substring_run_report. Normalizes ONLY docs that appear in candidate
    pairs: at web scale the pair set touches a small fraction of the
    corpus, and without this pre-filter the NFKC UDF would run over every
    doc TWICE (once per join side). The semi-join is on the id key both
    sides already shuffle on.

    ``observe`` (``StageObservations.observe``) collects the inputs of
    ``substring_degree_summary`` from three nodes the join already has,
    leaving the semi-join as it is (an inner join carrying the degree let
    AQE coalesce the verify to one task): the degree aggregate that
    replaces a plain distinct, the semi-joined docs, and the pair rows with
    each side's raw caption length. Unobserved, column pruning drops the
    degree and the lengths, and the plan is that of a plain distinct."""
    observe = observe or (lambda d, *exprs: d)
    deg = observe(
        cand.select(F.col("a").alias("id"))
        .unionByName(cand.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree")),
        F.sum("degree").alias("sum_degree"),
        F.max("degree").alias("max_degree"),
        F.percentile_approx("degree", 0.99).alias("p99_degree"),
    )
    docs = observe(
        df.select(F.col(id_col).alias("id"), F.col(caption_col).alias("_cap")).join(
            deg.select("id"), "id", "left_semi"
        ),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("_cap")).alias("ideal"),
    )
    norm_df = docs.select(
        "id", _normalize_col("_cap").alias("norm"), F.length("_cap").alias("len")
    )
    joined = cand.join(
        norm_df.withColumnsRenamed({"id": "a", "norm": "_na", "len": "_la"}), "a"
    ).join(norm_df.withColumnsRenamed({"id": "b", "norm": "_nb", "len": "_lb"}), "b")
    # a doc's text ships once per pair slot: sum over docs of degree*len
    shipped = F.sum(F.coalesce("_la", F.lit(0)) + F.coalesce("_lb", F.lit(0)))
    return observe(joined, shipped.alias("shipped")).drop("_la", "_lb")


def substring_degree_summary(m: dict) -> dict:
    """The substring stage's pair-degree manifest keys. The pair join ships
    each doc's text once PER PAIR it appears in, which is fine while pair
    degree stays small and constant — the documented revisit trigger is
    "degree grows with corpus size". These keys emit that trigger as stage
    manifest metrics instead of a doc sentence (r4 verdict #3):

      n_pairs / n_docs_in_pairs  — candidate pair set size
      mean_degree_x100, p99_degree, max_degree — pair degree distribution
      shipped_text_chars — sum over pair slots of the doc's caption length
                           (what the pair join materializes, raw-char proxy
                           for the normalized text actually shipped)
      ideal_text_chars   — each pair-participating doc's length ONCE (the
                           ship-once lower bound)
      amplification_x100 — shipped/ideal, the number to watch across runs

    Exact integer arithmetic except percentile_approx (deterministic for
    the small degree cardinalities this summarizes). ``m`` holds n_docs,
    sum_degree, max_degree, p99_degree, shipped and ideal; missing keys
    (an observed node AQE pruned because no pair exists) read as none."""
    n_docs = m.get("n_docs") or 0
    if n_docs == 0:
        return {
            "n_pairs": 0,
            "n_docs_in_pairs": 0,
            "mean_degree_x100": 0,
            "p99_degree": 0,
            "max_degree": 0,
            "shipped_text_chars": 0,
            "ideal_text_chars": 0,
            "amplification_x100": 0,
        }
    return {
        "n_pairs": int(m["sum_degree"]) // 2,
        "n_docs_in_pairs": int(n_docs),
        "mean_degree_x100": 100 * int(m["sum_degree"]) // int(n_docs),
        "p99_degree": int(m["p99_degree"]),
        "max_degree": int(m["max_degree"]),
        "shipped_text_chars": int(m["shipped"]),
        "ideal_text_chars": int(m["ideal"]),
        "amplification_x100": (
            100 * int(m["shipped"]) // int(m["ideal"]) if m["ideal"] else 0
        ),
    }


def verify_substring_pairs(
    cand: DataFrame,
    df: DataFrame,
    cfg: PipelineConfig,
    id_col: str = "image_id",
    caption_col: str = "caption",
    observe: Callable[..., DataFrame] | None = None,
) -> DataFrame:
    """Exact shared-run >= L verification of candidate (a, b) pairs against
    the docs table; returns the surviving (a, b) rows. ``observe`` collects
    the pair-degree metrics on the way (``_normed_pairs``)."""
    joined = _normed_pairs(cand, df, id_col, caption_col, observe)
    min_len = cfg.substr_min_len

    def verify(batches):
        # one rolling-hash window index per DOC per batch (docs recur across
        # many pairs; the old per-pair Python window set re-hashed the whole
        # doc for every pair — measured 28.7 s for 5k docs at sf0.1, r2)
        for pdf in batches:
            index_of: dict[str, tuple[np.ndarray, np.ndarray]] = {}

            def idx(doc_id: str, text: str) -> tuple[np.ndarray, np.ndarray]:
                got = index_of.get(doc_id)
                if got is None:
                    got = _window_hash_index(text, min_len)
                    index_of[doc_id] = got
                return got

            keep = [
                _pair_shares_run(na, nb, idx(a, na), idx(b, nb), min_len)
                for a, b, na, nb in zip(pdf["a"], pdf["b"], pdf["_na"], pdf["_nb"])
            ]
            yield pdf.loc[keep, ["a", "b"]]

    return joined.mapInPandas(verify, schema="a string, b string")


def substring_pairs(
    df: DataFrame, cfg: PipelineConfig, id_col: str = "image_id", caption_col: str = "caption"
) -> DataFrame:
    """documents -> (a, b, src='substr') pairs sharing a normalized run >= L.

    Shape: anchors co-locate docs -> DISTINCT candidate pairs -> one exact
    verification per pair. Earlier formulation ran the group suffix-array
    verify once per anchor GROUP — near-identical docs share dozens of
    anchors, so at sf0.1 that was 7,422 group verifications for only 3,847
    distinct pairs (46 s -> ~3 s after the dedup).
    """
    anchors = winnow_anchor_table(df, cfg, id_col, caption_col)
    cand = pairs_from_anchor_table(anchors, cfg)
    pairs = verify_substring_pairs(cand, df, cfg, id_col, caption_col)
    return pairs.withColumn("src", F.lit("substr"))


def _normalize_col(caption_col: str):
    """The same NFKC normalization the winnow UDF applies, so anchor positions
    and the verified text agree bit-for-bit with spec.normalize_for_substring."""
    from simhash_spark.functions.udfs import normalize_substring_udf

    return normalize_substring_udf(F.col(caption_col))


# ------------------------------------------------------- shared-run report


def _shares_at(na: str, nb: str, length: int) -> bool:
    """Exact 'do na and nb share a run of exactly >= length chars' via the
    same hash-index + string-confirm machinery as the fixed-L verify."""
    return _pair_shares_run(
        na, nb, _window_hash_index(na, length), _window_hash_index(nb, length), length
    )


def _longest_shared_run(na: str, nb: str, min_len: int) -> int:
    """EXACT length of the longest shared substring of na/nb, or 0 when it
    is shorter than min_len. Binary search over the run length — sharing a
    run of length L implies sharing every shorter length, so the predicate
    is monotone; each probe is one O(n+m) vectorized hash pass with exact
    string confirmation (no false positives survive)."""
    hi = min(len(na), len(nb))
    lo = min_len
    if hi < lo or not _shares_at(na, nb, lo):
        return 0
    while lo < hi:
        mid = (lo + hi + 1) // 2
        if _shares_at(na, nb, mid):
            lo = mid
        else:
            hi = mid - 1
    return lo


def substring_run_report(
    df: DataFrame,
    cfg: PipelineConfig,
    id_col: str = "image_id",
    caption_col: str = "caption",
) -> DataFrame:
    """(a, b, run_len): every substring pair with the EXACT length of the
    longest shared normalized run — the "how much is actually duplicated"
    number behind the boolean pair (what a curation analyst reads to split
    quoted-fragment pairs from wholesale mirrors, and the input to an
    excision policy keyed on duplicated mass rather than pair existence).

    Same anchor-candidate shape as substring_pairs; verification upgrades
    the fixed-L predicate to a binary search over the run length — an
    O((n+m) log n) exact computation per pair, reusing the rolling-hash
    window index + string-confirm kernel (so run_len >= substr_min_len
    rows here are EXACTLY the substring_pairs rows: the report is a
    strict refinement, differentially tested)."""
    anchors = winnow_anchor_table(df, cfg, id_col, caption_col)
    cand = pairs_from_anchor_table(anchors, cfg)
    joined = _normed_pairs(cand, df, id_col, caption_col)
    min_len = cfg.substr_min_len

    def report(batches):
        for pdf in batches:
            lens = [
                _longest_shared_run(na, nb, min_len)
                for na, nb in zip(pdf["_na"], pdf["_nb"])
            ]
            out = pdf.loc[:, ["a", "b"]]
            out["run_len"] = np.array(lens, dtype=np.int32)
            yield out.loc[out["run_len"] > 0]

    return joined.mapInPandas(report, schema="a string, b string, run_len int")
