"""Substring stage — winnowing anchors co-locate docs, an exact run check verifies.

Catches near-identical caption RUNS that shingle-based fingerprints miss
(BASELINE.json:6; Lee et al., ACL 2022 use a corpus suffix array for the same
purpose). Spark-first decomposition:

1. anchor extraction (vectorized winnowing UDF, spec.winnow_anchors_batch):
   any two docs sharing a normalized substring of >= L chars share >= 1
   anchor hash (Schleimer'03 winnowing guarantee) — this turns the global
   substring-search problem into an equi-join key, so NO cross-partition
   suffix array is needed. Each anchor occurrence carries its context
   (``lo``, ``ctx``: the at most 2L-w chars around it, udfs.winnow_contexts),
   so the anchor table is ALL the state verification needs.
2. verification at the anchor: the kernel picks the leftmost minimum of
   every window of L-w+1 w-grams, so two docs sharing a run >= L select the
   same anchor at the same offset d in [0, L-w] inside it, and that run's
   first L chars sit inside both contexts. Anchors are buckets under the
   bucket rule of operators/candidates.py, sized by their occurrence rows:
   co-occupants of a cold anchor (2..``bucket_cap`` rows) pair up and are
   kept when their contexts agree on an L-run at some offset d
   (``_shared_runs``: Catalyst substring tests, lambda-free); the pairs are
   then deduplicated ACROSS anchors. No document text is joined to a pair:
   hash collisions die in the context test, which tests/test_properties.py
   checks against a brute-force substring search.
3. hot anchors (more than ``bucket_cap`` rows — boilerplate shared by
   millions of captions) are not truncated. Docs with equal (lo, ctx) form
   a class (a context of >= L chars is a run they share); each class's
   least id emits one key (anchor, the L-run at offset d) per in-bounds d,
   and the members of each class and of each key are chained in id order
   (candidates.id_chain). Members of a key share that exact run (the
   grouping is on the string, so no hash can add an edge), every true pair
   is connected through the key of its winnowing anchor, and the output is
   linear in bucket size. The stage manifest records hot anchors, the
   largest anchor and the chain edges (no silent truncation).
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from simhash_spark.config import PipelineConfig
from simhash_spark.functions.udfs import make_winnow_udf, normalize_substring_udf
from simhash_spark.operators.candidates import (
    bucket_heads,
    cold_pairs,
    id_chain,
    sized_buckets,
)


def _shares_run(a: str, b: str, min_len: int) -> bool:
    """Exact: do a and b share a common substring of length >= min_len?
    Window-set intersection over length-min_len slices — any run >= L
    contains a window of length exactly L, so this is the LCP >= L
    predicate without building a suffix array.

    This is the reference predicate (also the collision fallback of
    _pair_shares_run, which computes the same answer from one numpy rolling
    hash per doc; substring_run_report probes run lengths with it)."""
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
    """(id, caption) -> distinct (id, anchor, lo, ctx) anchor occurrences.

    Content-keyed like the fingerprint bucket keys: two docs sharing a
    normalized run >= L always share >= 1 anchor, and the occurrences'
    contexts decide whether they do, so the table is the substring stage's
    equi-join index, its verification state AND the incremental-maintenance
    state (plans/delta.py semi-joins a base anchor checkpoint against an
    increment's anchors instead of re-winnowing or re-reading the base
    corpus). A periodic text repeats one (anchor, lo, ctx) occurrence many
    times; ``distinct`` keeps one."""
    from simhash_spark.session import spread_small_input

    df = spread_small_input(df)
    winnow = make_winnow_udf(cfg)
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(winnow(F.col(caption_col))).alias("o"),
        )
        .select("id", "o.anchor", "o.lo", "o.ctx")
        .distinct()
    )


def _shared_runs(pairs: DataFrame, min_len: int) -> DataFrame:
    """(x, y) occurrence pairs of one anchor (structs of id, lo, ctx) ->
    (a, b) rows, one per way x and y share an L-run covering the anchor at
    the same offset d. Equal contexts of >= L chars are a shared run
    outright (the common case of verbatim copies); otherwise every offset d
    that keeps both runs inside both contexts is tested. The offsets are
    exploded rather than unrolled: an OR of L-w+1 substring tests compiles
    to a method too large for the JIT, and ran 1.5x slower on a 3,000-doc
    benchmark corpus."""
    L = min_len
    first = f"greatest(0, {L} - least(length(x.ctx) - x.lo, length(y.ctx) - y.lo))"
    last = "least(x.lo, y.lo)"
    offsets = F.expr(
        f"IF(x.ctx = y.ctx AND length(x.ctx) >= {L}, array(-1), "
        f"IF({first} <= {last}, sequence({first}, {last}), array()))"
    )
    same = F.expr(
        f"_d < 0 OR substr(x.ctx, x.lo - _d + 1, {L}) = substr(y.ctx, y.lo - _d + 1, {L})"
    )
    return (
        pairs.select("x", "y", F.explode(offsets).alias("_d"))
        .where(same)
        .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
    )


def verify_substring_pairs(
    anchors: DataFrame,
    cfg: PipelineConfig,
    observe: Callable[..., DataFrame] | None = None,
) -> DataFrame:
    """(id, anchor, lo, ctx) occurrences -> distinct (a, b) pairs, a < b,
    sharing a normalized run >= L, verified at the anchor (module steps 2-3).

    One exchange of the anchor table: the anchor-partitioned window that
    sizes each anchor by its rows feeds both the cold all-pairs branch (a
    collect of at most ``bucket_cap`` occurrences) and the hot class and
    run-keyed chains, which need no further exchange. A cold pair is every
    pair of documents an anchor verifies; a hot anchor contributes chain
    edges, each a true pair, that connect its run-sharing docs. Collapsing
    equal contexts first keeps near-identical docs from keying the same
    runs hundreds of times.

    ``observe`` (``StageObservations.observe``) collects the manifest
    accounting (``substring_stage_summary``) off the same rows: anchor
    sizes off the window, the co-occupant pairs examined and the chain
    edges; the anchor sizes on the cold reader only, before its 2..cap
    filter, which sees every sized row. Unobserved, the plan is the same
    minus the CollectMetrics and the head window only they read."""
    sized = sized_buckets(anchors, ["anchor"])
    hot = F.col("_bsize") > cfg.bucket_cap
    observed = (
        sized
        if observe is None
        else observe(
            bucket_heads(sized, ["anchor"]),
            F.count(F.when(F.col("_head") & hot, 1)).alias("hot_anchors"),
            F.max("_bsize").alias("max_anchor_rows"),
        )
    )
    observe = observe or (lambda d, *exprs: d)

    # occurrence pairs of a cold anchor; the sort puts x.id <= y.id, and a
    # doc's own occurrences never pair
    examined = observe(
        cold_pairs(observed, ["anchor"], cfg.bucket_cap, F.struct("id", "lo", "ctx"))
        .select(F.col("a").alias("x"), F.col("b").alias("y"))
        .where(F.col("x.id") < F.col("y.id")),
        F.count(F.lit(1)).alias("cold_pairs"),
    )
    cold = _shared_runs(examined, cfg.substr_min_len)

    # hot anchors: docs with one (lo, ctx) form a class — a context of >= L
    # chars is a run they share — and each class's least id keys the
    # context's L-runs through the anchor; the members of each class and of
    # each run key are chained. A context under L chars holds no run. A
    # class key holds ':', which no normalized run does, so one chain call
    # serves both; keys stay per anchor, so no exchange beyond the window's.
    L = cfg.substr_min_len
    hot_occ = sized.where(hot & (F.length("ctx") >= L))
    offsets = F.explode(F.expr(f"sequence(greatest(0, {L} - length(ctx) + lo), lo)"))
    runs = (
        hot_occ.groupBy("anchor", "lo", "ctx")
        .agg(F.min("id").alias("id"))
        .select("anchor", "id", "lo", "ctx", offsets.alias("_d"))
        .select("anchor", "id", F.expr(f"substr(ctx, lo - _d + 1, {L})").alias("_key"))
    )
    classes = hot_occ.select("anchor", "id", F.concat_ws(":", "lo", "ctx").alias("_key"))
    chain = observe(
        id_chain(classes.unionByName(runs), ["anchor", "_key"])
        .where(F.col("a") != F.col("b"))
        .select("a", "b"),
        F.count(F.lit(1)).alias("chain_edges"),
    )
    return cold.unionByName(chain).distinct()


def substring_stage_summary(m: dict) -> dict:
    """The 02b_substr manifest keys from ``verify_substring_pairs``'
    observations — the stage's work and its hot-anchor accounting:

      n_pairs         — co-occupant pairs examined: cold occurrence pairs
                        of distinct docs put to the context test, plus hot
                        chain edges
      hot_anchors     — anchors with more than bucket_cap rows
      max_anchor_rows — the largest anchor's rows (occurrences)
      chain_edges     — edges the hot anchors' run-keyed chains emitted

    Missing keys (a node AQE pruned because its input was empty) read as 0."""
    got = {k: int(m.get(k) or 0) for k in ("hot_anchors", "max_anchor_rows", "chain_edges")}
    return {"n_pairs": int(m.get("cold_pairs") or 0) + got["chain_edges"], **got}


def substring_pairs(
    df: DataFrame, cfg: PipelineConfig, id_col: str = "image_id", caption_col: str = "caption"
) -> DataFrame:
    """documents -> (a, b, src='substr') pairs sharing a normalized run >= L:
    the anchor table, then verification at the anchor. With no anchor over
    ``bucket_cap`` the rows are every such pair; a hot anchor's docs are
    connected by chain edges instead of all their pairs."""
    anchors = winnow_anchor_table(df, cfg, id_col, caption_col)
    return verify_substring_pairs(anchors, cfg).withColumn("src", F.lit("substr"))


# ------------------------------------------------------- shared-run report


def _shares_at(na: str, nb: str, length: int) -> bool:
    """Exact 'do na and nb share a run of >= length chars' via the
    rolling-hash window index + string confirm (_pair_shares_run)."""
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

    The rows are substring_pairs' rows (a strict refinement, differentially
    tested); the length needs both texts, so only this report joins the
    normalized text of the docs in pairs to them and binary-searches the
    run length — an O((n+m) log n) exact computation per pair, reusing the
    rolling-hash window index + string-confirm kernel."""
    pairs = verify_substring_pairs(winnow_anchor_table(df, cfg, id_col, caption_col), cfg)
    ids = pairs.select(F.col("a").alias("id")).unionByName(pairs.select(F.col("b").alias("id")))
    norm = (
        df.select(F.col(id_col).alias("id"), F.col(caption_col).alias("_cap"))
        .join(ids.distinct(), "id", "left_semi")
        .select("id", normalize_substring_udf("_cap").alias("norm"))
    )
    joined = pairs.join(norm.withColumnsRenamed({"id": "a", "norm": "_na"}), "a").join(
        norm.withColumnsRenamed({"id": "b", "norm": "_nb"}), "b"
    )
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
