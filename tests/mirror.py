"""Pure-numpy mirror of the text near-dup kernel path — the differential
second engine (the reference's 对拍 method). Used by tests/gen_expected.py to
produce the driver's expected outputs at sf0.01 AND by the sf0.1 scale
differential test; one implementation, two scales.

Mirrored semantics are kept in lockstep with the cited engine code:
- fingerprint_batch (functions/udfs.py) is the same kernel the UDF runs;
- candidate buckets mirror operators/candidates.explode_all_keys (band keys
  + pigeonhole combination keys for rows with shingles; bucket identity =
  the raw (code, index, key) triple);
- pairs mirror bucket_pairs_packed: every pair of a bucket of 2..cap
  members, and a chain of consecutive ids in id order over a hot bucket
  (``id_chain``); substring anchors follow the same rule, sized by their
  occurrence rows (substring_pairs_mirror, hot_anchor_edges);
- verify mirrors operators/verify.py (use_phash=False);
- clusters mirror connected_components + singleton labeling;
- alignment_tokens mirrors caption_pixel_alignment's caption tokenizer.
"""

from __future__ import annotations

import re
from collections import defaultdict

import numpy as np
import pandas as pd

from simhash_spark import spec
from simhash_spark.config import PipelineConfig
from simhash_spark.functions.udfs import fingerprint_batch


# Java's regex \s without UNICODE_CHARACTER_CLASS: ASCII whitespace only
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def alignment_tokens(caption: str | None) -> list[str]:
    """caption_pixel_alignment's frozen tokenizer, Spark's
    ``slice(split(lower(coalesce(caption, '')), '\\s+'), 1, 1023)``: splits
    on ASCII whitespace only (NBSP and other Unicode spaces stay inside a
    token), and a leading (or trailing) separator yields an empty token
    that counts toward the 1023-token slice."""
    return _JAVA_WS.split((caption or "").lower())[:1023]


def id_chain(members: list[str]) -> list[tuple[str, str]]:
    """candidates.id_chain over one hot bucket: each distinct member linked
    to the previous one in id order."""
    chain = sorted(set(members))
    return list(zip(chain, chain[1:]))


def bucket_pairs(members: list[str], cap: int) -> list[tuple[str, str]]:
    """candidates' bucket rule over one bucket's members (one per row):
    every pair of 2..cap rows, the id-order chain above the cap."""
    if len(members) > cap:
        return id_chain(members)
    names = sorted(members)
    return [(names[x], names[y]) for x in range(len(names)) for y in range(x + 1, len(names))]


def text_kernel_mirror(docs: pd.DataFrame, cfg: PipelineConfig) -> dict:
    """documents (doc_id, text) -> expected fingerprints / candidate pairs /
    verified pairs / cluster labels, all computed without Spark."""
    ids = docs["doc_id"].astype(str).to_numpy(dtype=object)
    n = len(docs)

    fb = fingerprint_batch(docs["text"].reset_index(drop=True), cfg, emit_minhash=False)
    simhash_i64 = fb["simhash"].to_numpy(np.int64)
    n_shingles = fb["n_shingles"].to_numpy(np.int32)
    sim_u64 = spec.i64_to_u64(simhash_i64)
    bands = (
        np.stack(fb["bands"].to_numpy()) if n else np.zeros((0, cfg.n_bands), np.int64)
    )
    pig = spec.pigeonhole_keys(sim_u64, cfg.n_blocks, cfg.hamming_radius)

    buckets: dict[tuple[int, int, int], list[int]] = defaultdict(list)
    for idx in np.flatnonzero(n_shingles > 0):
        for i in range(cfg.n_bands):
            buckets[(1, i, int(bands[idx, i]))].append(int(idx))
        for i in range(pig.shape[1]):
            buckets[(2, i, int(pig[idx, i]))].append(int(idx))

    pair_srcs: dict[tuple[str, str], set[str]] = defaultdict(set)
    for (code, _i, _k), members in buckets.items():
        src = "minhash_lsh" if code == 1 else "simhash_rot"
        for p in bucket_pairs(sorted(ids[m] for m in members), cfg.bucket_cap):
            pair_srcs[p].add(src)

    cand_rows = sorted(pair_srcs)
    by_id = {ids[i]: i for i in range(n)}
    if cand_rows:
        ai = np.array([by_id[a] for a, _ in cand_rows])
        bi = np.array([by_id[b] for _, b in cand_rows])
        ham = spec.popcount64(sim_u64[ai] ^ sim_u64[bi])
        verified = [cand_rows[i] for i in np.flatnonzero(ham <= cfg.hamming_radius)]
    else:
        verified = []

    clusters = union_find_min_labels(list(ids), verified)
    return {
        "ids": ids,
        "simhash_i64": simhash_i64,
        "n_shingles": n_shingles,
        "candidates": {p: ",".join(sorted(pair_srcs[p])) for p in cand_rows},
        "verified": verified,
        "clusters": clusters,
        # per-bucket sizes (singletons included) for the skew surface —
        # bucket identity is the raw (code, table, key) triple; the engine
        # folds it through xxhash64, which merges buckets with prob 2^-62
        "bucket_sizes": [
            ("minhash_lsh" if code == 1 else "simhash_rot", len(members))
            for (code, _i, _k), members in buckets.items()
        ],
    }


def hot_anchor_chains(occ: set[tuple[str, int, str]], min_len: int) -> list[list[str]]:
    """The members, in id order, of each chain of one hot anchor's
    (id, lo, ctx) occurrences (operators/substring.py step 3): docs with
    one (lo, ctx) of >= L chars form a class, and each class's least id
    keys every in-bounds L-run of its context through the anchor."""
    classes: dict[tuple[int, str], set[str]] = defaultdict(set)
    for i, lo, ctx in occ:
        if len(ctx) >= min_len:
            classes[(lo, ctx)].add(i)
    keys: dict[str, set[str]] = defaultdict(set)
    for (lo, ctx), members in classes.items():
        for d in range(lo + 1):
            if len(ctx) - lo >= min_len - d:
                keys[ctx[lo - d : lo - d + min_len]].add(min(members))
    return [sorted(m) for m in [*classes.values(), *keys.values()]]


def _occurrences_by_anchor(anchors) -> dict[int, set[tuple[str, int, str]]]:
    """An anchor table (id, anchor, lo, ctx) -> {anchor: its rows}."""
    pdf = anchors.toPandas() if hasattr(anchors, "toPandas") else anchors
    by_anchor: dict[int, set[tuple[str, int, str]]] = defaultdict(set)
    for i, h, lo, ctx in zip(pdf["id"], pdf["anchor"], pdf["lo"], pdf["ctx"]):
        by_anchor[h].add((i, int(lo), ctx))
    return by_anchor


def hot_anchor_edges(anchors, cfg: PipelineConfig) -> set[tuple[str, str]]:
    """The chain edges verify_substring_pairs emits for the anchors of an
    anchor table that have more than bucket_cap rows."""
    return {
        e
        for occ in _occurrences_by_anchor(anchors).values()
        if len(occ) > cfg.bucket_cap
        for chain in hot_anchor_chains(occ, cfg.substr_min_len)
        for e in id_chain(chain)
    }


def substring_pairs_mirror(docs: pd.DataFrame, cfg: PipelineConfig) -> set[tuple[str, str]]:
    """Expected (a, b) substring pairs: winnowing completeness means every
    pair sharing a normalized run >= L shares an anchor; co-occupants of an
    anchor with 2..cap occurrence rows are verified by the exact shared-run
    predicate over the whole texts, and an anchor over the cap contributes
    its class and run-key chains (hot_anchor_chains) — mirrors
    operators/substring.py::substring_pairs.

    The anchors come from one winnowing batch, and the engine's batches
    can select other anchors near a document's end, so only the
    components are comparable with the engine's pairs."""
    ids = docs["doc_id"].astype(str).tolist()
    norm = [spec.normalize_for_substring(t) for t in docs["text"].tolist()]
    L, w = cfg.substr_min_len, cfg.substr_window
    by_anchor: dict[int, set[tuple[str, int, str]]] = defaultdict(set)
    for d, p, h in zip(*(a.tolist() for a in spec.winnow_anchors_batch(norm, w, L))):
        lo = min(p, L - w)
        by_anchor[h].add((ids[d], lo, norm[d][p - lo : p + L]))
    by_id = {ids[i]: i for i in range(len(ids))}

    def shares(a: str, b: str) -> bool:
        na, nb = norm[by_id[a]], norm[by_id[b]]
        if len(na) < L or len(nb) < L:
            return False
        if len(nb) < len(na):
            na, nb = nb, na
        wins = {na[i : i + L] for i in range(len(na) - L + 1)}
        return any(nb[i : i + L] in wins for i in range(len(nb) - L + 1))

    pairs: set[tuple[str, str]] = set()
    for occ in by_anchor.values():
        if len(occ) > cfg.bucket_cap:
            for chain in hot_anchor_chains(occ, L):
                pairs.update(id_chain(chain))
        elif len(occ) >= 2:
            members = sorted({i for i, _, _ in occ})
            pairs.update(
                (x, y) for k, x in enumerate(members) for y in members[k + 1 :] if shares(x, y)
            )
    return pairs


def context_shares_run(lo_a: int, ctx_a: str, lo_b: int, ctx_b: str, min_len: int) -> bool:
    """Python twin of operators/substring._shared_runs over two occurrences
    of one anchor (udfs.winnow_contexts' lo, ctx): equal contexts of >= L
    chars, or an L-run at the same offset d before both anchors, inside
    both contexts."""
    if ctx_a == ctx_b and len(ctx_a) >= min_len:
        return True
    for d in range(min(lo_a, lo_b) + 1):
        run = ctx_a[lo_a - d : lo_a - d + min_len]
        if len(run) == min_len and run == ctx_b[lo_b - d : lo_b - d + min_len]:
            return True
    return False


def union_find_min_labels(
    ids: list[str], edges: list[tuple[str, str]]
) -> dict[str, str]:
    """Union-find with lexicographic-min component labels; every id labeled
    (singletons by themselves) — mirrors connected_components + the
    singleton union in plans/text_dedup.py."""
    parent: dict[str, str] = {i: i for i in ids}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {i: find(i) for i in ids}


def image_kernel_mirror(img: pd.DataFrame, cfg: PipelineConfig) -> dict:
    """Image-pipeline mirror of text_kernel_mirror: the same caption
    fingerprint kernel plus the phash pigeonhole index (code 3, mirroring
    candidates.explode_all_keys include_phash=True) and the OR-phash verify
    predicate (operators/verify.py use_phash=True). Returns candidate/
    verified pair sets and cluster labels computed without Spark — the
    differential second engine for the flagship pipeline's funnel counts.

    Completeness cross-check available to callers: because both pigeonhole
    indexes are complete for their radii, the verified set must equal the
    full all-pairs dup matrix (the path gen_expected's image_clusters
    takes) — asserting the two cluster labelings equal differentials the
    bucketed path against the O(n^2) one.
    """
    ids = img["image_id"].astype(str).to_numpy(dtype=object)
    n = len(img)

    fb = fingerprint_batch(img["caption"].reset_index(drop=True), cfg, emit_minhash=False)
    n_shingles = fb["n_shingles"].to_numpy(np.int32)
    sim_u64 = spec.i64_to_u64(fb["simhash"].to_numpy(np.int64))
    ph_u64 = spec.i64_to_u64(img["phash"].to_numpy(np.int64))
    bands = (
        np.stack(fb["bands"].to_numpy()) if n else np.zeros((0, cfg.n_bands), np.int64)
    )
    pig = spec.pigeonhole_keys(sim_u64, cfg.n_blocks, cfg.hamming_radius)
    pig_ph = spec.pigeonhole_keys(ph_u64, cfg.n_blocks, cfg.phash_radius)

    buckets: dict[tuple[int, int, int], list[int]] = defaultdict(list)
    for idx in np.flatnonzero(n_shingles > 0):
        for i in range(cfg.n_bands):
            buckets[(1, i, int(bands[idx, i]))].append(int(idx))
        for i in range(pig.shape[1]):
            buckets[(2, i, int(pig[idx, i]))].append(int(idx))
    for idx in range(n):  # phash keys are emitted for every non-null phash
        for i in range(pig_ph.shape[1]):
            buckets[(3, i, int(pig_ph[idx, i]))].append(int(idx))

    pairs: set[tuple[str, str]] = set()
    for members in buckets.values():
        pairs.update(bucket_pairs(sorted(ids[m] for m in members), cfg.bucket_cap))

    cand_rows = sorted(pairs)
    by_id = {ids[i]: i for i in range(n)}
    if cand_rows:
        ai = np.array([by_id[a] for a, _ in cand_rows])
        bi = np.array([by_id[b] for _, b in cand_rows])
        cap_ok = (
            (spec.popcount64(sim_u64[ai] ^ sim_u64[bi]) <= cfg.hamming_radius)
            & (n_shingles[ai] > 0)
            & (n_shingles[bi] > 0)
        )
        ph_ok = spec.popcount64(ph_u64[ai] ^ ph_u64[bi]) <= cfg.phash_radius
        verified = [cand_rows[i] for i in np.flatnonzero(cap_ok | ph_ok)]
    else:
        verified = []

    clusters = union_find_min_labels(list(ids), verified)
    return {"ids": ids, "candidates": cand_rows, "verified": verified, "clusters": clusters}


# ------------------------------------------------ standalone Spark references
# The manifest metrics are collected in flight (Observations on the stages'
# own writes); these recompute them as separate passes over the same data,
# for the tests that compare the two.


def bucket_stats_packed(packed):
    """Bucket-size histogram per source from the PACKED key table (k, id):
    one (src, n_buckets, max_bucket, avg_bucket, n_colliding) row per
    source, the source recovered from each key's low 2 bits."""
    from pyspark.sql import functions as F

    from simhash_spark.operators.candidates import _decode, src_code

    return (
        packed.groupBy("k")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .select(_decode(src_code()).alias("src"), "bucket_size")
        .groupBy("src")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("bucket_size").alias("max_bucket"),
            F.avg("bucket_size").alias("avg_bucket"),
            F.sum(F.when(F.col("bucket_size") > 1, 1).otherwise(0)).alias("n_colliding"),
        )
    )


def candidate_bucket_stats(fp, cfg: PipelineConfig, include_phash: bool = True):
    """The candidates stage's bucket histogram over a fingerprint table."""
    from simhash_spark.operators.candidates import explode_all_keys

    return bucket_stats_packed(explode_all_keys(fp, cfg, include_phash=include_phash))


def substring_stage_metrics(anchors, cfg: PipelineConfig) -> dict:
    """The substring stage's manifest keys recomputed in Python from the
    anchor table (id, anchor, lo, ctx): co-occupant pairs of distinct docs
    in cold anchors, hot anchors, the largest anchor's rows, and the chain
    edges of hot anchors (hot_anchor_chains: one fewer than the members of
    each chain)."""
    cold_pairs = hot = chain = max_rows = 0
    for occ in _occurrences_by_anchor(anchors).values():
        max_rows = max(max_rows, len(occ))
        if len(occ) > cfg.bucket_cap:
            hot += 1
            chain += sum(len(m) - 1 for m in hot_anchor_chains(occ, cfg.substr_min_len))
        else:
            per_id = pd.Series([i for i, _, _ in occ]).value_counts()
            n = len(occ)
            cold_pairs += n * (n - 1) // 2 - int((per_id * (per_id - 1) // 2).sum())
    return {
        "n_pairs": cold_pairs + chain,
        "hot_anchors": hot,
        "max_anchor_rows": max_rows,
        "chain_edges": chain,
    }
