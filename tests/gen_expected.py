#!/usr/bin/env python
"""Generate spec-computed expected outputs for the non-SQL kernel queries.

The engine's core kernels (SimHash/MinHash/LSH/pigeonhole/CC) are not
ANSI-SQL-expressible, so the driver's DuckDB oracle cannot derive them — but
it CAN compare against precomputed answers. This script computes, with the
frozen pure-numpy spec (NO Spark), the exact expected output of three driver
queries over /root/testdata/sf0.01/documents.parquet:

- fingerprints.parquet : expected ``simhash_fingerprints`` output
- candidates.parquet   : expected ``minhash_lsh_candidates`` output
- clusters.parquet     : expected ``text_near_dup_clusters`` output
- substr_pairs.parquet : expected ``substring_pairs_docs`` output
- image_clusters.parquet / image_features.parquet : expected outputs of the
  image-fixture queries (the fixtures are seed-deterministic, so their
  answers are constants)

and writes them under tests/expected/text_kernel_sf001/ (checked in).
``oracle_sql()`` then reads them via DuckDB ``read_parquet`` — turning the
engine's core kernel path into driver-visible, hash-checked rows (the
reference's differential method, /root/reference/README.md:11, with the
canonical numpy implementation as the second engine).

Mirrored engine semantics (kept in lockstep with the cited code):
- fingerprint_batch (functions/udfs.py) is the SAME kernel the pandas UDF
  runs — chunking included, and itself vector-tested against spec.
- candidate buckets (operators/candidates.py::explode_all_keys): band keys
  (src minhash_lsh) + pigeonhole combination keys over simhash (simhash_rot)
  for rows with n_shingles > 0; bucket identity here is the raw
  (code, index, key) triple — the engine folds it through xxhash64, which
  only merges buckets with probability 2^-64.
- pairs (bucket_pairs_packed): all C(s,2) per bucket, a < b in STRING order
  (ids are cast to string by text_fingerprints); a bucket over bucket_cap
  chains its consecutive ids in the same order (mirror.bucket_pairs).
- verify (operators/verify.py, use_phash=False): hamming(simhash) <= radius
  and both sides have shingles.
- clusters (connected_components): component label = lexicographic min id;
  singletons labeled by themselves (plans/text_dedup.py).

Rerun after any (sanctioned, output-changing is forbidden) spec change:
    python tests/gen_expected.py
"""

from __future__ import annotations

import pathlib
import sys
from collections import defaultdict

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from simhash_spark import spec  # noqa: E402
from simhash_spark.config import DEFAULT_CONFIG as CFG  # noqa: E402
from simhash_spark.functions.udfs import fingerprint_batch  # noqa: E402

SF = "/root/testdata/sf0.01"
OUT = pathlib.Path(__file__).resolve().parent / "expected" / "text_kernel_sf001"


def main() -> None:
    OUT.mkdir(parents=True, exist_ok=True)
    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
    from mirror import text_kernel_mirror

    docs = pd.read_parquet(f"{SF}/documents.parquet")
    n = len(docs)

    # doc_fingerprints: FNV-1a 64 of the raw UTF-8 text (spec.fnv1a64_str —
    # the same kernel make_doc_fingerprint_udf runs per Arrow batch)
    doc_fp = spec.u64_to_i64(spec.fnv1a64_str(docs["text"].fillna("").tolist()))
    pq.write_table(
        pa.table(
            {"doc_id": docs["doc_id"].astype(str), "doc_fp": doc_fp},
            schema=pa.schema([("doc_id", pa.string()), ("doc_fp", pa.int64())]),
        ),
        OUT / "doc_fp.parquet",
    )
    print(f"doc fingerprints: {len(doc_fp)}")

    m = text_kernel_mirror(docs, CFG)
    ids = m["ids"]
    by_id = {ids[i]: i for i in range(n)}
    verified = m["verified"]
    cand_rows = sorted(m["candidates"])

    pq.write_table(
        pa.table(
            {"doc_id": ids, "simhash": m["simhash_i64"], "n_shingles": m["n_shingles"]},
            schema=pa.schema(
                [("doc_id", pa.string()), ("simhash", pa.int64()), ("n_shingles", pa.int32())]
            ),
        ),
        OUT / "fingerprints.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "a": [a for a, _ in cand_rows],
                "b": [b for _, b in cand_rows],
                "src": [m["candidates"][p] for p in cand_rows],
            },
            schema=pa.schema([("a", pa.string()), ("b", pa.string()), ("src", pa.string())]),
        ),
        OUT / "candidates.parquet",
    )
    pq.write_table(
        pa.table(
            {"doc_id": list(ids), "cluster_id": [m["clusters"][i] for i in ids]},
            schema=pa.schema([("doc_id", pa.string()), ("cluster_id", pa.string())]),
        ),
        OUT / "clusters.parquet",
    )
    print(
        f"wrote {OUT}: {n} fingerprints, {len(cand_rows)} candidate pairs, "
        f"{len(verified)} verified pairs, "
        f"{len(set(m['clusters'].values()))} clusters"
    )

    # lsh_bucket_stats: bucket-size histogram per index family (singletons
    # included) from the mirror's raw (code, table, key) buckets — the skew
    # surface a production run reads before picking bucket_cap.
    from collections import Counter

    bh = Counter(m["bucket_sizes"])  # (src, size) -> n_buckets
    bh_rows = sorted(bh.items())
    pq.write_table(
        pa.table(
            {
                "src": [s for (s, _), _c in bh_rows],
                "bucket_size": np.array([z for (_, z), _c in bh_rows], np.int32),
                "n_buckets": np.array([c for _k, c in bh_rows], np.int64),
            },
            schema=pa.schema(
                [
                    ("src", pa.string()),
                    ("bucket_size", pa.int32()),
                    ("n_buckets", pa.int64()),
                ]
            ),
        ),
        OUT / "bucket_hist.parquet",
    )
    print(
        "bucket hist: "
        + ", ".join(
            f"{src}: {sum(c for (s, _), c in bh.items() if s == src)} buckets"
            for src in ("minhash_lsh", "simhash_rot")
        )
    )

    # ---- minhash_est_eval: estimated vs exact Jaccard per candidate pair --
    # Independent per-row path: spec.caption_fingerprint (the canonical
    # single-document pipeline, NOT the batched kernel the engine UDF runs)
    # supplies both the 128-lane signature and the raw shingle hashes; exact
    # Jaccard uses the distinct set, the estimate counts equal lanes
    # (Broder'97). Integer bp arithmetic mirrors the operator's DIV exactly.
    ma, mb = spec.minhash_params(CFG.n_perm, CFG.minhash_seed)
    per_doc = {}
    for d, t in zip(docs["doc_id"].astype(str), docs["text"].fillna("")):
        cf = spec.caption_fingerprint(t, CFG.shingle_k, ma, mb, CFG.n_bands, CFG.band_rows)
        per_doc[d] = (cf["minhash"], set(np.unique(cf["shingle_hashes"]).tolist()))
    est_rows = []
    for a, b in cand_rows:
        sig_a, set_a = per_doc[a]
        sig_b, set_b = per_doc[b]
        eq = int((sig_a == sig_b).sum())
        ns = len(set_a & set_b)
        est_bp = (10000 * eq) // CFG.n_perm
        exact_bp = (10000 * ns) // (len(set_a) + len(set_b) - ns)
        est_rows.append((a, b, est_bp, exact_bp, abs(est_bp - exact_bp)))
    pq.write_table(
        pa.table(
            {
                "a": [r[0] for r in est_rows],
                "b": [r[1] for r in est_rows],
                "est_bp": [r[2] for r in est_rows],
                "exact_bp": [r[3] for r in est_rows],
                "err_bp": [r[4] for r in est_rows],
            },
            schema=pa.schema(
                [
                    ("a", pa.string()),
                    ("b", pa.string()),
                    ("est_bp", pa.int64()),
                    ("exact_bp", pa.int64()),
                    ("err_bp", pa.int64()),
                ]
            ),
        ),
        OUT / "est_eval.parquet",
    )
    print(f"minhash est-eval pairs: {len(est_rows)}")

    # ---- substring pairs (winnow anchors -> exact shared-run verify) ----
    from mirror import substring_pairs_mirror

    sub_pairs = sorted(substring_pairs_mirror(docs, CFG))
    pq.write_table(
        pa.table(
            {
                "a": [a for a, _ in sub_pairs],
                "b": [b for _, b in sub_pairs],
                "src": ["substr"] * len(sub_pairs),
            },
            schema=pa.schema([("a", pa.string()), ("b", pa.string()), ("src", pa.string())]),
        ),
        OUT / "substr_pairs.parquet",
    )
    print(f"substring pairs: {len(sub_pairs)}")

    # substring_run_report: exact longest-shared-run length per substring
    # pair, by the SAME definition the engine binary-searches (monotone
    # shares-a-run-of-length-L predicate) — here with literal string window
    # sets, no hashing, so the two implementations are independent
    norm_by_id = {
        str(d): spec.normalize_for_substring(t)
        for d, t in zip(docs["doc_id"], docs["text"])
    }

    def _longest_run(na: str, nb: str, lo: int) -> int:
        def sh(length: int) -> bool:
            if min(len(na), len(nb)) < length:
                return False
            x, y = (na, nb) if len(na) <= len(nb) else (nb, na)
            wins = {x[i : i + length] for i in range(len(x) - length + 1)}
            return any(y[i : i + length] in wins for i in range(len(y) - length + 1))

        hi = min(len(na), len(nb))
        if hi < lo or not sh(lo):
            return 0
        while lo < hi:
            mid = (lo + hi + 1) // 2
            if sh(mid):
                lo = mid
            else:
                hi = mid - 1
        return lo

    run_rows = [
        (a, b, _longest_run(norm_by_id[a], norm_by_id[b], CFG.substr_min_len))
        for a, b in sub_pairs
    ]
    assert all(r > 0 for _, _, r in run_rows)  # refinement of the pair set
    pq.write_table(
        pa.table(
            {
                "a": [a for a, _, _ in run_rows],
                "b": [b for _, b, _ in run_rows],
                "run_len": np.array([r for _, _, r in run_rows], np.int32),
            },
            schema=pa.schema(
                [("a", pa.string()), ("b", pa.string()), ("run_len", pa.int32())]
            ),
        ),
        OUT / "substr_runs.parquet",
    )
    import statistics

    print(
        f"substring runs: {len(run_rows)} pairs, "
        f"len min/med/max = {min(r for *_, r in run_rows)}/"
        f"{int(statistics.median(r for *_, r in run_rows))}/"
        f"{max(r for *_, r in run_rows)}"
    )

    # ---- clusters WITH the substring stage (text_near_dup_clusters_substr):
    # substr candidates verify unconditionally (verify.py: src contains
    # 'substr'), so the edge set is verified hamming pairs ∪ substring pairs
    sparent: dict[str, str] = {i: i for i in ids}

    def sfind(x: str) -> str:
        while sparent[x] != x:
            sparent[x] = sparent[sparent[x]]
            x = sparent[x]
        return x

    for a, b in list(verified) + sub_pairs:
        ra, rb = sfind(a), sfind(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            sparent[hi] = lo
    pq.write_table(
        pa.table(
            {"doc_id": list(ids), "cluster_id": [sfind(i) for i in ids]},
            schema=pa.schema([("doc_id", pa.string()), ("cluster_id", pa.string())]),
        ),
        OUT / "clusters_substr.parquet",
    )
    print(f"clusters with substring stage: {len({sfind(i) for i in ids})}")

    # ---- image fixture queries (seed-deterministic -> constant answers) ----
    from simhash_spark.operators.multimodal import ahash64, decode_rgb
    from simhash_spark.sources.fixtures import make_images_pdf

    # image_near_dup_clusters: pipeline WITHOUT the substring stage, so the
    # expected pairs are exactly the simhash/phash Hamming criteria (the
    # pigeonhole indexes are complete for radius <= 3 by construction, and
    # verify re-applies the exact predicate)
    img = make_images_pdf(300, seed=42, with_bytes=False)
    img_ids = img["image_id"].to_numpy(dtype=object)
    ifb = fingerprint_batch(img["caption"].reset_index(drop=True), CFG, emit_minhash=False)
    isim = spec.i64_to_u64(ifb["simhash"].to_numpy(np.int64))
    insh = ifb["n_shingles"].to_numpy(np.int32)
    iph = spec.i64_to_u64(img["phash"].to_numpy(np.int64))
    m = len(img)
    dc = spec.popcount64(isim[:, None] ^ isim[None, :])
    dp = spec.popcount64(iph[:, None] ^ iph[None, :])
    has2 = (insh > 0)[:, None] & (insh > 0)[None, :]
    dup = ((dc <= CFG.hamming_radius) & has2) | (dp <= CFG.phash_radius)
    iparent: dict[str, str] = {i: i for i in img_ids}

    def ifind(x: str) -> str:
        while iparent[x] != x:
            iparent[x] = iparent[iparent[x]]
            x = iparent[x]
        return x

    for x, y in zip(*np.nonzero(np.triu(dup, 1))):
        ra, rb = ifind(img_ids[x]), ifind(img_ids[y])
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            iparent[hi] = lo
    pq.write_table(
        pa.table(
            {"image_id": list(img_ids), "cluster_id": [ifind(i) for i in img_ids]},
            schema=pa.schema([("image_id", pa.string()), ("cluster_id", pa.string())]),
        ),
        OUT / "image_clusters.parquet",
    )
    print(f"image clusters: {len({ifind(i) for i in img_ids})} over {m} images")

    # image_dedup_funnel: the flagship pipeline's (stage, metric, value)
    # funnel, counted by the INDEPENDENT bucketed mirror (band + simhash +
    # phash pigeonhole buckets -> pairs -> OR-phash verify -> union-find).
    # Differential: index completeness for both radii means the mirror's
    # cluster labeling must equal the all-pairs dup-matrix labeling above —
    # assert it, so the bucketed path is checked against the O(n^2) one.
    from mirror import image_kernel_mirror

    imir = image_kernel_mirror(img, CFG)
    assert imir["clusters"] == {i: ifind(i) for i in img_ids}, (
        "bucketed mirror clusters diverge from the dup-matrix clusters"
    )
    ilabels = np.array([imir["clusters"][i] for i in img_ids], dtype=object)
    _, iinv, icnt = np.unique(ilabels, return_inverse=True, return_counts=True)
    icsize = icnt[iinv]
    funnel = [
        (1, "n_docs", m),
        (2, "n_exact_dup_extra", m - len(set(img["caption"]))),
        (3, "n_candidate_pairs", len(imir["candidates"])),
        (4, "n_verified_pairs", len(imir["verified"])),
        (5, "n_dup_docs", int((icsize > 1).sum())),
        (6, "n_dup_clusters", int(np.unique(iinv[icsize > 1]).size)),
        (7, "n_kept_docs", int(icnt.size)),
    ]
    pq.write_table(
        pa.table(
            {
                "stage": [r[0] for r in funnel],
                "metric": [r[1] for r in funnel],
                "value": [r[2] for r in funnel],
            },
            schema=pa.schema(
                [("stage", pa.int32()), ("metric", pa.string()), ("value", pa.int64())]
            ),
        ),
        OUT / "image_funnel.parquet",
    )
    print(f"image funnel: {dict((r[1], r[2]) for r in funnel)}")

    # phash_distance_histogram: the image axis's radius-calibration margin —
    # exact phash Hamming histogram over ALL mirror candidate pairs
    # (accepted AND rejected), accepted = hamming <= phash_radius. Same
    # re-derivation device as dup_distance_histogram, on the pixel axis.
    iph = spec.i64_to_u64(img["phash"].to_numpy(np.int64))
    iby = {iid: i for i, iid in enumerate(img_ids)}
    assert imir["candidates"], "image fixture produced no candidate pairs"
    cai = np.array([iby[a] for a, _ in imir["candidates"]])
    cbi = np.array([iby[b] for _, b in imir["candidates"]])
    ph_d = spec.popcount64(iph[cai] ^ iph[cbi]).astype(np.int64)
    hvals, hcnts = np.unique(ph_d, return_counts=True)
    pq.write_table(
        pa.table(
            {
                "hamming": hvals.astype(np.int32),
                "n_pairs": hcnts.astype(np.int64),
                "accepted": (hvals <= CFG.phash_radius).astype(np.int32),
            },
            schema=pa.schema(
                [
                    ("hamming", pa.int32()),
                    ("n_pairs", pa.int64()),
                    ("accepted", pa.int32()),
                ]
            ),
        ),
        OUT / "image_phash_hist.parquet",
    )
    print(
        f"image phash hist: {len(hvals)} distances over {len(ph_d)} pairs, "
        f"accepted mass {int(hcnts[hvals <= CFG.phash_radius].sum())}"
    )

    # image_keep_best: per-cluster keep rule over the SAME clusters — the
    # member with maximum resolution w*h, ties broken by minimum image_id
    # (the frozen near_dup_keep_best rule with score = w*h). Independent
    # python recomputation, not the engine.
    iwh = img["w"].to_numpy(np.int64) * img["h"].to_numpy(np.int64)
    best: dict[str, tuple[int, str]] = {}
    for i, iid in enumerate(img_ids):
        c = ifind(iid)
        # max score wins; at equal score the smaller id wins (so compare
        # (score, -id) conceptually — ids are strings, so explicit branch)
        cur = best.get(c)
        if cur is None or iwh[i] > cur[0] or (iwh[i] == cur[0] and iid < cur[1]):
            best[c] = (int(iwh[i]), iid)
    keep_ids = [best[ifind(i)][1] for i in img_ids]
    pq.write_table(
        pa.table(
            {
                "image_id": list(img_ids),
                "keep_id": keep_ids,
                "is_kept": np.array(
                    [int(k == i) for k, i in zip(keep_ids, img_ids)], np.int32
                ),
            },
            schema=pa.schema(
                [
                    ("image_id", pa.string()),
                    ("keep_id", pa.string()),
                    ("is_kept", pa.int32()),
                ]
            ),
        ),
        OUT / "image_keep_best.parquet",
    )
    print(
        f"image keep best: {sum(int(k == i) for k, i in zip(keep_ids, img_ids))} kept of {m}"
    )

    # image_features: decode/resize/ahash are pure numpy — run them outside
    # Spark on the same deterministic fixture
    feat = make_images_pdf(100, seed=42, with_bytes=True)
    fw, fh, fph = [], [], []
    for data, fmt in zip(feat["bytes"], feat["fmt"]):
        px = decode_rgb(bytes(data), fmt)
        fh.append(px.shape[0])
        fw.append(px.shape[1])
        fph.append(int(spec.u64_to_i64(np.array([ahash64(px)]))[0]))
    pq.write_table(
        pa.table(
            {
                "image_id": feat["image_id"].to_numpy(dtype=object),
                "w": np.array(fw, np.int32),
                "h": np.array(fh, np.int32),
                "phash_computed": np.array(fph, np.int64),
                "error": pa.array([None] * len(feat), type=pa.string()),
            },
            schema=pa.schema(
                [
                    ("image_id", pa.string()),
                    ("w", pa.int32()),
                    ("h", pa.int32()),
                    ("phash_computed", pa.int64()),
                    ("error", pa.string()),
                ]
            ),
        ),
        OUT / "image_features.parquet",
    )
    print(f"image features: {len(feat)} rows")

    # image_exact_dup_bytes: byte-exact re-upload groups over the planted
    # with_bytes fixture — md5 of the raw file bytes recomputed with hashlib
    # (independent of Spark's md5 expression), grouped in plain python.
    import hashlib

    from simhash_spark.sources.fixtures import plant_byte_reuploads

    up = plant_byte_reuploads(make_images_pdf(100, seed=42, with_bytes=True))
    groups: dict[str, list[str]] = defaultdict(list)
    for iid, data in zip(up["image_id"], up["bytes"]):
        groups[hashlib.md5(bytes(data)).hexdigest()].append(str(iid))
    pq.write_table(
        pa.table(
            {
                "content_hash": list(groups),
                "n_copies": np.array([len(v) for v in groups.values()], np.int64),
                "keep_id": [min(v) for v in groups.values()],
            },
            schema=pa.schema(
                [
                    ("content_hash", pa.string()),
                    ("n_copies", pa.int64()),
                    ("keep_id", pa.string()),
                ]
            ),
        ),
        OUT / "image_exact_bytes.parquet",
    )
    n_dup_groups = sum(1 for v in groups.values() if len(v) > 1)
    assert n_dup_groups > 0, "fixture must plant at least one byte-dup group"
    assert sum(len(v) for v in groups.values()) == len(up)
    print(
        f"image exact bytes: {len(groups)} groups over {len(up)} rows, "
        f"{n_dup_groups} with re-uploads"
    )

    # image_near_dup_from_bytes: the from-raw-bytes composition (decode ->
    # recomputed ahash -> Hamming <= phash_radius -> union-find), mirrored
    # entirely in numpy: brute-force O(n^2) over the RECOMPUTED hashes (no
    # stored metadata touched — the same rule the Spark query enforces).
    # Byte-identical re-uploads land at distance 0; stored-phash variants do
    # not (their bytes are fresh pixels), which IS the from-bytes semantics.
    ub_hashes = np.array(
        [ahash64(decode_rgb(bytes(d), f)) for d, f in zip(up["bytes"], up["fmt"])],
        np.uint64,
    )
    ub_ids = [str(i) for i in up["image_id"]]
    parent = list(range(len(ub_ids)))

    def ufind(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    n_bpairs = 0
    for i in range(len(ub_ids)):
        for j in range(i + 1, len(ub_ids)):
            if bin(int(ub_hashes[i] ^ ub_hashes[j])).count("1") <= CFG.phash_radius:
                ri, rj = ufind(i), ufind(j)
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
                n_bpairs += 1
    # label = lexicographic min member id (ids are same-width strings, so
    # index order == string order within this fixture)
    blabels = [ub_ids[ufind(i)] for i in range(len(ub_ids))]
    pq.write_table(
        pa.table(
            {"image_id": ub_ids, "cluster_id": blabels},
            schema=pa.schema([("image_id", pa.string()), ("cluster_id", pa.string())]),
        ),
        OUT / "image_clusters_from_bytes.parquet",
    )
    n_bclusters = len({l for l in blabels})
    assert n_bpairs >= 14, "planted byte re-uploads must pair at distance 0"
    print(
        f"image clusters from bytes: {len(ub_ids)} rows, {n_bpairs} pairs, "
        f"{n_bclusters} clusters"
    )

    # phash_reverse_search: numpy brute force over the 500-row fixture —
    # probes are the first 50 images, matches = hamming(phash) <= 3. The
    # operator's pigeonhole index is EXACT at radius <= n_blocks-1, so the
    # brute-force ball is the whole answer, not a recall bound.
    img5 = make_images_pdf(500, seed=42, with_bytes=False)
    ph_u = spec.i64_to_u64(img5["phash"].to_numpy(np.int64))
    ids5 = img5["image_id"].to_numpy(dtype=object)
    d = spec.popcount64(ph_u[:50, None] ^ ph_u[None, :])
    pi, ci = np.nonzero(d <= 3)
    order = np.lexsort((ci, pi))
    pq.write_table(
        pa.table(
            {
                "probe_id": [str(ids5[i]) for i in pi[order]],
                "image_id": [str(ids5[j]) for j in ci[order]],
                "dist": d[pi[order], ci[order]].astype(np.int32),
            },
            schema=pa.schema(
                [("probe_id", pa.string()), ("image_id", pa.string()), ("dist", pa.int32())]
            ),
        ),
        OUT / "phash_search_pairs.parquet",
    )
    nself = int((pi[order] == ci[order]).sum())
    print(f"phash search: {len(pi)} pairs ({len(pi) - nself} non-self)")

    # image_quality_filter: pandas mirror of the frozen rule order/thresholds
    # (operators/search.py::IMAGE_QUALITY_RULE_ORDER) — integer arithmetic
    # only, so the keep decision is bit-equal by construction
    import re as _re

    def _iq_reason(w: int, h: int, cap: str) -> str:
        cap = cap or ""
        w, h = w or 0, h or 0  # null dims fail the resolution floor
        toks = [t for t in _re.split(r"\s+", cap.strip()) if t]
        nonspace = _re.sub(r"\s", "", cap)
        alnum = sum(ch.isalnum() for ch in nonspace)
        if w * h < 1536:
            return "too_small"
        if 2 * max(w, h) > 3 * min(w, h):
            return "extreme_aspect"
        if len(toks) < 10:
            return "caption_too_short"
        if len(toks) > 50:
            return "caption_too_long"
        if len(nonspace) > 0 and 100 * alnum < 50 * len(nonspace):
            return "caption_not_text"
        return "ok"

    iq_reasons = [
        _iq_reason(int(w), int(h), c)
        for w, h, c in zip(img5["w"], img5["h"], img5["caption"])
    ]
    pq.write_table(
        pa.table(
            {
                "image_id": ids5,
                "keep": np.array([int(r == "ok") for r in iq_reasons], np.int32),
                "reason": iq_reasons,
            },
            schema=pa.schema(
                [("image_id", pa.string()), ("keep", pa.int32()), ("reason", pa.string())]
            ),
        ),
        OUT / "image_quality.parquet",
    )
    from collections import Counter

    print(f"image quality: {dict(Counter(iq_reasons))}")

    # dedup_truth_eval: score the pipeline's clusters against the truth
    # pairs entirely in numpy. The full pipeline (simhash+phash+substring)
    # is EXACT on this fixture (test_pipeline_e2e asserts cluster equality
    # with truth), so expected clusters = truth clusters; predicted pairs =
    # within-cluster closure, hits = every truth edge.
    from simhash_spark.sources.fixtures import compute_truth

    t_pairs, t_clusters = compute_truth(img)
    n_truth = len(t_pairs)
    sizes = t_clusters.groupby("cluster_id").size()
    n_pred = int((sizes * (sizes - 1) // 2).sum())
    n_hit = n_truth  # every direct truth edge is within a truth cluster
    pq.write_table(
        pa.table(
            {
                "n_truth": np.array([n_truth], np.int64),
                "n_pred": np.array([n_pred], np.int64),
                "n_hit": np.array([n_hit], np.int64),
                "recall_bp": np.array([(10000 * n_hit) // max(1, n_truth)], np.int64),
                "precision_bp": np.array([(10000 * n_hit) // max(1, n_pred)], np.int64),
            }
        ),
        OUT / "dedup_eval.parquet",
    )
    print(f"dedup eval: truth={n_truth} pred={n_pred} hit={n_hit}")

    # dup_kind_report: the truth pairs' first-match kind histogram
    # (simhash > phash > substr — the same priority compute_truth assigns
    # and operators/verify.dup_kind_report re-derives from verified pairs;
    # the pipeline is exact on this fixture, so verified == truth edges)
    kind_counts = t_pairs["kind"].value_counts().sort_index()
    pq.write_table(
        pa.table(
            {
                "kind": list(kind_counts.index),
                "n_pairs": kind_counts.to_numpy(np.int64),
            },
            schema=pa.schema([("kind", pa.string()), ("n_pairs", pa.int64())]),
        ),
        OUT / "dup_kind_report.parquet",
    )
    print(f"dup kinds: {dict(kind_counts)}")

    # audio_features: the SAME per-clip helper the operator runs
    # (multimodal.audio_clip_features — one implementation, no drift), here
    # executed outside Spark on the deterministic fixture. Fields computed
    # atomically per row: either the full tuple or all defaults.
    from simhash_spark.operators.multimodal import audio_clip_features
    from simhash_spark.sources.fixtures import make_audio_pdf

    aud = make_audio_pdf(100, seed=42)
    acols: dict[str, list] = {
        k: [] for k in (
            "audio_id", "sample_rate", "n_channels", "n_samples",
            "duration_ms", "rms_milli", "zero_cross_per_sec", "error",
        )
    }
    for _, row in aud.iterrows():
        acols["audio_id"].append(row["audio_id"])
        try:
            vals = audio_clip_features(row["bytes"], row["fmt"])
            err = None
        except (NotImplementedError, ValueError, OverflowError) as e:
            vals = (0, 0, 0, 0, 0, 0)
            err = f"{type(e).__name__}: {e}"
        for k, v in zip(
            ("sample_rate", "n_channels", "n_samples", "duration_ms",
             "rms_milli", "zero_cross_per_sec"),
            vals,
        ):
            acols[k].append(v)
        acols["error"].append(err)
    pq.write_table(
        pa.table(
            {
                "audio_id": acols["audio_id"],
                "sample_rate": np.array(acols["sample_rate"], np.int32),
                "n_channels": np.array(acols["n_channels"], np.int32),
                "n_samples": np.array(acols["n_samples"], np.int32),
                "duration_ms": np.array(acols["duration_ms"], np.int32),
                "rms_milli": np.array(acols["rms_milli"], np.int32),
                "zero_cross_per_sec": np.array(acols["zero_cross_per_sec"], np.int32),
                "error": pa.array(acols["error"], type=pa.string()),
            }
        ),
        OUT / "audio_features.parquet",
    )
    print(f"audio features: {len(aud)} rows")

    # ---- approximate-ANN queries (seed-deterministic kernels) ----
    # The SRP planes / IVF centroids are pure functions of (seed, data); the
    # engine's pandas UDFs run the same numpy math per Arrow batch, so the
    # candidate SETS are identical; the float64 cosine re-rank agrees across
    # engines because 64-dim random cosines are separated far beyond
    # double rounding (exact duplicates tie at exactly 1.0 and break by id).
    from simhash_spark.operators.ann import _planes, ivf_fit_core

    emb = pd.read_parquet(f"{SF}/embeddings.parquet")
    vids = emb["vec_id"].to_numpy(np.int64)
    vecs = np.stack(emb["embedding"].to_numpy())  # (n, dim) float32
    vecs64 = vecs.astype(np.float64)
    norms = np.linalg.norm(vecs64, axis=1)
    q_mask = vids < 10

    def topk_rows(cand: dict[int, set[int]], k: int = 5) -> pd.DataFrame:
        rows = []
        for qi in np.flatnonzero(q_mask):
            nbrs = sorted(cand.get(int(qi), ()))
            if not nbrs:
                continue
            cos = vecs64[nbrs] @ vecs64[qi] / (norms[nbrs] * norms[qi])
            order = sorted(range(len(nbrs)), key=lambda t: (-cos[t], vids[nbrs[t]]))
            for r, t in enumerate(order[:k], start=1):
                rows.append((int(vids[qi]), int(vids[nbrs[t]]), r))
        return pd.DataFrame(rows, columns=["query_id", "neighbor_id", "rank"])

    def srp_sigs(n_planes: int, n_tables: int, seed: int) -> np.ndarray:
        # mirrors operators/ann.py::make_srp_udf bit-for-bit
        planes = _planes(vecs.shape[1], n_planes * n_tables, seed)
        bits = (vecs @ planes) > 0
        bits = bits.reshape(len(vecs), n_tables, n_planes)
        weights = (1 << np.arange(n_planes)).astype(np.int64)
        return (
            bits @ weights + (np.arange(n_tables, dtype=np.int64) << n_planes)[None, :]
        ).astype(np.int64)

    # srp_topk: corpus keys = raw signatures; query keys = sigs + 1-bit flips
    sigs88 = srp_sigs(8, 8, 7)
    key_to_corpus: dict[int, list[int]] = defaultdict(list)
    for i in range(len(vecs)):
        for s in sigs88[i]:
            key_to_corpus[int(s)].append(i)
    srp_cand: dict[int, set[int]] = defaultdict(set)
    for qi in np.flatnonzero(q_mask):
        probes = {int(s) for s in sigs88[qi]} | {
            int(s) ^ (1 << j) for s in sigs88[qi] for j in range(8)
        }
        for p in probes:
            for ci in key_to_corpus.get(p, ()):
                if ci != qi:
                    srp_cand[int(qi)].add(ci)
    srp_df = topk_rows(srp_cand)
    pq.write_table(
        pa.Table.from_pandas(
            srp_df.astype({"query_id": "int64", "neighbor_id": "int64", "rank": "int32"}),
            preserve_index=False,
        ),
        OUT / "srp_topk.parquet",
    )
    print(f"srp_topk: {len(srp_df)} rows")

    # ann_srp_range: SAME candidate sets as srp_topk (8 planes x 8 tables,
    # one-sided multi-probe), but keep EVERY candidate with cosine >= 0.3
    # instead of top-k (mirrors operators/ann.py::srp_range). The 0.3
    # boundary has a measured 1.2e-3 margin over all query-corpus pairs at
    # this sf, so the kept set is engine-portable.
    range_rows = []
    for qi, cands in srp_cand.items():
        for ci in cands:
            cos = vecs64[ci] @ vecs64[qi] / (norms[ci] * norms[qi])
            if cos >= 0.3:
                range_rows.append((int(vids[qi]), int(vids[ci])))
    range_rows.sort()
    pq.write_table(
        pa.table(
            {
                "query_id": np.array([a for a, _ in range_rows], np.int64),
                "neighbor_id": np.array([b for _, b in range_rows], np.int64),
            },
            schema=pa.schema([("query_id", pa.int64()), ("neighbor_id", pa.int64())]),
        ),
        OUT / "srp_range_pairs.parquet",
    )
    print(f"ann_srp_range: {len(range_rows)} pairs")

    # ann_ivf_topk: centroids from the shared numpy core, assignment mirrors
    # make_ivf_assign_udf (normalize -> matmul -> argpartition)
    cent = ivf_fit_core(vecs64, n_centroids=16, n_iter=8, seed=7)
    centT = np.ascontiguousarray(cent.T)
    mat = vecs64 / np.maximum(norms[:, None], 1e-12)
    sims = mat @ centT
    c_list = np.argpartition(-sims, 0, axis=1)[:, :1].astype(np.int32)[:, 0]
    q_probes = np.argpartition(-sims, 3, axis=1)[:, :4].astype(np.int32)
    by_list: dict[int, list[int]] = defaultdict(list)
    for i, l in enumerate(c_list):
        by_list[int(l)].append(i)
    ivf_cand: dict[int, set[int]] = defaultdict(set)
    for qi in np.flatnonzero(q_mask):
        for l in q_probes[qi]:
            for ci in by_list.get(int(l), ()):
                if ci != qi:
                    ivf_cand[int(qi)].add(ci)
    ivf_df = topk_rows(ivf_cand)
    pq.write_table(
        pa.Table.from_pandas(
            ivf_df.astype({"query_id": "int64", "neighbor_id": "int64", "rank": "int32"}),
            preserve_index=False,
        ),
        OUT / "ivf_topk.parquet",
    )
    print(f"ann_ivf_topk: {len(ivf_df)} rows")

    # ann_ivf_range: SAME probed-list candidate sets as ivf_topk, but keep
    # every candidate with cosine >= 0.3 instead of top-k (mirrors
    # operators/ann.py::ivf_range; same 0.3-margin argument as srp_range)
    ivf_range_rows = []
    for qi, cands in ivf_cand.items():
        for ci in cands:
            cos = vecs64[ci] @ vecs64[qi] / (norms[ci] * norms[qi])
            if cos >= 0.3:
                ivf_range_rows.append((int(vids[qi]), int(vids[ci])))
    ivf_range_rows.sort()
    pq.write_table(
        pa.table(
            {
                "query_id": np.array([a for a, _ in ivf_range_rows], np.int64),
                "neighbor_id": np.array([b for _, b in ivf_range_rows], np.int64),
            },
            schema=pa.schema([("query_id", pa.int64()), ("neighbor_id", pa.int64())]),
        ),
        OUT / "ivf_range_pairs.parquet",
    )
    print(f"ann_ivf_range: {len(ivf_range_rows)} pairs")

    # semdedup_keep (Abbas'23): within-cell cosine >= 0.4 duplicate groups
    # over the SAME ivf quantizer/assignment as ivf_topk (cent / c_list /
    # sims reused above); union-find by min vec_id; keep = the member with
    # the LOWEST cosine to its cell centroid, ties by min id. Margins at
    # this sf: min |cos - 0.4| within cells 1.3e-3, min csim gap inside a
    # group 4.1e-3 — both far beyond cross-engine float reduction noise.
    sd_csim = sims[np.arange(len(vecs)), c_list]
    sd_cells: dict[int, list[int]] = defaultdict(list)
    for i, l in enumerate(c_list):
        sd_cells[int(l)].append(i)
    sd_parent: dict[int, int] = {i: i for i in range(len(vecs))}

    def sd_find(x: int) -> int:
        while sd_parent[x] != x:
            sd_parent[x] = sd_parent[sd_parent[x]]
            x = sd_parent[x]
        return x

    for mem in sd_cells.values():
        for xi in range(len(mem)):
            for yi in range(xi + 1, len(mem)):
                i, j = mem[xi], mem[yi]
                cos = vecs64[i] @ vecs64[j] / (norms[i] * norms[j])
                if cos >= 0.4:
                    # union by min VEC_ID (the engine's frozen label rule)
                    ri, rj = sd_find(i), sd_find(j)
                    if ri != rj:
                        lo, hi = (ri, rj) if vids[ri] < vids[rj] else (rj, ri)
                        sd_parent[hi] = lo
    sd_groups: dict[int, list[int]] = defaultdict(list)
    for i in range(len(vecs)):
        sd_groups[sd_find(i)].append(i)
    sd_rows = []
    for mem in sd_groups.values():
        gid = int(min(vids[m] for m in mem))
        if len(mem) == 1:
            sd_rows.append((int(vids[mem[0]]), gid, 1))
            continue
        keep = min(mem, key=lambda m: (sd_csim[m], vids[m]))
        for m in mem:
            sd_rows.append((int(vids[m]), gid, int(m == keep)))
    sd_rows.sort()
    pq.write_table(
        pa.table(
            {
                "vec_id": np.array([r[0] for r in sd_rows], np.int64),
                "group_id": np.array([r[1] for r in sd_rows], np.int64),
                "is_kept": np.array([r[2] for r in sd_rows], np.int32),
            }
        ),
        OUT / "semdedup_keep.parquet",
    )
    n_dropped = sum(1 for r in sd_rows if r[2] == 0)
    print(f"semdedup_keep: {len(sd_rows)} rows, {n_dropped} dropped")

    # semdedup_tau_sweep: keep-rate curve over a tau grid, same quantizer/
    # cells as semdedup_keep. FROZEN comparison rule (matches the kernel
    # exactly): cos * 10000.0 >= tau_bp, cosine on the NORMALIZED rows
    # (mat[i] @ mat[j]). n_kept per tau = rows - successful union merges.
    sweep_taus = [3000, 3500, 4000, 4500, 5000]
    sweep_merges = {t: 0 for t in sweep_taus}
    sweep_parent = {t: list(range(len(vecs))) for t in sweep_taus}

    def sw_find(par: list, x: int) -> int:
        while par[x] != x:
            par[x] = par[par[x]]
            x = par[x]
        return x

    sweep_margin = float("inf")
    for mem in sd_cells.values():
        for xi in range(len(mem)):
            for yi in range(xi + 1, len(mem)):
                i, j = mem[xi], mem[yi]
                cb = float(mat[i] @ mat[j]) * 10000.0
                for t in sweep_taus:
                    sweep_margin = min(sweep_margin, abs(cb - t))
                    if cb >= t:
                        par = sweep_parent[t]
                        ri, rj = sw_find(par, i), sw_find(par, j)
                        if ri != rj:
                            par[max(ri, rj)] = min(ri, rj)
                            sweep_merges[t] += 1
    n_sw = len(vecs)
    pq.write_table(
        pa.table(
            {
                "tau_bp": np.array(sweep_taus, np.int32),
                "n_rows": np.full(len(sweep_taus), n_sw, np.int64),
                "n_kept": np.array(
                    [n_sw - sweep_merges[t] for t in sweep_taus], np.int64
                ),
                "n_dropped": np.array(
                    [sweep_merges[t] for t in sweep_taus], np.int64
                ),
                "keep_bp": np.array(
                    [(n_sw - sweep_merges[t]) * 10000 // n_sw for t in sweep_taus],
                    np.int64,
                ),
            }
        ),
        OUT / "semdedup_tau_sweep.parquet",
    )
    print(
        f"semdedup_tau_sweep: dropped per tau "
        f"{[sweep_merges[t] for t in sweep_taus]}, min |cos*1e4 - tau| = "
        f"{sweep_margin:.3f}"
    )

    # embedding_near_dup_lsh: 4 tables, 8 planes, ONE-SIDED multi-probe
    # (r3 plan fix): raw-signature buckets on one side, signature + all
    # one-bit flips probed on the other — a pair collides iff its signatures
    # are within Hamming 1 in SOME table (table tag rides in the key's high
    # bits, so flips in the low 8 bits never cross tables).
    sigs81 = srp_sigs(8, 4, 7)
    raw_buckets: dict[int, set[int]] = defaultdict(set)
    for i in range(len(vecs)):
        for s in sigs81[i]:
            raw_buckets[int(s)].add(i)
    lsh_pairs: set[tuple[int, int]] = set()
    for i in range(len(vecs)):
        for s in sigs81[i]:
            for kk in {int(s)} | {int(s) ^ (1 << j) for j in range(8)}:
                for x in raw_buckets.get(kk, ()):
                    if x != i:
                        a, b = int(vids[i]), int(vids[x])
                        lsh_pairs.add((a, b) if a < b else (b, a))
    kept = sorted(
        (a, b)
        for a, b in lsh_pairs
        if (
            vecs64[np.flatnonzero(vids == a)[0]] @ vecs64[np.flatnonzero(vids == b)[0]]
            / (norms[np.flatnonzero(vids == a)[0]] * norms[np.flatnonzero(vids == b)[0]])
        )
        >= 0.4
    )
    pq.write_table(
        pa.table(
            {
                "a": np.array([a for a, _ in kept], np.int64),
                "b": np.array([b for _, b in kept], np.int64),
            },
            schema=pa.schema([("a", pa.int64()), ("b", pa.int64())]),
        ),
        OUT / "emb_lsh_pairs.parquet",
    )
    print(f"embedding_near_dup_lsh: {len(kept)} pairs")

    # embedding_near_dup_clusters (SemDeDup-style semantic dedup): connected
    # components over the SAME kept LSH pair set; every vector absent from a
    # pair is its own singleton cluster; label = min member id (the frozen
    # representative rule shared with the text/image cluster queries)
    eparent: dict[int, int] = {int(v): int(v) for v in vids}

    def efind(x: int) -> int:
        while eparent[x] != x:
            eparent[x] = eparent[eparent[x]]
            x = eparent[x]
        return x

    for a, b in kept:
        ra, rb = efind(a), efind(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            eparent[hi] = lo
    pq.write_table(
        pa.table(
            {
                "vec_id": np.array(sorted(int(v) for v in vids), np.int64),
                "cluster_id": np.array(
                    [efind(int(v)) for v in sorted(int(v) for v in vids)], np.int64
                ),
            },
            schema=pa.schema([("vec_id", pa.int64()), ("cluster_id", pa.int64())]),
        ),
        OUT / "emb_clusters.parquet",
    )
    n_clu = len({efind(int(v)) for v in vids})
    print(f"embedding_near_dup_clusters: {len(vids)} labels, {n_clu} clusters")

    # ---- decontaminate_excise_raw: raw-char-offset span excision --------
    # pure-python mirror of operators/curation.py::excise_spans_raw over the
    # driver split (bench = doc_id % 7 == 3): contaminated_spans' FROZEN
    # island rule on string grams, then the raw-slice whitespace rule.
    import re as _re

    n_gram = 5
    is_bench = (docs["doc_id"] % 7 == 3).to_numpy()

    def _toks(t: str) -> list[str]:
        t = (t or "").strip().lower()
        return t.split() if t else []

    def _grams(toks: list[str], raw: str) -> list[str]:
        if len(toks) >= n_gram:
            return [" ".join(toks[i : i + n_gram]) for i in range(len(toks) - n_gram + 1)]
        if (raw or "").strip():
            return [" ".join(toks)]
        return []

    bench_grams: set[str] = set()
    for t in docs.loc[is_bench, "text"]:
        bench_grams.update(_grams(_toks(t), t))

    raw_rows = []
    tok_re = _re.compile(r"\S+")
    for _, row in docs.loc[~is_bench].iterrows():
        text = row["text"] or ""
        toks = _toks(text)
        nt = len(toks)
        pos = [
            p + 1 for p, g in enumerate(_grams(toks, text)) if g in bench_grams
        ]
        spans, cur = [], None
        for p in pos:
            if cur and p <= cur[1] + n_gram:
                cur[1] = p
            else:
                if cur:
                    spans.append((cur[0], min(cur[1] + n_gram - 1, nt)))
                cur = [p, p]
        if cur:
            spans.append((cur[0], min(cur[1] + n_gram - 1, nt)))
        raw_toks = list(tok_re.finditer(text))
        removed: set[int] = set()
        cuts = []
        for s, e in spans:
            s, e = max(1, s), min(nt, e)
            if s > e:
                continue
            removed.update(range(s, e + 1))
            start, end = raw_toks[s - 1].start(), raw_toks[e - 1].end()
            if e < nt:
                end = raw_toks[e].start()
            elif s > 1:
                start = raw_toks[s - 2].end()
            cuts.append((start, end))
        pieces, at = [], 0
        for start, end in sorted(cuts):
            if start > at:
                pieces.append(text[at:start])
            at = max(at, end)
        pieces.append(text[at:])
        raw_rows.append((int(row["doc_id"]), "".join(pieces), len(removed)))

    pq.write_table(
        pa.table(
            {
                "doc_id": np.array([r[0] for r in raw_rows], np.int64),
                "clean_text": [r[1] for r in raw_rows],
                "n_tokens_removed": np.array([r[2] for r in raw_rows], np.int64),
            },
            schema=pa.schema(
                [
                    ("doc_id", pa.int64()),
                    ("clean_text", pa.string()),
                    ("n_tokens_removed", pa.int64()),
                ]
            ),
        ),
        OUT / "excise_raw.parquet",
    )
    n_dirty = sum(1 for r in raw_rows if r[2] > 0)
    print(f"decontaminate_excise_raw: {len(raw_rows)} docs, {n_dirty} contaminated")

    # ---- dedup_tier_labels: exact -> near -> semantic tier ladder --------
    # Each tier mirrors its own frozen rule on the PRIOR tier's survivors:
    # exact = min doc_id per md5(text) group (hashlib == Spark md5 on utf-8);
    # near = text_kernel_mirror cluster labels (min STRING id) over tier-1
    # survivors; semantic = the semdedup union-find (tau 0.4, same cent /
    # c_list / sd_csim as semdedup_keep above) restricted to tier-2-survivor
    # vec_ids, keep = lowest centroid cosine then min id.
    import hashlib

    md5_groups: dict[str, list[int]] = defaultdict(list)
    for did, txt in zip(docs["doc_id"].tolist(), docs["text"].tolist()):
        if not isinstance(txt, str):
            continue  # FROZEN: NULL text never groups — such rows pass tier 1
        md5_groups[hashlib.md5(txt.encode("utf-8")).hexdigest()].append(int(did))
    tier_of: dict[int, str] = {}
    for mem in md5_groups.values():
        keep_id = min(mem)
        for d in mem:
            if d != keep_id:
                tier_of[d] = "exact"
    surv1_df = docs[~docs["doc_id"].isin(tier_of)].reset_index(drop=True)
    m_t = text_kernel_mirror(surv1_df, CFG)
    for sid, lab in m_t["clusters"].items():
        if sid != lab:
            tier_of[int(sid)] = "near"
    surv2_ids = {int(d) for d in surv1_df["doc_id"] if int(d) not in tier_of}
    t_parent: dict[int, int] = {}  # over embedding row indices

    def t_find(x: int) -> int:
        while t_parent[x] != x:
            t_parent[x] = t_parent[t_parent[x]]
            x = t_parent[x]
        return x

    for mem in sd_cells.values():
        smem = [i for i in mem if int(vids[i]) in surv2_ids]
        for i in smem:
            t_parent.setdefault(i, i)
        for xi in range(len(smem)):
            for yi in range(xi + 1, len(smem)):
                i, j = smem[xi], smem[yi]
                if float(mat[i] @ mat[j]) >= 0.4:
                    ri, rj = t_find(i), t_find(j)
                    if ri != rj:
                        lo, hi = (ri, rj) if vids[ri] < vids[rj] else (rj, ri)
                        t_parent[hi] = lo
    t_groups: dict[int, list[int]] = defaultdict(list)
    for i in t_parent:
        t_groups[t_find(i)].append(i)
    for mem in t_groups.values():
        if len(mem) == 1:
            continue
        keep = min(mem, key=lambda m_: (sd_csim[m_], vids[m_]))
        for m_ in mem:
            if m_ != keep:
                tier_of[int(vids[m_])] = "semantic"
    tier_rows = sorted(
        (int(d), tier_of.get(int(d), "kept")) for d in docs["doc_id"].tolist()
    )
    pq.write_table(
        pa.table(
            {
                "doc_id": np.array([d for d, _ in tier_rows], np.int64),
                "tier": [t for _, t in tier_rows],
                "is_kept": np.array(
                    [int(t == "kept") for _, t in tier_rows], np.int32
                ),
            },
            schema=pa.schema(
                [("doc_id", pa.int64()), ("tier", pa.string()), ("is_kept", pa.int32())]
            ),
        ),
        OUT / "dedup_tier_labels.parquet",
    )
    from collections import Counter

    print(f"dedup_tier_labels: {Counter(t for _, t in tier_rows)}")

    # ---- bloom_decontaminate: Bloom-filter membership counts -------------
    # Per-row python mirror of functions/bloom.py's FROZEN rules (same bench
    # split as the exact trio: doc_id % 7 == 3). Independent implementation:
    # python-int probe math + a set-of-bit-indices filter, vs the engine's
    # vectorized uint64 packed-word array.
    bits_per_key, k_probes = 16, 8
    mask64 = (1 << 64) - 1

    def _fnv_set(t: str) -> set[int]:
        gs = _grams(_toks(t), t)
        return {int(x) for x in spec.fnv1a64_str(gs)} if gs else set()

    bench_h: set[int] = set()
    for t in docs.loc[is_bench, "text"]:
        bench_h.update(_fnv_set(t))
    want = bits_per_key * len(bench_h)
    m_bits = 1 << max(6, (want - 1).bit_length() if want > 1 else 0)

    def _probes(u: int) -> list[int]:
        step = (u >> 33) | 1
        return [((u + i * step) & mask64) & (m_bits - 1) for i in range(k_probes)]

    bitset: set[int] = set()
    for u in bench_h:
        bitset.update(_probes(u))
    bl_rows = []
    for _, row in docs.loc[~is_bench].iterrows():
        hs = _fnv_set(row["text"])
        nm = sum(1 for u in hs if all(p in bitset for p in _probes(u)))
        bl_rows.append((int(row["doc_id"]), len(hs), nm))
    bl_rows.sort()
    pq.write_table(
        pa.table(
            {
                "doc_id": np.array([r[0] for r in bl_rows], np.int64),
                "n_grams": np.array([r[1] for r in bl_rows], np.int32),
                "n_maybe_overlap": np.array([r[2] for r in bl_rows], np.int32),
            },
            schema=pa.schema(
                [
                    ("doc_id", pa.int64()),
                    ("n_grams", pa.int32()),
                    ("n_maybe_overlap", pa.int32()),
                ]
            ),
        ),
        OUT / "bloom_decontaminate.parquet",
    )
    n_hit = sum(1 for r in bl_rows if r[2] > 0)
    print(
        f"bloom_decontaminate: {len(bl_rows)} docs, {n_hit} maybe-contaminated, "
        f"m={m_bits} bits over {len(bench_h)} bench grams"
    )

    # ---- image_tier_labels: byte-exact -> near tier ladder ----------------
    # The image axis's tier attribution (plans/pipeline.py::image_tier_labels)
    # mirrored per tier: hashlib md5 byte groups (keeper = lexicographic min
    # id), then image_kernel_mirror cluster labels over the survivors.
    it_src = plant_byte_reuploads(make_images_pdf(300, seed=42, with_bytes=True))
    it_groups: dict[str, list[str]] = defaultdict(list)
    for iid, data in zip(it_src["image_id"], it_src["bytes"]):
        it_groups[hashlib.md5(bytes(data)).hexdigest()].append(str(iid))
    it_tier: dict[str, str] = {}
    for mem in it_groups.values():
        keep = min(mem)
        for i in mem:
            if i != keep:
                it_tier[i] = "exact"
    it_surv = it_src[~it_src["image_id"].astype(str).isin(it_tier)].reset_index(
        drop=True
    )
    it_m = image_kernel_mirror(it_surv, CFG)
    for iid, lab in it_m["clusters"].items():
        if iid != lab:
            it_tier[str(iid)] = "near"
    it_rows = sorted(
        (str(i), it_tier.get(str(i), "kept")) for i in it_src["image_id"]
    )
    pq.write_table(
        pa.table(
            {
                "image_id": [i for i, _ in it_rows],
                "tier": [t for _, t in it_rows],
                "is_kept": np.array([int(t == "kept") for _, t in it_rows], np.int32),
            },
            schema=pa.schema(
                [("image_id", pa.string()), ("tier", pa.string()), ("is_kept", pa.int32())]
            ),
        ),
        OUT / "image_tier_labels.parquet",
    )
    from collections import Counter as _Counter

    it_counts = _Counter(t for _, t in it_rows)
    assert it_counts.get("exact", 0) > 0 and it_counts.get("near", 0) > 0, (
        "image tier fixture must exercise BOTH tiers"
    )
    print(f"image_tier_labels: {dict(it_counts)}")

    # ---- image_tier_labels_semantic: the FULL image ladder ----------------
    # exact (md5 bytes) -> near (image_kernel_mirror) -> semantic (SemDeDup
    # over centered block-mean pixel embeddings, tau 0.9) — each tier on the
    # prior tier's survivors, mirroring plans/pipeline.py::image_tier_labels
    # with emb+centroids. The fixture adds plant_semantic_rerenders rows
    # built to evade the byte AND phash/caption tiers (>= 4 ahash bits
    # flipped) while staying embedding-close (cos >= 0.92 to their base);
    # measured background max over non-planted pairs 0.836 vs planted min
    # 0.941 — tau 0.9 sits in a two-sided >= 0.04 gap (cross-engine float
    # noise is zero here anyway: both sides are numpy float64 from the same
    # uint8 thumbnails).
    from simhash_spark.operators.multimodal import decode_rgb, image_embedding_of
    from simhash_spark.sources.fixtures import plant_semantic_rerenders

    its_src = plant_semantic_rerenders(
        plant_byte_reuploads(make_images_pdf(300, seed=42, with_bytes=True))
    )
    its_ids = [str(i) for i in its_src["image_id"]]
    its_emb = np.stack(
        [
            image_embedding_of(decode_rgb(bytes(b), str(f)))
            for b, f in zip(its_src["bytes"], its_src["fmt"])
        ]
    )
    # the engine kernels re-normalize (dedup._unit_rows / make_ivf_assign_sim
    # both divide by max(norm, 1e-12)) — replicate exactly, bit for bit
    its_mat = its_emb / np.maximum(
        np.linalg.norm(its_emb, axis=1, keepdims=True), 1e-12
    )
    its_cent = ivf_fit_core(its_emb, n_centroids=8, n_iter=8, seed=7)
    its_sims = its_mat @ its_cent.T
    its_list = its_sims.argmax(axis=1)
    its_csim = its_sims[np.arange(len(its_mat)), its_list]

    # tier 1 — exact md5 byte groups
    its_groups: dict[str, list[str]] = defaultdict(list)
    for iid, data in zip(its_ids, its_src["bytes"]):
        its_groups[hashlib.md5(bytes(data)).hexdigest()].append(iid)
    its_tier: dict[str, str] = {}
    for mem in its_groups.values():
        keep = min(mem)
        for i in mem:
            if i != keep:
                its_tier[i] = "exact"
    # tier 2 — near over tier-1 survivors
    its_surv = its_src[~its_src["image_id"].astype(str).isin(its_tier)].reset_index(
        drop=True
    )
    its_m = image_kernel_mirror(its_surv, CFG)
    for iid, lab in its_m["clusters"].items():
        if iid != lab:
            its_tier[str(iid)] = "near"
    # tier 3 — SemDeDup over tier-2 survivors' embeddings, within IVF cells
    its_surv2 = {i for i in its_ids if i not in its_tier}
    row_of = {iid: k for k, iid in enumerate(its_ids)}
    its_cells: dict[int, list[int]] = defaultdict(list)
    for iid in its_ids:
        if iid in its_surv2:
            its_cells[int(its_list[row_of[iid]])].append(row_of[iid])
    its_parent: dict[int, int] = {}

    def its_find(x: int) -> int:
        while its_parent[x] != x:
            its_parent[x] = its_parent[its_parent[x]]
            x = its_parent[x]
        return x

    sem_margin = 64.0
    for mem in its_cells.values():
        for k in mem:
            its_parent.setdefault(k, k)
        for xi in range(len(mem)):
            for yi in range(xi + 1, len(mem)):
                i, j = mem[xi], mem[yi]
                cos = float(its_mat[i] @ its_mat[j])
                sem_margin = min(sem_margin, abs(cos - 0.9))
                if cos >= 0.9:
                    ri, rj = its_find(i), its_find(j)
                    if ri != rj:
                        lo, hi = (ri, rj) if its_ids[ri] < its_ids[rj] else (rj, ri)
                        its_parent[hi] = lo
    its_sem_groups: dict[int, list[int]] = defaultdict(list)
    for k in its_parent:
        its_sem_groups[its_find(k)].append(k)
    for mem in its_sem_groups.values():
        if len(mem) == 1:
            continue
        keep_k = min(mem, key=lambda m_: (its_csim[m_], its_ids[m_]))
        for m_ in mem:
            if m_ != keep_k:
                its_tier[its_ids[m_]] = "semantic"

    its_rows = sorted((i, its_tier.get(i, "kept")) for i in its_ids)
    pq.write_table(
        pa.table(
            {
                "image_id": [i for i, _ in its_rows],
                "tier": [t for _, t in its_rows],
                "is_kept": np.array([int(t == "kept") for _, t in its_rows], np.int32),
            },
            schema=pa.schema(
                [("image_id", pa.string()), ("tier", pa.string()), ("is_kept", pa.int32())]
            ),
        ),
        OUT / "image_tier_labels_semantic.parquet",
    )
    its_counts = _Counter(t for _, t in its_rows)
    assert (
        its_counts.get("exact", 0) > 0
        and its_counts.get("near", 0) > 0
        and its_counts.get("semantic", 0) > 0
    ), "full image ladder fixture must exercise ALL THREE tiers"
    assert sem_margin > 1e-3, f"semantic tau margin too thin: {sem_margin}"
    print(
        f"image_tier_labels_semantic: {dict(its_counts)} "
        f"(min |cos - tau| within cells: {sem_margin:.4f})"
    )

    # ---- image_embedding_search: semantic reverse image search ------------
    # CLIP-retrieval shape: brute cosine top-k over the pixel embeddings of
    # the BYTE-DEDUPED corpus (the production reality — you query the
    # survivors' index, not raw re-uploads; and necessarily so for oracle
    # determinism: byte-identical rows have IDENTICAL embeddings, yet BLAS
    # matvec gives 1-ulp-DIFFERENT cosines for identical rows at different
    # memory positions — measured 1.1e-16 gaps — so "exact ties" are not
    # reproducible ranks in either engine). Frozen rule = ann.cosine_topk
    # (cosine desc, neighbor_id asc); margin asserted at the rank
    # boundaries (2.2e-5 here, 11 orders above ulp noise).
    ies_drop = {i for mem in its_groups.values() for i in mem if i != min(mem)}
    ies_ids = [i for i in its_ids if i not in ies_drop]
    ies_k = 5
    ies_probe_ids = [i for i in ies_ids if i < "img000000040"]
    ies_rows = []
    ies_margin = 64.0
    # the engine's cosine_col formula exactly: dot / (|a||b|) on the RAW
    # embedding arrays (numpy float64 on both sides)
    ies_emb = its_emb[[row_of[i] for i in ies_ids]]
    ies_norm = np.linalg.norm(ies_emb, axis=1)
    for qid in ies_probe_ids:
        qi = ies_ids.index(qid)
        cos = (ies_emb @ ies_emb[qi]) / (ies_norm * ies_norm[qi])
        order = sorted(
            (k_ for k_ in range(len(ies_ids)) if k_ != qi),
            key=lambda k_: (-cos[k_], ies_ids[k_]),
        )
        top = order[:ies_k]
        # margin at the k-boundary and between adjacent ranks
        for a, b in zip(top, order[1 : ies_k + 1]):
            ies_margin = min(ies_margin, abs(float(cos[a]) - float(cos[b])))
        for r, k_ in enumerate(top, start=1):
            ies_rows.append((qid, ies_ids[k_], r))
    ies_rows.sort()
    pq.write_table(
        pa.table(
            {
                "query_id": [a for a, _, _ in ies_rows],
                "neighbor_id": [b for _, b, _ in ies_rows],
                "rank": np.array([r for _, _, r in ies_rows], np.int32),
            },
            schema=pa.schema(
                [
                    ("query_id", pa.string()),
                    ("neighbor_id", pa.string()),
                    ("rank", pa.int32()),
                ]
            ),
        ),
        OUT / "image_embedding_search.parquet",
    )
    # no identical-embedding pair may survive into the search corpus (see
    # the BLAS ulp note above) — byte dedup must have removed them all
    ies_uniq = {e.tobytes() for e in ies_emb}
    assert len(ies_uniq) == len(ies_emb), "identical embeddings survived dedup"
    assert ies_margin > 1e-9, f"rank-boundary margin too thin: {ies_margin}"
    print(
        f"image_embedding_search: {len(ies_rows)} rows over "
        f"{len(ies_probe_ids)} probes of {len(ies_ids)} deduped images "
        f"(min rank-boundary gap {ies_margin:.2e})"
    )

    # ---- caption_alignment_filter: cross-modal alignment scores -----------
    # Mirror of caption_pixel_alignment's FROZEN rules in plain python:
    # color counts over mirror.alignment_tokens (Spark's ASCII-whitespace
    # split of the lowercased caption, first 1023 tokens), integer channel
    # sums over decode_rgb'd pixels, and the frozen cosine formula
    # evaluated in the operator's exact op order
    # (python float64 == JVM double for these correctly-rounded ops on
    # bit-equal integer inputs; floor stability additionally asserted below).
    import math as _math

    from mirror import alignment_tokens

    from simhash_spark.operators.multimodal import ALIGNMENT_PALETTE
    from simhash_spark.sources.fixtures import plant_alignment_tints

    CAF_TAU_BP = 8500
    caf = plant_alignment_tints(make_images_pdf(300, seed=42, with_bytes=True))
    caf_rows = []
    caf_ok_min, caf_mis_max, caf_floor_gap = 10**9, -(10**9), 1.0
    for iid, data, fmt, cap in zip(
        caf["image_id"], caf["bytes"], caf["fmt"], caf["caption"]
    ):
        toks = alignment_tokens(cap)
        cnts = {n: toks.count(n) for n, _ in ALIGNMENT_PALETTE}
        cr = sum(cnts[n] * rgb[0] for n, rgb in ALIGNMENT_PALETTE)
        cg = sum(cnts[n] * rgb[1] for n, rgb in ALIGNMENT_PALETTE)
        cb = sum(cnts[n] * rgb[2] for n, rgb in ALIGNMENT_PALETTE)
        n_color = sum(cnts.values())
        err, (sr, sg, sb) = None, (0, 0, 0)
        try:
            if data is None:
                raise ValueError("null bytes")
            cpx = decode_rgb(bytes(data), str(fmt))
            sr, sg, sb = (
                int(v) for v in cpx.reshape(-1, 3).sum(axis=0, dtype=np.int64)
            )
        except (NotImplementedError, ValueError) as e:
            err = str(e)
        if err is not None or (sr == 0 and sg == 0 and sb == 0):
            reason, bp = "no_pixel_signal", None
        elif n_color == 0:
            reason, bp = "no_caption_signal", None
        else:
            dot = float(sr) * float(cr) + float(sg) * float(cg) + float(sb) * float(cb)
            npx = _math.sqrt(
                float(sr) * float(sr) + float(sg) * float(sg) + float(sb) * float(sb)
            )
            ncp = _math.sqrt(
                float(cr) * float(cr) + float(cg) * float(cg) + float(cb) * float(cb)
            )
            x = 10000.0 * dot / (npx * ncp)
            bp = int(_math.floor(x))
            if x != bp:  # non-integral: floor must sit clear of ulp noise
                caf_floor_gap = min(caf_floor_gap, x - bp, bp + 1 - x)
            reason = "misaligned" if bp < CAF_TAU_BP else "ok"
            if reason == "ok":
                caf_ok_min = min(caf_ok_min, bp)
            else:
                caf_mis_max = max(caf_mis_max, bp)
        # -1 sentinel for absent-signal rows (the driver face's rule: a
        # nullable int column degrades to NaN float64 in the comparators)
        caf_rows.append(
            (str(iid), -1 if bp is None else bp, n_color, int(reason != "misaligned"), reason)
        )
    pq.write_table(
        pa.table(
            {
                "image_id": [r[0] for r in caf_rows],
                "align_bp": pa.array([r[1] for r in caf_rows], type=pa.int32()),
                "n_color": np.array([r[2] for r in caf_rows], np.int32),
                "keep": np.array([r[3] for r in caf_rows], np.int32),
                "reason": [r[4] for r in caf_rows],
            },
            schema=pa.schema(
                [
                    ("image_id", pa.string()),
                    ("align_bp", pa.int32()),
                    ("n_color", pa.int32()),
                    ("keep", pa.int32()),
                    ("reason", pa.string()),
                ]
            ),
        ),
        OUT / "caption_alignment.parquet",
    )
    caf_reasons = _Counter(r[4] for r in caf_rows)
    assert set(caf_reasons) == {
        "ok",
        "misaligned",
        "no_pixel_signal",
        "no_caption_signal",
    }, f"alignment fixture must exercise all four reasons: {dict(caf_reasons)}"
    assert caf_ok_min - CAF_TAU_BP >= 300, f"matched margin too thin: {caf_ok_min}"
    assert CAF_TAU_BP - caf_mis_max >= 300, f"mismatch margin too thin: {caf_mis_max}"
    assert caf_floor_gap > 1e-6, f"align_bp floor boundary too close: {caf_floor_gap}"
    print(
        f"caption_alignment: {dict(caf_reasons)} "
        f"(tau {CAF_TAU_BP}, ok>= {caf_ok_min}, mis<= {caf_mis_max}, "
        f"floor gap {caf_floor_gap:.2e})"
    )


if __name__ == "__main__":
    main()
