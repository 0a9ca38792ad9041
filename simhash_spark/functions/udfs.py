"""Vectorized fingerprint UDFs — the engine's only JVM->Python boundary.

One Arrow-batched pandas UDF computes simhash + minhash + LSH band hashes in a
single pass over the caption column (the reference reads each article exactly
once, /root/reference/README.md:19; here: tokenize/hash once, reuse for both
signatures, mirroring README.md:24's recorded-index two-pass trick).

Batch internals are pure numpy/pandas-vectorized (BASELINE.json:15 — never
per-row Python): tokens are exploded to a flat array, shingles built by shifted
object-array concatenation, TF by lexsort + run-length, SimHash by one reduceat
matrix pass, MinHash by 128 vectorized mulmod61 passes.

The pigeonhole rotation keys deliberately do NOT live here — they are native
Catalyst bit expressions (see functions/native.py) so candidate generation
stays entirely JVM-side and codegen'd.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from simhash_spark import spec
from simhash_spark.config import PipelineConfig
from simhash_spark.stopwords import STOPWORDS

_TOKEN_RE = r"[a-z0-9]+"

FINGERPRINT_SCHEMA = T.StructType(
    [
        T.StructField("simhash", T.LongType()),
        T.StructField("n_shingles", T.IntegerType()),
        T.StructField("minhash", T.ArrayType(T.LongType())),
        T.StructField("bands", T.ArrayType(T.LongType())),
    ]
)

# pipeline variant: the full 128-perm minhash signature exists only to be
# hashed into band keys, so the pipeline never ships it across the Arrow
# boundary or stores it — 4x less UDF output (1.3 kB -> 0.3 kB/row), which
# at 10^12 rows is the difference between a 1.3 PB and a 0.3 PB fingerprint
# table. Column pruning cannot reach inside a UDF; this is the UDF-level
# equivalent.
FINGERPRINT_SCHEMA_SLIM = T.StructType(
    [f for f in FINGERPRINT_SCHEMA.fields if f.name != "minhash"]
)

# eval variant: full schema + the DISTINCT shingle-hash set per row —
# diagnostic runs only (minhash_est_eval compares signature estimates
# against exact set Jaccard, which needs the sets). Never a pipeline path:
# the set column is unbounded by design.
FINGERPRINT_SCHEMA_EVAL = T.StructType(
    FINGERPRINT_SCHEMA.fields
    + [T.StructField("shingle_hashes", T.ArrayType(T.LongType()))]
)


def _flat_tokens(captions: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """captions -> (row_ids, tokens) flat arrays, stop words removed.

    pandas-vectorized: normalize/findall/explode/isin — no Python loop over rows.
    Token order within a row is preserved (explode is order-stable).
    """
    s = captions.reset_index(drop=True).fillna("")
    ex = s.str.normalize("NFKC").str.lower().str.findall(_TOKEN_RE).explode()
    keep = ex.notna() & ~ex.isin(STOPWORDS)
    ex = ex[keep]
    return ex.index.to_numpy(np.int64), ex.to_numpy(dtype=object)


def _shingles(row_ids: np.ndarray, tokens: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Flat (row_ids, tokens) -> flat (row_ids, shingle strings), k-grams.

    Shifted object-array concatenation gives all full k-grams in k-1 vector
    ops; rows with 0 < n < k tokens get the frozen single joined shingle.
    """
    n = len(tokens)
    if n == 0:
        return np.zeros(0, np.int64), np.zeros(0, dtype=object)
    if k == 1:
        return row_ids, tokens
    if n >= k:
        same_row = row_ids[: n - k + 1] == row_ids[k - 1 :]
        sh = tokens[: n - k + 1].copy()
        for j in range(1, k):
            sh = sh + spec.SHINGLE_SEP  # object-array elementwise concat
            sh = sh + tokens[j : n - k + 1 + j]
        full_rows = row_ids[: n - k + 1][same_row]
        full_sh = sh[same_row]
    else:
        same_row = np.zeros(0, bool)
        full_rows = np.zeros(0, np.int64)
        full_sh = np.zeros(0, dtype=object)
    # short rows: token count in [1, k-1] -> one joined shingle (frozen rule)
    counts = np.bincount(row_ids) if n else np.zeros(0, np.int64)
    short = np.flatnonzero((counts > 0) & (counts < k))
    if len(short):
        short_mask = np.isin(row_ids, short)
        grp = pd.Series(tokens[short_mask]).groupby(row_ids[short_mask]).agg(spec.SHINGLE_SEP.join)
        full_rows = np.concatenate([full_rows, grp.index.to_numpy(np.int64)])
        full_sh = np.concatenate([full_sh, grp.to_numpy(dtype=object)])
        order = np.argsort(full_rows, kind="stable")
        full_rows, full_sh = full_rows[order], full_sh[order]
    return full_rows, full_sh


def fingerprint_batch(
    captions: pd.Series,
    cfg: PipelineConfig,
    emit_minhash: bool = True,
    emit_shingle_hashes: bool = False,
) -> pd.DataFrame:
    """The batch kernel behind the UDF — Spark-free, directly unit-testable.

    Returns DataFrame(simhash:int64, n_shingles:int32, [minhash:list[int64],]
    bands:list[int64][, shingle_hashes:list[int64]]) aligned with
    ``captions``. ``emit_shingle_hashes`` additionally emits each row's
    DISTINCT shingle-hash set (the ``u_hashes`` this kernel already builds
    for TF/minhash — zero extra hashing) for signature-accuracy evaluation;
    output-preserving for every existing column.
    """
    n_rows = len(captions)
    row_ids, tokens = _flat_tokens(captions)
    sh_rows, sh = _shingles(row_ids, tokens, cfg.shingle_k)
    hashes = spec.fnv1a64_bytes(pd.Series(sh, dtype=object).str.encode("utf-8").tolist())

    n_shingles = np.bincount(sh_rows, minlength=n_rows).astype(np.int32) if n_rows else np.zeros(0, np.int32)

    # TF per (row, shingle-hash): lexsort + run-length (no Python loop)
    if len(hashes):
        order = np.lexsort((hashes, sh_rows))
        r_s, h_s = sh_rows[order], hashes[order]
        newgrp = np.ones(len(h_s), bool)
        newgrp[1:] = (r_s[1:] != r_s[:-1]) | (h_s[1:] != h_s[:-1])
        starts = np.flatnonzero(newgrp)
        u_rows, u_hashes = r_s[starts], h_s[starts]
        tf = np.diff(np.append(starts, len(h_s)))
    else:
        u_rows = np.zeros(0, np.int64)
        u_hashes = np.zeros(0, np.uint64)
        tf = np.zeros(0, np.int64)

    a, b = _minhash_coeffs(cfg)
    row_starts = np.zeros(n_rows + 1, np.int64)
    np.cumsum(np.bincount(u_rows, minlength=n_rows), out=row_starts[1:])

    # Kernel calls are chunked by rows: the broadcast (L x n_perm) minhash
    # temporaries and the simhash bit matrix then stay L2-resident —
    # measured ~2.5x faster than one pass over a 10k-row Arrow batch
    # (sweep: 32 rows ~ 1 MB per temp is the optimum). Chunking is invisible
    # semantically: every kernel is a pure per-row function.
    CHUNK = 32
    simhash = np.zeros(n_rows, dtype=np.uint64)
    sig = np.zeros((n_rows, cfg.n_perm), dtype=np.uint64)
    for r0 in range(0, n_rows, CHUNK):
        r1 = min(r0 + CHUNK, n_rows)
        s0, s1 = row_starts[r0], row_starts[r1]
        local_starts = row_starts[r0 : r1 + 1] - s0
        sl = slice(s0, s1)
        simhash[r0:r1] = spec.simhash_batch(u_rows[sl] - r0, u_hashes[sl], tf[sl], r1 - r0)
        sig[r0:r1] = spec.minhash_batch(local_starts, u_hashes[sl], r1 - r0, a, b)
    bands = spec.band_hashes(sig, cfg.n_bands, cfg.band_rows)

    cols = {
        "simhash": pd.Series(spec.u64_to_i64(simhash)),
        "n_shingles": pd.Series(n_shingles),
    }
    if emit_minhash:
        cols["minhash"] = pd.Series(list(spec.u64_to_i64(sig)))
    cols["bands"] = pd.Series(list(spec.u64_to_i64(bands)))
    if emit_shingle_hashes:
        # u_hashes is already per-(row, hash)-distinct and row-grouped;
        # row_starts splits it into the per-row sets (ascending uint64
        # within a row — order is irrelevant to the set semantics)
        # np.split(x, []) yields [x] (1 element), so guard the empty batch
        sets = np.split(spec.u64_to_i64(u_hashes), row_starts[1:-1]) if n_rows else []
        cols["shingle_hashes"] = pd.Series(sets)
    return pd.DataFrame(cols)


_COEFF_CACHE: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = {}


def _minhash_coeffs(cfg: PipelineConfig) -> tuple[np.ndarray, np.ndarray]:
    key = (cfg.n_perm, cfg.minhash_seed)
    if key not in _COEFF_CACHE:
        _COEFF_CACHE[key] = spec.minhash_params(*key)
    return _COEFF_CACHE[key]


def make_fingerprint_udf(
    cfg: PipelineConfig, emit_minhash: bool = True, emit_shingle_hashes: bool = False
):
    """pandas_udf: caption string -> struct(simhash, n_shingles, [minhash,]
    bands[, shingle_hashes]).

    The closure captures only the (small, frozen) config; the minhash
    coefficients are re-derived once per python worker from the seed, so no
    multi-MB broadcast rides along with every task.
    """
    if emit_shingle_hashes:
        schema = FINGERPRINT_SCHEMA_EVAL
    else:
        schema = FINGERPRINT_SCHEMA if emit_minhash else FINGERPRINT_SCHEMA_SLIM

    @F.pandas_udf(schema)
    def fingerprint(captions: pd.Series) -> pd.DataFrame:
        return fingerprint_batch(
            captions,
            cfg,
            emit_minhash=emit_minhash or emit_shingle_hashes,
            emit_shingle_hashes=emit_shingle_hashes,
        )

    return fingerprint


def with_fingerprints(
    df,
    cfg: PipelineConfig,
    caption_col: str = "caption",
    emit_minhash: bool = True,
    emit_shingle_hashes: bool = False,
):
    """Append fingerprint columns in one ArrowEvalPython pass."""
    fp = make_fingerprint_udf(cfg, emit_minhash, emit_shingle_hashes)(
        F.col(caption_col)
    ).alias("_fp")
    return df.withColumn("_fp", fp).select("*", "_fp.*").drop("_fp")


# ----------------------------------------------------- bucket-key UDF (wide)


def tagged_keys_batch(
    sim_u64: np.ndarray,
    ph_u64: np.ndarray,
    has: np.ndarray,
    bands_u64: np.ndarray,
    cfg: PipelineConfig,
    include_phash: bool,
    ph_has: np.ndarray | None = None,
) -> list[np.ndarray]:
    """Per-row tagged bucket-key arrays (int64), numpy throughout.

    Same bucket semantics as the native path in candidates.explode_all_keys
    — one key per (source, table index, raw key) with the 2-bit source code
    in the low bits — but the fold hash is FNV-1a over the packed
    (code, index, key) record instead of JVM xxhash64. Bucket identity only
    needs to be consistent WITHIN a run (never mixed across paths), and the
    candidate PAIR set is hash-choice-independent (asserted by test).

    ``ph_has`` masks rows WITHOUT a phash (null column): they emit no
    phash-source keys, mirroring the native path where bit expressions on a
    null fingerprint yield null keys that never equi-join. None = all rows
    have one.
    """
    n = len(sim_u64)
    if ph_has is None:
        ph_has = np.ones(n, bool)
    sim_keys = spec.pigeonhole_keys(sim_u64, cfg.n_blocks, cfg.hamming_radius)

    def tag(code: int, keys: np.ndarray) -> np.ndarray:
        """(m, k) uint64 raw keys -> (m, k) int64 tagged fold hashes."""
        m, k = keys.shape
        rec = np.zeros((m, k, 11), dtype=np.uint8)
        rec[:, :, 0] = code
        idx = np.arange(k, dtype=np.uint16)
        rec[:, :, 1] = (idx & 0xFF)[None, :]
        rec[:, :, 2] = (idx >> 8)[None, :]
        rec[:, :, 3:] = (
            np.ascontiguousarray(keys.astype("<u8")).view(np.uint8).reshape(m, k, 8)
        )
        h = spec.fnv1a64_fixed(rec)
        return spec.u64_to_i64((h & np.uint64(~np.uint64(3))) | np.uint64(code))

    with_sh = np.flatnonzero(has)
    main = None
    if len(with_sh):
        main = np.concatenate(
            [tag(1, bands_u64[with_sh]), tag(2, sim_keys[with_sh])], axis=1
        )
    ph_all = None
    if include_phash:
        ph_all = tag(3, spec.pigeonhole_keys(ph_u64, cfg.n_blocks, cfg.phash_radius))

    empty = np.zeros(0, dtype=np.int64)
    out: list[np.ndarray] = [empty] * n
    for j, i in enumerate(with_sh):
        if ph_all is not None and ph_has[i]:
            out[i] = np.concatenate([main[j], ph_all[i]])
        else:
            out[i] = main[j]
    if ph_all is not None:
        for i in np.flatnonzero(~has & ph_has):
            out[i] = ph_all[i]
    return out


def make_tagged_keys_udf(cfg: PipelineConfig, include_phash: bool):
    """pandas_udf: (simhash, phash, n_shingles, bands) -> array<long> of
    tagged bucket keys. Used by candidates.explode_all_keys when the block
    combination count is large: C(16,13)=560 combination keys as Catalyst
    expressions produced a 9 MB task binary and a plan-compile-bound stage
    (measured 180 s for 500 docs); one numpy pass per Arrow batch computes
    the same buckets in milliseconds."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def keys(
        simhash: pd.Series, phash: pd.Series, n_shingles: pd.Series, bands: pd.Series
    ) -> pd.Series:
        # null-tolerant like the native expression path: a null simhash/bands
        # suppresses that row's caption-source keys, a null phash its
        # phash-source keys (native bit exprs yield null keys there, which
        # never equi-join); fillna(0) only feeds masked-out lanes
        sim_u64 = spec.i64_to_u64(simhash.fillna(0).to_numpy(np.int64))
        ph_has = phash.notna().to_numpy()
        ph_u64 = spec.i64_to_u64(phash.fillna(0).to_numpy(np.int64))
        has = (
            (n_shingles.fillna(0).to_numpy(np.int64) > 0)
            & simhash.notna().to_numpy()
            & bands.notna().to_numpy()
        )
        if len(simhash):
            if bands.isna().any():
                filler = np.zeros(cfg.n_bands, np.int64)
                stacked = np.stack(
                    [filler if b is None else np.asarray(b, np.int64) for b in bands.to_numpy()]
                )
            else:
                stacked = np.stack(bands.to_numpy()).astype(np.int64)
            bands_u64 = spec.i64_to_u64(stacked)
        else:
            bands_u64 = np.zeros((0, cfg.n_bands), np.uint64)
        out = tagged_keys_batch(
            sim_u64, ph_u64, has, bands_u64, cfg, include_phash, ph_has=ph_has
        )
        return pd.Series(out)

    return keys


# --------------------------------------------------------------- substring UDF


def winnow_contexts(texts: list[str], w: int, min_len: int) -> list[list[tuple[int, int, str]]]:
    """Per ALREADY-normalized text, its winnowing anchors as (anchor, lo, ctx):
    ``lo = min(pos, min_len - w)`` and ``ctx = text[pos - lo : pos + min_len]``
    (at most 2*min_len - w chars, cut at the text's ends).

    The winnow kernel picks the leftmost minimum of every window of
    min_len - w + 1 w-grams, so two texts sharing a run >= min_len select
    the same anchor at the same offset d in [0, min_len - w] inside it; the
    run's first min_len chars then lie inside both ctx strings. A shared
    anchor's two contexts therefore decide whether the texts share such a
    run, without the rest of either text (operators/substring.py)."""
    di, pos, ah = spec.winnow_anchors_batch(texts, w, min_len)
    ah_i64 = spec.u64_to_i64(ah)
    reach = min_len - w
    out: list[list[tuple[int, int, str]]] = [[] for _ in texts]
    for d, p, h in zip(di.tolist(), pos.tolist(), ah_i64.tolist()):
        lo = min(p, reach)
        out[d].append((h, lo, texts[d][p - lo : p + min_len]))
    return out


def make_winnow_udf(cfg: PipelineConfig):
    """pandas_udf: caption -> array<struct<anchor:long, lo:int, ctx:string>>,
    the winnowing anchors of the normalized caption with the context that
    verifies them (``winnow_contexts``; substring stage, SURVEY.md O15)."""
    schema = T.ArrayType(
        T.StructType(
            [
                T.StructField("anchor", T.LongType()),
                T.StructField("lo", T.IntegerType()),
                T.StructField("ctx", T.StringType()),
            ]
        )
    )

    @F.pandas_udf(schema)
    def winnow(captions: pd.Series) -> pd.Series:
        norm = normalize_for_substring(captions)
        occ = winnow_contexts(norm.tolist(), cfg.substr_window, cfg.substr_min_len)
        return pd.Series(
            [[{"anchor": h, "lo": lo, "ctx": c} for h, lo, c in doc] for doc in occ]
        )

    return winnow


def normalize_for_substring(captions: pd.Series) -> pd.Series:
    """spec.normalize_for_substring over a batch, vectorized: NFKC + lower +
    non-alnum runs collapsed to single spaces, stripped; a null caption
    reads as the empty one. The winnow UDF and ``normalize_substring_udf``
    both normalize through it, so anchor positions and verified text agree
    bit-for-bit."""
    return (
        captions.reset_index(drop=True)
        .fillna("")
        .str.normalize("NFKC")
        .str.lower()
        .str.replace(r"[^a-z0-9]+", " ", regex=True)
        .str.strip()
    )


@F.pandas_udf(T.StringType())
def normalize_substring_udf(captions: pd.Series) -> pd.Series:
    """``normalize_for_substring`` as a column."""
    return normalize_for_substring(captions)
