"""Spark-boundary tests: UDFs reproduce the spec bit-for-bit THROUGH Arrow,
native Catalyst key/hamming expressions match the numpy kernels, and results
are independent of Arrow batch size (SURVEY.md §7.5.1)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from simhash_spark import spec
from simhash_spark.config import DEFAULT_CONFIG as CFG
from simhash_spark.functions.native import hamming, pigeonhole_key_cols
from simhash_spark.functions.udfs import fingerprint_batch, with_fingerprints


def test_udf_matches_vectors_through_spark(spark, vectors):
    caps = [c["caption"] for c in vectors["cases"]]
    df = spark.createDataFrame(
        pd.DataFrame({"image_id": [f"v{i:04d}" for i in range(len(caps))], "caption": caps})
    )
    out = with_fingerprints(df, CFG).orderBy("image_id").collect()
    for row, case in zip(out, vectors["cases"]):
        got_sim = str(int(spec.i64_to_u64(np.array([row["simhash"]]))[0]))
        assert got_sim == case["simhash_u64"], case["caption"]
        got_mh = [str(int(v)) for v in spec.i64_to_u64(np.array(row["minhash"]))]
        assert got_mh == case["minhash_u64"]
        got_b = [str(int(v)) for v in spec.i64_to_u64(np.array(row["bands"]))]
        assert got_b == case["band_hashes_u64"]


def test_arrow_batch_size_independence(spark, vectors):
    caps = [c["caption"] for c in vectors["cases"]] * 3
    pdf = pd.DataFrame({"image_id": [f"v{i:05d}" for i in range(len(caps))], "caption": caps})
    results = []
    for batch in (7, 10000):
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(batch))
        try:
            df = spark.createDataFrame(pdf)
            out = (
                with_fingerprints(df, CFG)
                .orderBy("image_id")
                .select("image_id", "simhash")
                .collect()
            )
            results.append([(r["image_id"], r["simhash"]) for r in out])
        finally:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    assert results[0] == results[1]


def test_native_keys_match_spec(spark, vectors):
    fps_u64 = np.array([int(c["simhash_u64"]) for c in vectors["cases"]], dtype=np.uint64)
    pdf = pd.DataFrame({"simhash": spec.u64_to_i64(fps_u64)})
    df = spark.createDataFrame(pdf)
    # default (4 blocks) AND the large-corpus scale config (8 blocks, 56
    # combination tables — config.index_config_for)
    for n_blocks in (CFG.n_blocks, 8):
        cols = pigeonhole_key_cols("simhash", n_blocks, CFG.hamming_radius)
        rows = df.select(F.array(*cols).alias("keys")).collect()
        want = spec.pigeonhole_keys(fps_u64, n_blocks, CFG.hamming_radius)
        for r, w in zip(rows, want):
            assert [int(v) for v in r["keys"]] == [int(x) for x in spec.u64_to_i64(w)]


def test_index_config_thresholds():
    from simhash_spark.config import index_config_for

    assert index_config_for(10_000).n_blocks == 4
    assert index_config_for(240_000).n_blocks == 4  # below measured crossover
    assert index_config_for(2_000_000).n_blocks == 8
    assert index_config_for(10**12).n_blocks == 16
    # everything except the block count is untouched
    assert index_config_for(2_000_000).shingle_k == CFG.shingle_k
    assert index_config_for(10_000) is CFG


def test_native_hamming_matches_spec(spark, vectors):
    pairs = vectors["hamming_pairs"]
    pdf = pd.DataFrame(
        {
            "x": spec.u64_to_i64(np.array([int(p["fp_a"]) for p in pairs], np.uint64)),
            "y": spec.u64_to_i64(np.array([int(p["fp_b"]) for p in pairs], np.uint64)),
            "d": [p["distance"] for p in pairs],
        }
    )
    df = spark.createDataFrame(pdf)
    bad = df.where(hamming(F.col("x"), F.col("y")) != F.col("d")).count()
    assert bad == 0


def test_fingerprint_batch_handles_all_null_and_empty():
    out = fingerprint_batch(pd.Series([None, "", "the of"], dtype=object), CFG)
    assert out["simhash"].tolist() == [0, 0, 0]
    assert out["n_shingles"].tolist() == [0, 0, 0]
    empty = fingerprint_batch(pd.Series([], dtype=object), CFG)
    assert len(empty) == 0


def test_shingle_hash_sets_match_spec_per_row():
    """emit_shingle_hashes: each row's set equals the distinct FNV hashes of
    the canonical per-row spec path; existing columns are byte-identical to
    the non-emitting call (output-preserving); empty batch/caption safe."""
    caps = pd.Series(
        [None, "", "the of", "one two three four five", "x y x y x y"], dtype=object
    )
    out = fingerprint_batch(caps, CFG, emit_minhash=True, emit_shingle_hashes=True)
    base = fingerprint_batch(caps, CFG, emit_minhash=True)
    for col in ("simhash", "n_shingles", "minhash", "bands"):
        assert [
            list(v) if hasattr(v, "__len__") else v for v in out[col]
        ] == [list(v) if hasattr(v, "__len__") else v for v in base[col]]
    for cap, got in zip(caps, out["shingle_hashes"]):
        sh = spec.shingle_list(spec.tokenize(cap or ""), CFG.shingle_k)
        want = sorted(set(spec.u64_to_i64(spec.fnv1a64_str(sh)).tolist())) if sh else []
        assert sorted(got.tolist()) == want
    empty = fingerprint_batch(pd.Series([], dtype=object), CFG, emit_shingle_hashes=True)
    assert len(empty) == 0 and "shingle_hashes" in empty.columns


def test_substring_normalization_matches_spec():
    """The one vectorized substring normalization (the winnow UDF's and
    normalize_substring_udf's) equals spec.normalize_for_substring row by
    row; a null caption reads as the empty one."""
    from simhash_spark.functions.udfs import normalize_for_substring

    texts = [
        "ﬁne ﬂour ﬀ",  # NFKC ligatures
        "ＦＵＬＬ－ＷＩＤＴＨ　Ｔｅｘｔ １２３",  # full-width letters, digits, space
        "Café naïve ÉCOLE Ångström",  # accented (NFKC keeps the accents)
        "a!!!b...c---d   e???",  # punctuation runs
        "  --Hello,   World!!  ",
        " \t\n  ",  # whitespace only
        "",
        None,
    ]
    got = normalize_for_substring(pd.Series(texts)).tolist()
    assert got == [spec.normalize_for_substring(t or "") for t in texts]
    assert got[0] == "fine flour ff" and got[5] == got[7] == ""
