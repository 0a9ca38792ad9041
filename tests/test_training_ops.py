"""Training-data-pipeline operators: dedup family, ANN, text analysis,
multimodal plumbing — correctness vs numpy/pure-python oracles on the
driver's testdata tables and the image fixture."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


# ----------------------------------------------------------------- exact dedup


def test_exact_dedup_matches_python(spark, docs):
    from simhash_spark.operators.dedup import exact_dedup, exact_dedup_groups

    pdf = docs.select("doc_id", "text").toPandas()
    truth: dict[str, list[int]] = {}
    for did, txt in zip(pdf["doc_id"], pdf["text"]):
        truth.setdefault(hashlib.md5(txt.encode()).hexdigest(), []).append(int(did))
    g = {r["content_hash"]: r for r in exact_dedup_groups(docs, "doc_id", "text").collect()}
    assert set(g) == set(truth)
    for h, ids in truth.items():
        assert g[h]["n_copies"] == len(ids) and g[h]["keep_id"] == min(ids)
    kept = exact_dedup(docs, "doc_id", "text").count()
    assert kept == len(truth)


def test_exact_dedup_collapses_planted_copies(spark, docs):
    from simhash_spark.operators.dedup import exact_dedup

    dup = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 100000)
    both = docs.unionByName(dup)
    out = exact_dedup(both, "doc_id", "text")
    assert out.count() == docs.count()
    # survivors are the original (min) ids
    assert out.where(F.col("doc_id") >= 100000).count() == 0


def test_exact_keep_is_the_one_exact_rule(spark):
    """exact_keep, exact_dedup's survivors and the exact drops of both tier
    ladders agree with a plain-Python rule (min id per md5 of the content,
    NULL content never groups) on a planted frame: an md5 group with long
    ids 9 and 10 (numeric min 9, string min "10"), three NULL-content rows
    and, under string ids, the same groups ordered lexicographically."""
    from simhash_spark.config import DEFAULT_CONFIG as CFG
    from simhash_spark.operators.dedup import dedup_tier_labels, exact_dedup, exact_keep
    from simhash_spark.plans.pipeline import image_tier_labels
    from simhash_spark.sources.fixtures import INPUT_HINT_SCHEMA

    rng = np.random.default_rng(11)

    def words():
        return " ".join(f"w{i}" for i in rng.choice(5000, 12, replace=False))

    dup_a, dup_b = words(), words()
    rows = [(9, dup_a), (10, dup_a), (7, dup_b), (100, dup_b)]
    rows += [(30, None), (31, None), (32, None)] + [(i, words()) for i in range(1, 6)]

    def md5(t):
        return hashlib.md5(t.encode()).digest()

    def py_rule(rows):
        """(digest -> keeper id, dropped ids): the rule in plain Python."""
        keep: dict[bytes, object] = {}
        for i, t in rows:
            if t is not None:
                keep[md5(t)] = min(keep.get(md5(t), i), i)
        return keep, {i for i, t in rows if t is not None and keep[md5(t)] != i}

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    keep, drops = py_rule(rows)
    assert keep[md5(dup_a)] == 9
    got = exact_keep(docs, "doc_id", "text").collect()
    assert {(r["doc_id"], bytes(r["digest"]), r["keep_id"]) for r in got} == {
        (i, md5(t), keep[md5(t)]) for i, t in rows if t is not None
    }
    surv = {r["doc_id"] for r in exact_dedup(docs, "doc_id", "text").collect()}
    assert surv == {i for i, _ in rows} - drops
    assert {30, 31, 32} <= surv
    # text ladder; one NULL embedding rides the semantic tier untouched
    emb = spark.createDataFrame(
        [(i, None if i == 1 else rng.normal(size=4).tolist()) for i, _ in rows],
        "vec_id long, embedding array<double>",
    )
    tiers = dedup_tier_labels(docs, emb, rng.normal(size=(2, 4)), cfg=CFG, tau=0.9999)
    assert {r["doc_id"] for r in tiers.collect() if r["tier"] == "exact"} == drops

    # image ladder over the same content as string ids and binary bytes
    srows = [(str(i), t) for i, t in rows]
    skeep, sdrops = py_rule(srows)
    assert skeep[md5(dup_a)] == "10"
    phash = rng.integers(-(2**62), 2**62, len(srows))
    src = spark.createDataFrame(
        [
            (i, None if t is None else t.encode(), 1, 1, "ppm", words(), int(ph))
            for (i, t), ph in zip(srows, phash)
        ],
        schema=INPUT_HINT_SCHEMA,
    )
    got = exact_keep(src, "image_id", "bytes").collect()
    assert {(r["image_id"], r["keep_id"]) for r in got} == {
        (i, skeep[md5(t)]) for i, t in srows if t is not None
    }
    itiers = image_tier_labels(spark, src, CFG)
    assert {r["image_id"] for r in itiers.collect() if r["tier"] == "exact"} == sdrops


# ------------------------------------------------------------- n-gram jaccard


def _py_jaccard_pairs(pdf: pd.DataFrame, n: int, thr: float) -> set[tuple[int, int]]:
    shingles = {}
    for did, txt in zip(pdf["doc_id"], pdf["text"]):
        toks = txt.strip().lower().split()
        if len(toks) >= n:
            s = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
        elif toks:
            s = {" ".join(toks)}
        else:
            s = set()
        shingles[int(did)] = s
    ids = sorted(shingles)
    out = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            sa, sb = shingles[a], shingles[b]
            if not sa or not sb:
                continue
            inter = len(sa & sb)
            if inter and inter / (len(sa) + len(sb) - inter) >= thr:
                out.add((a, b))
    return out


def test_ngram_jaccard_vs_python(spark, docs):
    from simhash_spark.operators.dedup import ngram_jaccard_pairs

    # plant two near-identical docs so the threshold actually fires
    extra = spark.createDataFrame(
        [
            (90001, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en", "x", 1),
            (90002, "alpha beta gamma delta epsilon zeta eta theta iota lambda", "en", "x", 1),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    corpus = docs.unionByName(extra)
    got = {
        (r["a"], r["b"])
        for r in ngram_jaccard_pairs(corpus, "doc_id", "text", n=3, threshold=0.5).collect()
    }
    truth = _py_jaccard_pairs(corpus.select("doc_id", "text").toPandas(), 3, 0.5)
    assert got == truth
    assert (90001, 90002) in got


# ------------------------------------------------------------ embedding / ANN


def _np_cosine(mat: np.ndarray) -> np.ndarray:
    nrm = np.linalg.norm(mat, axis=1, keepdims=True)
    x = mat / nrm
    return x @ x.T


@pytest.fixture(scope="module")
def emb_with_dups(spark, emb):
    """The driver's embeddings are near-orthogonal (max pair cosine ~0.5),
    so plant 40 perturbed copies (vec_id+10000, tiny noise) as ground-truth
    near-dup pairs."""
    pdf = emb.toPandas().sort_values("vec_id").head(40).reset_index(drop=True)
    rng = np.random.default_rng(11)
    rows = []
    for _, r in pdf.iterrows():
        v = np.asarray(r["embedding"], dtype=np.float64)
        v = v + rng.normal(0, 0.01 * np.linalg.norm(v) / np.sqrt(len(v)), len(v))
        rows.append((int(r["vec_id"]) + 10000, [float(x) for x in v], int(r["label"])))
    dup = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    return emb.unionByName(dup).cache()


def test_embedding_near_dup_exact_path(spark, emb_with_dups):
    from simhash_spark.operators.dedup import embedding_near_dup

    pdf = emb_with_dups.toPandas()
    mat = np.stack([np.asarray(e, np.float64) for e in pdf["embedding"]])
    cos = _np_cosine(mat)
    ids = pdf["vec_id"].to_numpy()
    thr = 0.95
    iu = np.triu_indices(len(ids), 1)
    truth = {
        (int(min(ids[i], ids[j])), int(max(ids[i], ids[j])))
        for i, j in zip(*iu)
        if cos[i, j] >= thr
    }
    got = {
        (r["a"], r["b"])
        for r in embedding_near_dup(emb_with_dups, threshold=thr, use_lsh=False).collect()
    }
    assert got == truth
    assert len(truth) >= 35  # the planted pairs are found


@pytest.mark.parametrize(
    "n_planes,n_tables",
    [(16, 1), (8, 4)],  # library default; the driver query's config
)
def test_embedding_near_dup_lsh_recall(spark, emb_with_dups, n_planes, n_tables):
    """Recall accounting for the r3 ONE-SIDED probing scheme: a pair is a
    candidate iff its SRP signatures are within Hamming 1 in some table
    (P_table = p^b + b p^(b-1)(1-p), p = 1 - theta/pi; overall
    1-(1-P_table)^L). For genuine near-dups (cosine >= 0.95, p ~ 0.9) that
    is ~0.51 per 16-plane table and ~0.81 per 8-plane table — 4 tables push
    it to ~0.999. Precision is always exact (cosine verification)."""
    from simhash_spark.operators.dedup import embedding_near_dup

    thr = 0.95
    exact = {
        (r["a"], r["b"])
        for r in embedding_near_dup(emb_with_dups, threshold=thr, use_lsh=False).collect()
    }
    approx = {
        (r["a"], r["b"])
        for r in embedding_near_dup(
            emb_with_dups, threshold=thr, use_lsh=True, n_planes=n_planes, n_tables=n_tables
        ).collect()
    }
    assert approx <= exact  # verification makes LSH precision exact
    recall = len(approx & exact) / max(1, len(exact))
    assert recall >= 0.8, f"SRP-LSH near-dup recall {recall:.3f} ({n_planes=}, {n_tables=})"


def test_srp_planes_for_scaling():
    """Signature width grows ~log2(n) with int64 packing headroom: the old
    28-bit int32 clamp re-entered the quadratic-collision regime past
    ~10^8.5 rows (r4 verdict #7) — at 10^9 the formula wants ~36 bits and
    at 10^12 ~46, and both must now be attainable."""
    from simhash_spark.operators.ann import srp_planes_for

    widths = [srp_planes_for(n) for n in (10, 10_000, 1_000_000, 10**9, 10**12)]
    assert widths == sorted(widths)  # monotone in corpus size
    assert all(12 <= b <= 48 for b in widths)
    assert 23 <= srp_planes_for(1_000_000) <= 26  # the measured design point
    # the clamp lift: 10^9 and 10^12 get past the old int32 ceiling, and the
    # widest signature + an 8-table tag still fits a signed long
    assert 34 <= srp_planes_for(10**9) <= 38
    assert 44 <= srp_planes_for(10**12) <= 48
    # 48 sig bits + 15 tag bits occupy bits 0..62 — within a signed long
    assert srp_planes_for(10**15) == 48 and 48 + 15 <= 63


def test_srp_int64_packing_matches_int32_for_narrow_widths(spark, emb):
    """The int64 lift is output-preserving for the widths every frozen
    config uses (<= 28 bits): signatures are numerically identical to the
    old int32 packing, just wider — asserted by recomputing the int32 rule
    in numpy over the same vectors."""
    from simhash_spark.operators.ann import _planes, make_srp_udf

    pdf = emb.toPandas().sort_values("vec_id").reset_index(drop=True)
    vecs = np.stack(pdf["embedding"].to_numpy())
    n_planes, n_tables, seed = 8, 8, 7
    planes = _planes(vecs.shape[1], n_planes * n_tables, seed)
    bits = ((vecs @ planes) > 0).reshape(len(vecs), n_tables, n_planes)
    weights = (1 << np.arange(n_planes)).astype(np.int64)
    want = (bits @ weights + (np.arange(n_tables) << n_planes)[None, :]).astype(np.int32)

    out = (
        spark.createDataFrame(pdf[["vec_id", "embedding"]])
        .withColumn("sigs", make_srp_udf(n_planes, seed, n_tables)(F.col("embedding")))
        .select("vec_id", "sigs")
        .collect()
    )
    got = {r["vec_id"]: list(r["sigs"]) for r in out}
    for i, vid in enumerate(pdf["vec_id"]):
        assert got[vid] == [int(s) for s in want[i]], vid


def test_cosine_topk_vs_numpy(spark, emb):
    from simhash_spark.operators.ann import cosine_topk

    pdf = emb.toPandas().sort_values("vec_id").reset_index(drop=True)
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    cos = _np_cosine(mat)
    np.fill_diagonal(cos, -2.0)
    ids = pdf["vec_id"].to_numpy()
    queries = emb.where(F.col("vec_id") < 10)
    got = cosine_topk(emb, queries, k=5).collect()
    by_q: dict[int, list[tuple[int, int]]] = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    for q in range(10):
        qi = int(np.flatnonzero(ids == q)[0])
        order = np.lexsort((ids, -cos[qi]))[:5]
        expect = [int(ids[j]) for j in order]
        assert [n for _, n in sorted(by_q[q])] == expect, f"query {q}"


def test_cosine_range_vs_numpy(spark, emb):
    """Exact range search agrees with a numpy all-pairs scan, and its plan
    has no shuffle at all (pure broadcast-join filter)."""
    from simhash_spark.operators.ann import cosine_range

    pdf = emb.toPandas().sort_values("vec_id").reset_index(drop=True)
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    cos = _np_cosine(mat)
    ids = pdf["vec_id"].to_numpy()
    queries = emb.where(F.col("vec_id") < 10)
    out = cosine_range(emb, queries, threshold=0.3)
    got = {(r["query_id"], r["neighbor_id"]) for r in out.collect()}
    expect = set()
    for q in range(10):
        qi = int(np.flatnonzero(ids == q)[0])
        for j in range(len(ids)):
            if ids[j] != q and cos[qi, j] >= 0.3:
                expect.add((q, int(ids[j])))
    assert got == expect
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan  # map-side-only pass


def test_srp_topk_recall_random_corpus(spark, emb):
    """Worst case for LSH: near-orthogonal corpus (true top-5 cosines ~0.3-0.5).
    8 tables x 8 planes with multi-probe still recovers most of the top-5."""
    from simhash_spark.operators.ann import cosine_topk, srp_topk

    queries = emb.where(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"]) for r in cosine_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in srp_topk(emb, queries, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"SRP top-k recall {recall:.3f} too low"


def test_ann_recall_eval_matches_python_set_math(spark, emb):
    """ann_recall_eval's per-query (n_exact, n_hit, recall_bp) equals direct
    set arithmetic over the two result sets; basis points are exact integer
    division (the engine-portable ratio rule)."""
    from simhash_spark.operators.ann import ann_recall_eval, cosine_topk, srp_topk

    queries = emb.where(F.col("vec_id") < 10)
    exact_df = cosine_topk(emb, queries, k=5)
    approx_df = srp_topk(emb, queries, k=5)
    exact = {(r["query_id"], r["neighbor_id"]) for r in exact_df.collect()}
    approx = {(r["query_id"], r["neighbor_id"]) for r in approx_df.collect()}

    got = {
        r["query_id"]: (r["n_exact"], r["n_hit"], r["recall_bp"])
        for r in ann_recall_eval(exact_df, approx_df).collect()
    }
    assert set(got) == {q for q, _ in exact}
    for q in got:
        n_ex = sum(1 for p in exact if p[0] == q)
        n_hit = sum(1 for p in exact if p[0] == q and p in approx)
        assert got[q] == (n_ex, n_hit, 10000 * n_hit // n_ex)


def test_srp_topk_finds_planted_neighbors(spark, emb_with_dups):
    """The realistic case: queries are the planted perturbed copies; their
    true nearest neighbor (the original, cosine ~0.9999) must be rank 1."""
    from simhash_spark.operators.ann import srp_topk

    queries = emb_with_dups.where(F.col("vec_id") >= 10000)
    got = {
        r["query_id"]: r["neighbor_id"]
        for r in srp_topk(emb_with_dups, queries, k=1).collect()
    }
    hits = sum(1 for q, n in got.items() if n == q - 10000)
    assert hits >= 36, f"only {hits}/40 planted neighbors found at rank 1"


# ----------------------------------------------------------------- text stats


def test_text_stats_vs_python(spark, docs):
    from simhash_spark.operators.textops import LANG_MARKERS, with_text_stats

    out = with_text_stats(docs, "text").orderBy("doc_id").limit(50).collect()
    import re

    for r in out:
        t = r["text"]
        toks = t.strip().split()
        assert r["n_chars"] == len(t)
        assert r["n_tokens"] == len(toks)
        alnum = len(re.sub(r"[^a-z0-9]", "", t.lower()))
        assert r["alnum_ratio"] == alnum / max(len(t), 1)
        counts = {
            lang: len(re.findall(r"\b(" + "|".join(ws) + r")\b", t.lower()))
            for lang, ws in LANG_MARKERS.items()
        }
        best = max(counts.values())
        expect = "und" if best == 0 else next(k for k in LANG_MARKERS if counts[k] == best)
        assert r["lang_pred"] == expect


def test_repetition_stats_vs_python(spark, docs):
    """Crafted multi-line docs (the sf tables are single-line, so the line
    signals need their own fixture) + real docs, checked against a direct
    python evaluation of the frozen rules AND the DuckDB oracle dialect."""
    import duckdb

    from simhash_spark.operators.textops import (
        repetition_oracle_sql,
        with_repetition_stats,
    )

    crafted = [
        ("c1", "line one\nline one\n\nline two"),          # dup non-empty line
        ("c2", "a a a b"),                                   # dup tokens+2grams
        ("c3", "wait for it...\n- bullet\n* star\nplain"),  # boilerplate lines
        ("c4", ""),                                          # empty text
        ("c5", "   "),                                       # blank text
        ("c6", "single"),                                    # 1 token, no 2grams
        ("c7", "tail\n"),                                    # trailing newline
    ]
    df = spark.createDataFrame(crafted, "doc_id string, text string").unionByName(
        docs.orderBy("doc_id").limit(30).select(F.col("doc_id").cast("string"), "text")
    )
    rows = {r["doc_id"]: r for r in with_repetition_stats(df, "text").collect()}

    def dup_frac(xs):
        return 0.0 if not xs else (len(xs) - len(set(xs))) / len(xs)

    for doc_id, text in crafted + [
        (r["doc_id"], r["text"]) for r in df.collect() if r["doc_id"] not in dict(crafted)
    ]:
        r = rows[doc_id]
        lines = text.split("\n")
        nonempty = [x for x in lines if x.strip()]
        toks = text.strip().lower().split() if text.strip() else []
        grams2 = [" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)]
        assert r["n_lines"] == len(lines), doc_id
        assert r["n_nonempty_lines"] == len(nonempty), doc_id
        assert r["dup_line_frac"] == dup_frac(nonempty), doc_id
        assert r["dup_token_frac"] == dup_frac(toks), doc_id
        assert r["dup_2gram_frac"] == dup_frac(grams2), doc_id
        assert r["n_ellipsis_lines"] == sum(
            1 for x in lines if x.strip().endswith("...")
        ), doc_id
        assert r["n_bullet_lines"] == sum(
            1 for x in lines if x.strip()[:1] in ("-", "*")
        ), doc_id

    # the DuckDB oracle dialect computes the identical values on the crafted
    # docs (the sf-table parity is test_entry_oracle's job; this pins the
    # multi-line cases the sf tables never exercise)
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(crafted, columns=["doc_id", "text"]))
    cols = repetition_oracle_sql("text")
    sel = ", ".join(f"{sql} AS {name}" for name, sql in cols.items())
    for rec in con.sql(f"SELECT doc_id, {sel} FROM documents").df().to_dict("records"):
        r = rows[rec["doc_id"]]
        for name in cols:
            assert rec[name] == r[name], (rec["doc_id"], name)


def test_doc_fingerprint_matches_spec(spark, docs):
    from simhash_spark import spec
    from simhash_spark.operators.textops import make_doc_fingerprint_udf

    got = (
        docs.select("doc_id", make_doc_fingerprint_udf()(F.col("text")).alias("fp"))
        .orderBy("doc_id")
        .limit(100)
        .collect()
    )
    pdf = docs.orderBy("doc_id").limit(100).toPandas()
    expect = spec.u64_to_i64(spec.fnv1a64_str(pdf["text"].tolist()))
    assert [r["fp"] for r in got] == list(expect)


# ----------------------------------------------------------------- multimodal


def test_image_features_roundtrip(spark, tmp_path):
    from simhash_spark.operators.multimodal import decode_rgb, image_features
    from simhash_spark.sources.fixtures import write_images_fixture

    d = write_images_fixture(tmp_path / "fx", n_rows=60, seed=3, with_truth=False)
    src = spark.read.parquet(str(d / "images.parquet"))
    feats = image_features(src).cache()
    rows = {r["image_id"]: r for r in feats.collect()}
    pdf = src.select("image_id", "bytes", "w", "h", "phash").toPandas()
    assert len(rows) == 60
    n_match_stored = 0
    from simhash_spark import spec
    from simhash_spark.operators.multimodal import ahash64

    for _, src_row in pdf.iterrows():
        r = rows[src_row["image_id"]]
        assert r["error"] is None
        assert (r["w"], r["h"]) == (src_row["w"], src_row["h"])
        px = decode_rgb(bytes(src_row["bytes"]), "ppm")
        # the Spark-side decode->hash equals the local numpy decode->hash
        expect = int(spec.u64_to_i64(np.array([ahash64(px)]))[0])
        assert r["phash_computed"] == expect
        n_match_stored += r["phash_computed"] == src_row["phash"]
        assert abs(px.reshape(-1, 3)[:, 0].mean() - r["mean_r"]) < 1e-9
        assert len(r["thumb_bytes"]) == 8 * 8 * 3
    # stored phash was synthesized from the pixels for all non-planted rows
    # (planted pixel near-dups carry a bit-flipped stored hash by design)
    assert n_match_stored >= 30


def test_image_features_quarantines_unknown_format(spark):
    from simhash_spark.operators.multimodal import image_features

    src = spark.createDataFrame(
        [("x1", bytearray(b"\x89PNG...."), 4, 4, "png", "c", 0)],
        "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long",
    )
    r = image_features(src).collect()[0]
    assert r["error"] and "NotImplementedError" in r["error"]


def test_image_embeddings_kernel_and_quarantine(spark):
    """image_embeddings: (a) the Spark pass equals the local numpy kernel
    bit-for-bit; (b) every embedding is centered + unit-norm; (c) null
    bytes / unknown codecs quarantine with a NULL embedding; (d) a flat
    image embeds to the zero vector (degenerate-content rule)."""
    from simhash_spark.operators.multimodal import (
        decode_rgb,
        image_embedding_of,
        image_embeddings,
    )
    from simhash_spark.sources.fixtures import INPUT_HINT_SCHEMA, make_images_pdf

    pdf = make_images_pdf(40, seed=11, with_bytes=True)
    src = spark.createDataFrame(pdf, schema=INPUT_HINT_SCHEMA)
    rows = {r["image_id"]: r for r in image_embeddings(src).collect()}
    assert len(rows) == 40
    for _, s in pdf.iterrows():
        r = rows[s["image_id"]]
        assert r["error"] is None
        got = np.array(r["embedding"], np.float64)
        expect = image_embedding_of(decode_rgb(bytes(s["bytes"]), "ppm"))
        assert got.shape == (48,)
        assert np.array_equal(got, expect)  # bit-exact, both from uint8 thumbs
        assert abs(got.sum()) < 1e-9  # centered
        assert abs(np.linalg.norm(got) - 1.0) < 1e-12  # unit norm

    flat = b"P6\n8 8\n255\n" + bytes([128]) * (8 * 8 * 3)
    tiny = b"P6\n3 2\n255\n" + bytes(range(18))  # 3x2 < the 4x4 grid
    bad = spark.createDataFrame(
        [
            ("q1", None, 0, 0, "ppm", "", 0),
            ("q2", bytearray(b"\x89PNG...."), 4, 4, "png", "", 0),
            ("q3", bytearray(flat), 8, 8, "ppm", "", 0),
            ("q4", bytearray(tiny), 3, 2, "ppm", "", 0),
        ],
        INPUT_HINT_SCHEMA,
    )
    out = {r["image_id"]: r for r in image_embeddings(bad).collect()}
    assert out["q1"]["embedding"] is None and "null bytes" in out["q1"]["error"]
    assert out["q2"]["embedding"] is None and "NotImplementedError" in out["q2"]["error"]
    assert out["q3"]["error"] is None
    assert np.array_equal(np.array(out["q3"]["embedding"]), np.zeros(48))
    # sub-grid images quarantine (block_mean_resize raises; NaN->uint8 cast
    # is platform-dependent garbage otherwise) — never a garbage embedding
    assert out["q4"]["embedding"] is None and "smaller than" in out["q4"]["error"]


def test_plant_semantic_rerenders_constraints():
    """Every planted re-render satisfies the frozen constraints: >= 4 ahash
    bits from its base (evades the phash axis at radius 3), embedding cosine
    >= tau + margin to its base (the semantic tier's prey), own id/caption
    untouched; non-target rows are byte-identical to the input."""
    from simhash_spark import spec
    from simhash_spark.operators.multimodal import (
        ahash64,
        decode_rgb,
        image_embedding_of,
    )
    from simhash_spark.sources.fixtures import (
        make_images_pdf,
        plant_byte_reuploads,
        plant_semantic_rerenders,
    )

    pdf = plant_byte_reuploads(make_images_pdf(300, seed=42, with_bytes=True))
    out = plant_semantic_rerenders(pdf, every=11, offset=5, tau=0.9, margin=0.02)
    planted = [i for i in range(len(out)) if out.at[i, "bytes"] != pdf.at[i, "bytes"]]
    assert len(planted) >= 20, "fixture must plant a meaningful semantic cohort"
    assert all(i % 11 == 5 for i in planted)
    for i in planted:
        b = i - 5
        px_new = decode_rgb(bytes(out.at[i, "bytes"]), "ppm")
        px_base = decode_rgb(bytes(out.at[b, "bytes"]), "ppm")
        ham = int(
            spec.popcount64(np.array([ahash64(px_new) ^ ahash64(px_base)]))[0]
        )
        assert ham >= 4
        cos = float(image_embedding_of(px_new) @ image_embedding_of(px_base))
        assert cos >= 0.92
        assert out.at[i, "image_id"] == pdf.at[i, "image_id"]
        assert out.at[i, "caption"] == pdf.at[i, "caption"]
        # stored phash is the re-render's own ahash (the from-pixels contract)
        assert out.at[i, "phash"] == int(
            spec.u64_to_i64(np.array([ahash64(px_new)]))[0]
        )
    untouched = set(range(len(out))) - set(planted)
    assert all(out.at[i, "bytes"] == pdf.at[i, "bytes"] for i in untouched)


def test_frame_sampling(spark):
    from simhash_spark.operators.multimodal import sample_frame_offsets

    vids = spark.createDataFrame(
        [("v1", 5000), ("v2", 500)], "video_id string, duration_ms long"
    )
    rows = sample_frame_offsets(vids, fps=1.0).collect()
    by_v = {}
    for r in rows:
        by_v.setdefault(r["video_id"], []).append((r["frame_idx"], r["ts_ms"]))
    assert sorted(by_v["v1"]) == [(i, i * 1000) for i in range(5)]
    assert by_v["v2"] == [(0, 0)]


# ------------------------------------------------------------- text near-dup


def test_text_near_dup_clusters_on_documents(spark, docs):
    from simhash_spark import spec
    from simhash_spark.config import DEFAULT_CONFIG as CFG
    from simhash_spark.plans.text_dedup import text_near_dup_clusters

    # plant an exact dup + a 1-token-edit variant of the longest doc; the
    # variant clusters iff its simhash is within the frozen Hamming radius —
    # assert consistency with the spec oracle, not a hardcoded outcome
    base_row = docs.orderBy(F.col("n_chars").desc()).limit(1).collect()[0]
    base, base_id = base_row["text"], str(base_row["doc_id"])
    toks = base.split()
    toks[len(toks) // 2] = "zzzz"
    edited = " ".join(toks)
    extra = spark.createDataFrame(
        [(80001, base, "en", "x", 1), (80002, edited, "en", "x", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    corpus = docs.unionByName(extra)
    clusters = {
        r["doc_id"]: r["cluster_id"]
        for r in text_near_dup_clusters(corpus, "doc_id", "text").collect()
    }
    assert len(clusters) == corpus.count()
    assert clusters["80001"] == clusters[base_id]  # exact dup always clusters
    h = int(
        spec.hamming64(
            np.array([spec.caption_fingerprint(base, CFG.shingle_k)["simhash"]]),
            np.array([spec.caption_fingerprint(edited, CFG.shingle_k)["simhash"]]),
        )[0]
    )
    if h <= CFG.hamming_radius:
        assert clusters["80002"] == clusters[base_id], f"hamming {h} but not clustered"
    else:
        assert clusters["80002"] != clusters[base_id], f"hamming {h} but clustered"


def test_ivf_topk_recall(spark, emb):
    """IVF with nprobe=4 of 16 lists recovers most of the exact top-5 even
    on the near-orthogonal corpus; planted near-dups are always found."""
    from simhash_spark.operators.ann import cosine_topk, ivf_fit, ivf_topk

    cent = ivf_fit(emb, n_centroids=16, n_iter=8)
    queries = emb.where(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"]) for r in cosine_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(emb, queries, cent, k=5, nprobe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"IVF top-5 recall {recall:.3f} too low"


def test_ivf_finds_planted_neighbors(spark, emb_with_dups):
    from simhash_spark.operators.ann import ivf_fit, ivf_topk

    cent = ivf_fit(emb_with_dups, n_centroids=16, n_iter=8)
    queries = emb_with_dups.where(F.col("vec_id") >= 10000)
    got = {
        r["query_id"]: r["neighbor_id"]
        for r in ivf_topk(emb_with_dups, queries, cent, k=1, nprobe=2).collect()
    }
    hits = sum(1 for q, n in got.items() if n == q - 10000)
    assert hits >= 38, f"only {hits}/40 planted neighbors found (same-list guarantee)"


def test_wav_roundtrip_and_audio_quarantine(spark):
    """PCM16 WAV encode->decode roundtrip is sample-exact (within the 16-bit
    quantization), and unsupported codecs / null payloads quarantine per row
    without failing the job."""
    import numpy as np

    from simhash_spark.operators.multimodal import (
        audio_features,
        decode_pcm_wav,
        encode_pcm_wav,
    )
    from simhash_spark.sources.fixtures import AUDIO_HINT_SCHEMA, make_audio_pdf

    rng = np.random.default_rng(5)
    samples = rng.uniform(-0.9, 0.9, size=(4000, 2))
    data = encode_pcm_wav(samples, 16000)
    decoded, rate = decode_pcm_wav(data)
    assert rate == 16000 and decoded.shape == (4000, 2)
    assert np.max(np.abs(decoded - samples)) <= 1.5 / 32768.0

    pdf = make_audio_pdf(40, seed=11)
    out = audio_features(
        spark.createDataFrame(pdf, schema=AUDIO_HINT_SCHEMA)
    ).collect()
    by_id = {r["audio_id"]: r for r in out}
    assert len(by_id) == 40
    for _, row in pdf.iterrows():
        r = by_id[row["audio_id"]]
        if row["fmt"] == "wav" and row["bytes"] is not None:
            assert r["error"] is None and r["duration_ms"] > 0 and r["sample_rate"] > 0
        else:
            assert r["error"] is not None and r["sample_rate"] == 0


def test_near_dup_keep_best_rule(spark):
    """keep = argmax score per cluster, ties -> min id; exactly one kept
    member per cluster; singletons keep themselves."""
    from simhash_spark.operators.dedup import near_dup_keep_best

    clusters = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x"), ("solo", "solo")],
        "doc_id string, cluster_id string",
    )
    scores = spark.createDataFrame(
        [("a", 10), ("b", 99), ("c", 99), ("x", 5), ("y", 5), ("solo", 1)],
        "doc_id string, quality long",
    )
    rows = {
        r["doc_id"]: (r["keep_id"], r["is_kept"])
        for r in near_dup_keep_best(clusters, scores, score_col="quality").collect()
    }
    # cluster a: scores b=c=99 tie -> min id 'b' wins
    assert rows["a"] == ("b", 0) and rows["b"] == ("b", 1) and rows["c"] == ("b", 0)
    # cluster x: tie at 5 -> 'x'
    assert rows["x"] == ("x", 1) and rows["y"] == ("x", 0)
    assert rows["solo"] == ("solo", 1)


def test_quality_filter_rule_order_and_plan(spark, docs):
    """First-violated-rule semantics on hand-built docs + a zero-shuffle
    plan; the sf corpus must split non-trivially (several reasons present)."""
    from simhash_spark.operators.textops import quality_filter

    rows = [
        # violates too_few_tokens AND few_stopwords -> earliest rule wins
        (1, "xx yy"),
        # 25 distinct alnum-poor tokens -> low_alnum_ratio fires first
        (2, " ".join(f"!!{i}!!" for i in range(25))),
        # long word repeated heavily (alnum/stopword rules stay green:
        # 9-char tokens keep alnum_ratio ~0.89, 'the'/'and' give stop hits)
        # -> dup_tokens
        (3, "the cat and " + "somewhat " * 19 + "somewhat"),
        # healthy sentence padded to >= 20 tokens
        (4, "the quick brown fox jumps over a lazy dog and then it "
            "runs far away to the old mill by the river bank"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: (r["keep"], r["reason"]) for r in quality_filter(df).collect()}
    assert got[1] == (0, "too_few_tokens")
    assert got[2] == (0, "low_alnum_ratio")
    assert got[3] == (0, "dup_tokens")
    assert got[4] == (1, "ok")

    out = quality_filter(docs, "text").select("doc_id", "keep", "reason")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure projection, pipelines in the scan
    reasons = {r["reason"] for r in out.collect()}
    assert "ok" in reasons and len(reasons) >= 3, reasons


def test_srp_range_subset_and_recall(spark, emb_with_dups):
    """srp_range precision is exact (approx pairs are a subset of the exact
    range result) and recall on genuine near-dups (cosine >= 0.95) with the
    8x8 multi-probe config is near-total — the same collision bound the
    near-dup LSH recall test derives (~0.9998 per pair at p ~ 0.9)."""
    from simhash_spark.operators.ann import cosine_range, srp_range

    thr = 0.95
    queries = emb_with_dups.where(F.col("vec_id") < 40)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_range(emb_with_dups, queries, threshold=thr).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in srp_range(
            emb_with_dups, queries, threshold=thr, n_planes=8, n_tables=8
        ).collect()
    }
    assert approx <= exact
    recall = len(approx & exact) / max(1, len(exact))
    assert recall >= 0.9, f"srp_range recall {recall:.3f}"
    assert len(exact) >= 35  # the planted near-dups are in range


# ------------------------------------------------- image search + curation


def test_phash_search_is_exact_hamming_ball(spark):
    """phash_search == numpy brute force (both directions): the pigeonhole
    index at radius <= n_blocks-1 has recall 1.0 and the native popcount
    filter precision 1.0, so the operator IS the Hamming ball."""
    from simhash_spark import spec
    from simhash_spark.operators.search import phash_search
    from simhash_spark.sources.fixtures import INPUT_HINT_SCHEMA, make_images_pdf

    pdf = make_images_pdf(400, seed=11, with_bytes=False)
    src = spark.createDataFrame(pdf, schema=INPUT_HINT_SCHEMA)
    probes = src.limit(30).select(F.col("image_id").alias("probe_id"), "phash")
    got = {
        (r["probe_id"], r["image_id"], r["dist"])
        for r in phash_search(src, probes, radius=3, n_blocks=4).collect()
    }
    ph = spec.i64_to_u64(pdf["phash"].to_numpy(np.int64))
    ids = pdf["image_id"].tolist()
    want = set()
    for i in range(30):
        d = spec.popcount64(ph[i] ^ ph)
        for j in np.nonzero(d <= 3)[0]:
            want.add((ids[i], ids[int(j)], int(d[j])))
    assert got == want
    assert any(dist > 0 and a != b for a, b, dist in got)  # non-self matches exist


def test_phash_search_plan_broadcasts_probes(spark):
    """Corpus scanned once, probe keys broadcast, one pair-dedup exchange —
    the 10^12-corpus shape: no corpus-side shuffle before the join."""
    from simhash_spark.operators.search import phash_search
    from simhash_spark.sources.fixtures import INPUT_HINT_SCHEMA, make_images_pdf

    src = spark.createDataFrame(
        make_images_pdf(200, seed=11, with_bytes=False), schema=INPUT_HINT_SCHEMA
    )
    probes = src.limit(5).select(F.col("image_id").alias("probe_id"), "phash")
    plan = (
        phash_search(src, probes, radius=3, n_blocks=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    n_hash_ex = plan.count("Exchange hashpartitioning")
    assert n_hash_ex == 1, f"expected 1 pair-dedup exchange, saw {n_hash_ex}:\n{plan}"
    assert "PythonUDF" not in plan  # fully native keys + popcount


def test_phash_search_null_hash_rows_dropped(spark):
    from simhash_spark.operators.search import phash_search

    src = spark.createDataFrame(
        [("a", 5), ("b", None), ("c", 5)], "image_id string, phash long"
    )
    probes = spark.createDataFrame([("p", 5), ("q", None)], "probe_id string, phash long")
    got = {(r["probe_id"], r["image_id"]) for r in phash_search(src, probes).collect()}
    assert got == {("p", "a"), ("p", "c")}


def test_image_quality_filter_rule_order_and_plan(spark):
    """Each rule fires on a constructed row; earlier rules shadow later ones
    (frozen order); the whole operator is a zero-shuffle projection."""
    from simhash_spark.operators.search import image_quality_filter

    rows = [
        # (id, w, h, caption) — captions sized against min 10 / max 50 tokens
        ("ok", 64, 64, " ".join(f"t{i}" for i in range(20))),
        ("too_small", 32, 32, " ".join(f"t{i}" for i in range(20))),
        # 32*64 = 2048 pixels passes size, 2*64 > 3*32 fails aspect
        ("extreme_aspect", 32, 64, " ".join(f"t{i}" for i in range(20))),
        ("caption_too_short", 64, 64, "just five small words here"),
        ("caption_too_long", 64, 64, " ".join(f"t{i}" for i in range(60))),
        ("caption_not_text", 64, 64, " ".join(["!!??.." ] * 15)),
        # order: too_small shadows the caption violation
        ("shadowed", 32, 32, "short"),
        ("empty_caption", 64, 64, ""),
        ("null_caption", 64, 64, None),
        # boundary exactness: 48x32 aspect is exactly 1.5 (2*48 == 3*32) -> pass
        ("boundary_aspect", 48, 32, " ".join(f"t{i}" for i in range(20))),
        # boundary: 32*48 = 1536 pixels -> pass
        ("boundary_pixels", 48, 32, " ".join(f"t{i}" for i in range(20))),
    ]
    src = spark.createDataFrame(
        [(i, w, h, c, None) for i, w, h, c in rows],
        "image_id string, w int, h int, caption string, phash long",
    )
    out = image_quality_filter(src)
    got = {r["image_id"]: (r["keep"], r["reason"]) for r in out.collect()}
    assert got["ok"] == (1, "ok")
    assert got["too_small"] == (0, "too_small")
    assert got["extreme_aspect"] == (0, "extreme_aspect")
    assert got["caption_too_short"] == (0, "caption_too_short")
    assert got["caption_too_long"] == (0, "caption_too_long")
    assert got["caption_not_text"] == (0, "caption_not_text")
    assert got["shadowed"] == (0, "too_small")
    assert got["empty_caption"] == (0, "caption_too_short")
    assert got["null_caption"] == (0, "caption_too_short")
    assert got["boundary_aspect"] == (1, "ok")
    assert got["boundary_pixels"] == (1, "ok")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "PythonUDF" not in plan


def test_caption_pixel_alignment_rules_and_plan(spark):
    """Frozen cross-modal alignment rules on constructed rows: exact cosine
    on proportional vectors, rule order (pixel absence beats a present
    caption claim), the zero-norm and quarantine branches, lowercase token
    counting with the 1023-token slice bound, and the zero-exchange plan.
    Every row's color count equals the python mirror's tokenizer, including
    leading separators, tabs and NBSP (not a separator)."""
    import numpy as np
    from mirror import alignment_tokens

    from simhash_spark.operators.multimodal import ALIGNMENT_PALETTE, caption_pixel_alignment

    def ppm(r, g, b, w=8, h=8):
        px = np.zeros((h, w, 3), np.uint8)
        px[:, :] = (r, g, b)
        return f"P6\n{w} {h}\n255\n".encode() + px.tobytes()

    filler = " ".join(f"t{i}" for i in range(1030))
    rows = [
        ("exact_red", ppm(255, 0, 0), "ppm", "a mostly red thing"),
        ("wrong_color", ppm(255, 0, 0), "ppm", "a mostly green thing"),
        ("no_claim", ppm(255, 0, 0), "ppm", "no palette words here"),
        ("null_bytes", None, "ppm", "claims red anyway"),
        ("bad_codec", ppm(255, 0, 0), "png", "claims red anyway"),
        ("zero_norm", ppm(0, 0, 0), "ppm", "claims blue anyway"),
        ("multi", ppm(255, 64, 0), "ppm", "red RED green"),
        ("sliced", ppm(255, 0, 0), "ppm", filler + " red"),
        ("ws_edges", ppm(255, 0, 0), "ppm", "  \tred\tgreen\u00a0blue red\u00a0 "),
        # the leading separator's empty token pushes 'red' to token 1024
        ("ws_slice", ppm(255, 0, 0), "ppm", " " + " ".join(["x"] * 1022) + " red"),
    ]
    src = spark.createDataFrame(
        [(i, d, 8, 8, f, c, 0) for i, d, f, c in rows],
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long",
    )
    out = caption_pixel_alignment(src, tau_bp=8500)
    got = {
        r["image_id"]: (r["align_bp"], r["n_color"], r["keep"], r["reason"])
        for r in out.collect()
    }
    # proportional vectors -> cosine exactly 1.0 -> floor(10000.0) = 10000
    assert got["exact_red"] == (10000, 1, 1, "ok")
    # orthogonal -> cosine 0 -> misaligned, keep 0
    assert got["wrong_color"] == (0, 1, 0, "misaligned")
    assert got["no_claim"] == (None, 0, 1, "no_caption_signal")
    # rule ORDER: pixel absence wins although the caption claims a color
    assert got["null_bytes"] == (None, 1, 1, "no_pixel_signal")
    assert got["bad_codec"] == (None, 1, 1, "no_pixel_signal")
    assert got["zero_norm"] == (None, 1, 1, "no_pixel_signal")
    # lowercase token counting: 'red' x2 + 'green' -> caption vec (510,255,0)
    # vs pixel (255,64,0)*64: cos = (510*255+255*64)/(sqrt(255^2+64^2)*
    # sqrt(510^2+255^2)) = 0.9764 -> inside tau
    bp, n_color, keep, reason = got["multi"]
    assert (n_color, keep, reason) == (3, 1, "ok") and 9700 < bp < 9800
    # the 1023-token slice bound: a color word past it never counts
    assert got["sliced"] == (None, 0, 1, "no_caption_signal")
    # ASCII-whitespace split: only the tab-delimited 'red' is a color token
    assert got["ws_edges"] == (10000, 1, 1, "ok")
    assert got["ws_slice"] == (None, 0, 1, "no_caption_signal")
    for iid, _, _, cap in rows:
        toks = alignment_tokens(cap)
        assert got[iid][1] == sum(toks.count(n) for n, _ in ALIGNMENT_PALETTE), iid
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_plant_alignment_tints_structure():
    """The alignment fixture's planted ground truth: tinted rows claim their
    own tint color except every 4th (mismatch), untinted captions carry no
    palette words, and the three special rows exercise the absent/degenerate
    pixel branches."""
    import numpy as np

    from simhash_spark.operators.multimodal import (
        ALIGNMENT_PALETTE,
        decode_rgb,
    )
    from simhash_spark.sources.fixtures import make_images_pdf, plant_alignment_tints

    base = make_images_pdf(60, seed=42, with_bytes=True)
    out = plant_alignment_tints(base)
    names = {n for n, _ in ALIGNMENT_PALETTE}
    anchors = dict(ALIGNMENT_PALETTE)
    n_match = n_mismatch = 0
    for i in range(len(out)):
        cap = out.at[i, "caption"]
        toks = set(cap.lower().split())
        claimed = toks & names
        if i == 1:
            assert out.at[i, "bytes"] is None and claimed == {"red"}
        elif i == 2:
            assert out.at[i, "fmt"] == "png" and claimed == {"green"}
        elif i == 4:
            px = decode_rgb(bytes(out.at[i, "bytes"]), "ppm")
            assert int(px.sum()) == 0 and claimed == {"blue"}
        elif i % 3 == 0 and out.at[i, "bytes"] is not None:
            assert len(claimed) == 1, f"tinted row {i} must claim exactly one color"
            word = claimed.pop()
            px = decode_rgb(bytes(out.at[i, "bytes"]), "ppm").astype(np.float64)
            mean = px.reshape(-1, 3).mean(axis=0)
            # the dominant palette direction of the TINT
            best = max(
                anchors,
                key=lambda n: float(mean @ np.array(anchors[n], float))
                / (np.linalg.norm(mean) * np.linalg.norm(anchors[n])),
            )
            if word == best:
                n_match += 1
            else:
                n_mismatch += 1
            # caption text (sans suffix) must be untouched
            assert cap.rsplit(" mostly ", 1)[0] == base.at[i, "caption"]
        else:
            assert not claimed, f"untinted row {i} caption gained a palette word"
    assert n_match > 0 and n_mismatch > 0
    # stored phash stays the from-pixels contract on tinted rows
    from simhash_spark.operators.multimodal import ahash64
    from simhash_spark import spec

    i = next(
        j for j in range(0, len(out), 3)
        if j not in (1, 2, 4) and out.at[j, "bytes"] is not None
    )
    px = decode_rgb(bytes(out.at[i, "bytes"]), "ppm")
    assert int(spec.u64_to_i64(np.array([ahash64(px)]))[0]) == out.at[i, "phash"]


def test_dedup_eval_counts(spark):
    """Counts + basis-point ratios on a hand-checkable case: clusters
    {a,b,c},{d,e},{f}; truth edges (a,b),(b,c),(d,e),(d,x). Pred closure =
    ab,ac,bc,de (4); hits = ab,bc,de (3); truth = 4 (d,x missed)."""
    from simhash_spark.operators.dedup import dedup_eval

    clusters = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "a"), ("d", "d"), ("e", "d"), ("f", "f")],
        "image_id string, cluster_id string",
    )
    truth = spark.createDataFrame(
        [("a", "b"), ("c", "b"), ("d", "e"), ("x", "d")], "a string, b string"
    )
    row = dedup_eval(clusters, truth).collect()[0]
    assert (row["n_truth"], row["n_pred"], row["n_hit"]) == (4, 4, 3)
    assert row["recall_bp"] == 7500 and row["precision_bp"] == 7500


def test_dedup_eval_giant_cluster_guard(spark):
    """A 10^4+1-member cluster must fail LOUDLY (its self-join alone is
    ~5x10^7 rows) unless the caller opts into the deterministic member
    sample — which must bound predicted pairs near C(cap,2) instead of
    materializing the full closure (r4 verdict #2)."""
    import pytest

    from simhash_spark.operators.dedup import dedup_eval

    n = 10_001
    giant = spark.range(n).select(
        F.concat(F.lit("m"), F.col("id")).alias("image_id"), F.lit("g").alias("cluster_id")
    )
    truth = spark.createDataFrame([("m0", "m1")], "a string, b string")
    # the guard is IN-PLAN (raise_error on the member rows): construction
    # stays lazy — no hidden probe job, the upstream lineage runs once —
    # and the error fires at evaluation, before the pair join materializes
    guarded = dedup_eval(giant, truth)  # must NOT raise (lazy)
    with pytest.raises(Exception, match="max_cluster_size"):
        guarded.collect()

    # tight cap + sampling: pairs bounded by ~C(cap, 2), not C(n, 2)
    row = dedup_eval(giant, truth, max_cluster_size=100, sample_oversized=True).collect()[0]
    assert 0 < row["n_pred"] < 200 * 199 // 2  # << 5e7; ~C(100,2) expected
    # determinism of the md5 member rule
    row2 = dedup_eval(giant, truth, max_cluster_size=100, sample_oversized=True).collect()[0]
    assert row["n_pred"] == row2["n_pred"]

    # guard off: small clusters unaffected (the hand-checkable case again)
    clusters = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "a")], "image_id string, cluster_id string"
    )
    t2 = spark.createDataFrame([("a", "b")], "a string, b string")
    assert dedup_eval(clusters, t2, max_cluster_size=None).collect()[0]["n_pred"] == 3


def test_sample_weights_floor_keeps_megacluster_mass(spark):
    """weight_bp floors at 1: a >10000-member cluster keeps every row
    minimally sampleable instead of zeroing its whole mass (ADVICE r4)."""
    from simhash_spark.operators.dedup import near_dup_sample_weights

    n = 10_050
    giant = spark.range(n).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"), F.lit("g").alias("cluster_id")
    )
    out = near_dup_sample_weights(giant)
    rows = out.select("weight_bp").distinct().collect()
    assert [r["weight_bp"] for r in rows] == [1]


def test_dedup_eval_full_pipeline_meets_recall_gate(spark):
    """The driver query's composition hits the BASELINE gate: recall_bp ==
    10000 on the fixture (the pipeline is exact there), precision < 10000
    only via closure pairs."""
    import __spark_entry__ as entry

    row = entry.queries()["dedup_truth_eval"](spark, SF).collect()[0]
    assert row["recall_bp"] == 10000, row
    assert row["n_hit"] == row["n_truth"] > 0
    assert row["n_pred"] >= row["n_hit"]


def test_ngram_containment_catches_inclusion_jaccard_misses(spark):
    """A short doc quoted verbatim inside a much longer one: containment = 1
    but jaccard is tiny — the asymmetric pair only the containment measure
    surfaces; contained_id points at the smaller side."""
    from simhash_spark.operators.dedup import ngram_containment_pairs, ngram_jaccard_pairs

    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"x{i}" for i in range(200))
    rows = [(1, short), (2, f"{filler} {short} {filler}"), (3, "totally unrelated words here")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    cont = {
        (r["a"], r["b"]): r
        for r in ngram_containment_pairs(df, "doc_id", "text", n=3, threshold=0.9).collect()
    }
    assert (1, 2) in cont and cont[(1, 2)]["contained_id"] == 1
    assert cont[(1, 2)]["n_shared"] == cont[(1, 2)]["n_a"]  # full inclusion
    jac = ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.5).collect()
    assert not jac  # jaccard ~ 4/400 — invisible at any sane threshold


def test_ivf_range_subset_and_recall(spark, emb_with_dups):
    """ivf_range precision is exact (subset of the exact range result) and
    recall on genuine near-dups (cosine >= 0.95) is high at nprobe=4/16:
    a vector's near-identical copy nearly always shares its top probed
    lists (same argument the ivf_topk recall test makes)."""
    from simhash_spark.operators.ann import cosine_range, ivf_fit, ivf_range

    thr = 0.95
    cent = ivf_fit(emb_with_dups, n_centroids=16, n_iter=8)
    queries = emb_with_dups.where(F.col("vec_id") < 40)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_range(emb_with_dups, queries, threshold=thr).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_range(emb_with_dups, queries, cent, threshold=thr, nprobe=4).collect()
    }
    assert approx <= exact
    recall = len(approx & exact) / max(1, len(exact))
    assert recall >= 0.9, f"ivf_range recall {recall:.3f}"


def test_substring_run_report_exact_lengths(spark):
    """Constructed docs with a planted shared run of KNOWN length: the
    report returns exactly that length (normalization is lowercase+NFKC —
    the planted run is ascii-lowercase so lengths carry through); pairs
    below min_len don't appear; the report is a strict refinement of
    substring_pairs."""
    from simhash_spark.config import DEFAULT_CONFIG as CFG
    from simhash_spark.operators.substring import substring_pairs, substring_run_report

    L = CFG.substr_min_len
    run = "q" + "xyzab" * ((L + 14) // 5)   # length >= L+10, exact known len
    run = run[: L + 10]
    filler1 = " ".join(f"mm{i}nn" for i in range(40))
    filler2 = " ".join(f"pp{i}qq" for i in range(40))
    # the shared run includes the single spaces flanking the planted text
    # (normalization keeps them), so "below threshold" must account for +2
    short_run = "r" * (L - 10)              # " r..r " = L-8 < L
    rows = [
        ("d1", f"{filler1} {run} {filler1}"),
        ("d2", f"{filler2} {run} {filler2}"),
        ("d3", f"nope {short_run} nope"),
        ("d4", f"also {short_run} also"),
    ]
    df = spark.createDataFrame(rows, "image_id string, caption string")
    rep = {(r["a"], r["b"]): r["run_len"] for r in substring_run_report(df, CFG).collect()}
    pairs = {(r["a"], r["b"]) for r in substring_pairs(df, CFG).collect()}
    assert set(rep) == pairs  # strict refinement: same pair set
    assert ("d1", "d2") in rep
    # the shared run includes the spaces around `run` on both sides? No —
    # fillers differ, so the maximal shared run is exactly " run " padded by
    # the single spaces common to both templates
    assert rep[("d1", "d2")] == len(run) + 2
    assert ("d3", "d4") not in rep


def test_image_quality_filter_null_dims_fail_closed(spark):
    """A row with null w/h must FAIL the resolution floor, not silently pass
    every geometry rule (a null condition is false inside when(), so without
    the coalesce a metadata-less row would sail through)."""
    from simhash_spark.operators.search import image_quality_filter

    src = spark.createDataFrame(
        [("nullw", None, 64, " ".join(f"t{i}" for i in range(20)), None),
         ("nullh", 64, None, " ".join(f"t{i}" for i in range(20)), None),
         ("fine", 64, 64, " ".join(f"t{i}" for i in range(20)), None)],
        "image_id string, w int, h int, caption string, phash long",
    )
    got = {r["image_id"]: r["reason"] for r in image_quality_filter(src).collect()}
    assert got == {"nullw": "too_small", "nullh": "too_small", "fine": "ok"}


def test_containment_dominates_jaccard_everywhere(spark, docs):
    """Algebraic invariant over the real corpus: for every co-shingled pair,
    jaccard <= containment <= 1 and n_shared <= min(n_a, n_b) — containment
    uses the smaller denominator, so any pair surviving a jaccard threshold
    survives the same containment threshold."""
    from simhash_spark.operators.dedup import _ngram_shared_counts

    rows = _ngram_shared_counts(docs, "doc_id", "text", 3, 2**31).collect()
    assert rows
    for r in rows:
        mn = min(r["n_a"], r["n_b"])
        assert 0 < r["n_shared"] <= mn
        jac = r["n_shared"] / (r["n_a"] + r["n_b"] - r["n_shared"])
        con = r["n_shared"] / mn
        assert jac <= con <= 1.0


def test_assign_splits_is_cluster_atomic_and_deterministic(spark, docs):
    """Leakage-safe splitting: every cluster lands in exactly one split, so
    no VERIFIED near-dup pair straddles a train/eval boundary; the rule is
    content-stable (rerun-identical) and covers every doc."""
    from simhash_spark.operators.curation import assign_splits
    from simhash_spark.plans.text_dedup import text_near_dup_clusters, text_near_dup_pairs

    clusters = text_near_dup_clusters(docs, "doc_id", "text").cache()
    out = assign_splits(clusters).collect()
    assert len(out) == docs.count()
    split_of = {r["doc_id"]: r["split"] for r in out}
    by_cluster: dict[str, set[str]] = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_cluster.values()), "cluster straddles splits"
    # zero leakage on the exact pair set the verifier accepted
    for p in text_near_dup_pairs(docs, "doc_id", "text").collect():
        assert split_of[p["a"]] == split_of[p["b"]], f"pair {p['a']},{p['b']} leaks"
    rerun = {r["doc_id"]: r["split"] for r in assign_splits(clusters).collect()}
    assert rerun == split_of
    clusters.unpersist()


def test_assign_splits_fractions_and_validation(spark):
    """md5 uniformity: over many singleton clusters the split sizes track
    the requested fractions (in clusters — the unit the rule draws on)."""
    from simhash_spark.operators.curation import assign_splits

    n = 5000
    labels = spark.createDataFrame(
        [(f"d{i}", f"d{i}") for i in range(n)], "doc_id string, cluster_id string"
    )
    got = assign_splits(labels, fractions={"train": 0.8, "val": 0.1}).groupBy(
        "split"
    ).count()
    counts = {r["split"]: r["count"] for r in got.collect()}
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / n - 0.8) < 0.03
    assert abs(counts["val"] / n - 0.1) < 0.02
    with pytest.raises(ValueError):
        assign_splits(labels, fractions={"train": 0.9, "val": 0.2})
    with pytest.raises(ValueError):
        assign_splits(labels, fractions={})


def test_pair_distance_histogram_mass_accounting(spark, docs):
    """The histogram partitions the candidate set: sum(n_pairs) == number of
    candidate pairs, accepted mass == the verifier's accepted pair count,
    and accepted == (hamming <= radius) row-wise."""
    from simhash_spark.config import DEFAULT_CONFIG as CFG
    from simhash_spark.operators.verify import pair_distance_histogram, verify_pairs
    from simhash_spark.plans.text_dedup import text_candidates, text_fingerprints

    fp = text_fingerprints(docs, "doc_id", "text").cache()
    cand = text_candidates(fp, CFG).cache()
    hist = pair_distance_histogram(cand, fp, CFG).collect()
    assert sum(r["n_pairs"] for r in hist) == cand.count()
    for r in hist:
        assert r["accepted"] == int(r["hamming"] <= CFG.hamming_radius)
    accepted_mass = sum(r["n_pairs"] for r in hist if r["accepted"])
    assert accepted_mass == verify_pairs(cand, fp, CFG, use_phash=False).count()
    cand.unpersist()
    fp.unpersist()


def test_bucket_size_histogram_mass_accounting(spark, docs):
    """The histogram partitions the key table: per src, sum(size * n_buckets)
    equals that src's key-row count, and the >1-size mass agrees with
    bucket_stats_packed's n_colliding / max_bucket summary."""
    from mirror import bucket_stats_packed

    from simhash_spark.config import DEFAULT_CONFIG as CFG
    from simhash_spark.operators.candidates import (
        bucket_size_histogram,
        explode_all_keys,
        src_code,
    )
    from simhash_spark.plans.text_dedup import text_fingerprints

    fp = text_fingerprints(docs, "doc_id", "text").cache()
    packed = explode_all_keys(fp, CFG, include_phash=False).cache()
    hist = bucket_size_histogram(packed).collect()
    decode = (
        F.when(src_code() == 1, "minhash_lsh")
        .when(src_code() == 2, "simhash_rot")
        .otherwise("other")
    )
    key_rows = {
        r["src"]: r["n"]
        for r in packed.groupBy(decode.alias("src")).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    summary = {r["src"]: r.asDict() for r in bucket_stats_packed(packed).collect()}
    srcs = {r["src"] for r in hist}
    assert srcs == {"minhash_lsh", "simhash_rot"}
    for src in srcs:
        rows = [r for r in hist if r["src"] == src]
        assert sum(r["bucket_size"] * r["n_buckets"] for r in rows) == key_rows[src]
        assert sum(r["n_buckets"] for r in rows) == summary[src]["n_buckets"]
        assert max(r["bucket_size"] for r in rows) == summary[src]["max_bucket"]
        assert (
            sum(r["n_buckets"] for r in rows if r["bucket_size"] > 1)
            == summary[src]["n_colliding"]
        )
    packed.unpersist()
    fp.unpersist()


def test_phash_distance_histogram_mass_accounting(spark):
    """Image-axis analog of the simhash histogram test: over the flagship
    fixture's candidate set, the phash histogram partitions the candidates,
    accepted == (hamming <= phash_radius) row-wise, and the accepted mass
    equals the number of verified pairs the phash criterion establishes."""
    from simhash_spark.config import DEFAULT_CONFIG as CFG
    from simhash_spark.operators.verify import pair_distance_histogram, verify_pairs
    from simhash_spark.plans.pipeline import candidate_job, fingerprint_job
    from simhash_spark.sources.fixtures import INPUT_HINT_SCHEMA, make_images_pdf

    src = spark.createDataFrame(
        make_images_pdf(300, seed=42, with_bytes=False), schema=INPUT_HINT_SCHEMA
    )
    fp = fingerprint_job(spark, src, CFG).cache()
    cand = candidate_job(fp, CFG).cache()
    hist = pair_distance_histogram(
        cand, fp, CFG, col="phash", radius=CFG.phash_radius
    ).collect()
    assert sum(r["n_pairs"] for r in hist) == cand.count()
    for r in hist:
        assert r["accepted"] == int(r["hamming"] <= CFG.phash_radius)
    accepted_mass = sum(r["n_pairs"] for r in hist if r["accepted"])
    ver = verify_pairs(cand, fp, CFG)
    assert accepted_mass == ver.where(
        (F.col("hamming_phash") >= 0) & (F.col("hamming_phash") <= CFG.phash_radius)
    ).count()
    cand.unpersist()
    fp.unpersist()


def test_minhash_est_eval_bounds_and_identical_docs(spark, docs):
    """Estimator sanity on real candidates + planted exact duplicates: bp
    values stay in [0, 10000]; an exact-duplicate pair measures 10000 on
    BOTH the estimate and the exact side; err_bp is their absolute gap."""
    from simhash_spark.operators.dedup import minhash_est_eval

    base_row = docs.orderBy(F.col("n_chars").desc()).limit(1).collect()[0]
    extra = spark.createDataFrame(
        [(90001, base_row["text"], "en", "x", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = minhash_est_eval(docs.unionByName(extra), "doc_id", "text").collect()
    assert rows
    by_pair = {}
    for r in rows:
        assert 0 <= r["est_bp"] <= 10000 and 0 <= r["exact_bp"] <= 10000
        assert r["err_bp"] == abs(r["est_bp"] - r["exact_bp"])
        by_pair[(r["a"], r["b"])] = r
    dup = by_pair[tuple(sorted((str(base_row["doc_id"]), "90001")))]
    assert dup["est_bp"] == 10000 and dup["exact_bp"] == 10000 and dup["err_bp"] == 0


def test_bpe_merge_stats_multiplicity_and_boundaries(spark):
    """Pairs are positional WITH multiplicity (the BPE merge count), <2-token
    docs contribute nothing, ranking boundary is (n_total DESC, pair ASC)."""
    from simhash_spark.operators.textops import bpe_merge_stats

    d = spark.createDataFrame(
        [
            (1, "a b a b a"),   # pairs: 'a b' x2, 'b a' x2
            (2, "a b"),         # 'a b' x1
            (3, "solo"),        # <2 tokens -> nothing
            (4, "   "),         # blank -> nothing
            (5, "b a"),         # 'b a' x1
        ],
        "doc_id long, text string",
    )
    rows = {r["pair"]: r for r in bpe_merge_stats(d, "text", "doc_id", top_k=10).collect()}
    assert set(rows) == {"a b", "b a"}
    assert rows["a b"]["n_total"] == 3 and rows["a b"]["n_docs"] == 2
    assert rows["b a"]["n_total"] == 3 and rows["b a"]["n_docs"] == 2
    # equal totals -> pair ASC breaks the tie deterministically
    ordered = bpe_merge_stats(d, "text", "doc_id", top_k=1).collect()
    assert ordered[0]["pair"] == "a b"


def test_token_pack_plan_offsets_and_pack_algebra(spark, docs):
    """Per-shard streams are gapless and start at 0; pack ids follow the
    frozen floor algebra; zero-token docs are excluded; shard = md5 prefix."""
    from simhash_spark.operators.curation import token_pack_plan

    ctx = 256
    out = token_pack_plan(docs, "doc_id", "text", ctx_len=ctx, shard_chars=1)
    pdf = out.toPandas()
    assert len(pdf) == docs.where(F.length(F.trim("text")) > 0).count()
    assert pdf["shard"].between(0, 15).all()
    for _, g in pdf.groupby("shard"):
        # re-derive the deterministic order and check the stream is gapless
        g = g.copy()
        g["h"] = g["key"].map(lambda k: hashlib.md5(str(k).encode()).hexdigest())
        g = g.sort_values(["h", "key"]).reset_index(drop=True)
        cum = 0
        for _, r in g.iterrows():
            assert r["start_offset"] == cum
            assert r["pack_first"] == cum // ctx
            assert r["pack_last"] == (cum + r["n_tokens"] - 1) // ctx
            assert int(r["shard"]) == int(r["h"][0], 16)
            cum += r["n_tokens"]
    # a doc longer than ctx spans multiple packs
    spans = pdf[pdf["n_tokens"] > ctx]
    if len(spans):
        assert (spans["pack_last"] > spans["pack_first"]).all()


def test_dedup_funnel_report_consistency(spark, docs):
    """Funnel invariants on the real sf0.001 pipeline + planted exact dups:
    verified <= candidates, kept = docs - (dup_docs - dup_clusters), exact
    extra counts the planted copies."""
    from simhash_spark.config import DEFAULT_CONFIG as CFG
    from simhash_spark.operators.dedup import dedup_funnel_report
    from simhash_spark.plans.text_dedup import (
        text_candidates,
        text_fingerprints,
        text_near_dup_clusters,
        text_near_dup_pairs,
    )

    dup = docs.limit(3).withColumn("doc_id", F.col("doc_id") + 100000)
    d = docs.unionByName(dup)
    fp = text_fingerprints(d, "doc_id", "text", CFG)
    rep = dedup_funnel_report(
        d,
        "doc_id",
        "text",
        text_candidates(fp, CFG),
        text_near_dup_pairs(d, "doc_id", "text", CFG),
        text_near_dup_clusters(d, "doc_id", "text", CFG),
    )
    m = {r["metric"]: r["value"] for r in rep.collect()}
    assert m["n_docs"] == docs.count() + 3
    assert m["n_exact_dup_extra"] == 3
    assert m["n_verified_pairs"] <= m["n_candidate_pairs"]
    # every planted copy is a verified near-dup of its source
    assert m["n_dup_docs"] >= 6 and m["n_dup_clusters"] >= 3
    assert m["n_kept_docs"] == m["n_docs"] - (m["n_dup_docs"] - m["n_dup_clusters"])
    assert [r["stage"] for r in rep.orderBy("stage").collect()] == list(range(1, 8))


def test_tfidf_top_terms_frozen_rule(spark):
    """Hand-computed TF-IDF on a 3-doc corpus: multiplicity tf, window df,
    raw-idf integer-division score, deterministic (score DESC, term ASC)
    rank boundary, top-k cut, blank docs excluded from N."""
    from simhash_spark.operators.textops import tfidf_top_terms

    d = spark.createDataFrame(
        [
            (1, "apple apple banana"),  # tf(apple)=2 tf(banana)=1
            (2, "apple cherry"),
            (3, "banana banana cherry"),
            (4, "   "),                 # blank: excluded from N entirely
        ],
        "doc_id long, text string",
    )
    rows = tfidf_top_terms(d, "doc_id", "text", top_k=2).collect()
    by = {(r["doc_id"], r["term"]): r for r in rows}
    # N=3; df: apple=2 banana=2 cherry=2
    r = by[(1, "apple")]
    assert (r["tf"], r["df"], r["score_bp"]) == (2, 2, 2 * 3 * 10000 // 2)
    r = by[(1, "banana")]
    assert (r["tf"], r["df"], r["score_bp"]) == (1, 2, 15000)
    # doc 2: apple and cherry tie at 15000 -> term ASC breaks: apple rnk 1
    assert by[(2, "apple")]["rnk"] == 1 and by[(2, "cherry")]["rnk"] == 2
    # top_k=2 keeps at most 2 rows/doc; blank doc contributes nothing
    assert all(r["rnk"] <= 2 for r in rows)
    assert not any(r["doc_id"] == 4 for r in rows)
    assert len([r for r in rows if r["doc_id"] == 3]) == 2


def test_image_mirror_bucketed_equals_dup_matrix():
    """Pure-numpy differential (no Spark): the bucketed image mirror's
    verified pair set must equal the brute-force all-pairs dup matrix —
    both pigeonhole indexes are complete for their radii, so any gap is a
    bucketing bug. This is the oracle behind image_dedup_funnel."""
    import numpy as np

    from mirror import image_kernel_mirror
    from simhash_spark import spec
    from simhash_spark.config import DEFAULT_CONFIG as CFG
    from simhash_spark.functions.udfs import fingerprint_batch
    from simhash_spark.sources.fixtures import make_images_pdf

    img = make_images_pdf(300, seed=42, with_bytes=False)
    m = image_kernel_mirror(img, CFG)

    ids = img["image_id"].astype(str).to_numpy(dtype=object)
    fb = fingerprint_batch(img["caption"].reset_index(drop=True), CFG, emit_minhash=False)
    sim = spec.i64_to_u64(fb["simhash"].to_numpy(np.int64))
    nsh = fb["n_shingles"].to_numpy(np.int32)
    ph = spec.i64_to_u64(img["phash"].to_numpy(np.int64))
    dc = spec.popcount64(sim[:, None] ^ sim[None, :])
    dp = spec.popcount64(ph[:, None] ^ ph[None, :])
    has2 = (nsh > 0)[:, None] & (nsh > 0)[None, :]
    dup = ((dc <= CFG.hamming_radius) & has2) | (dp <= CFG.phash_radius)
    brute = {
        tuple(sorted((ids[x], ids[y]))) for x, y in zip(*np.nonzero(np.triu(dup, 1)))
    }
    assert set(m["verified"]) == brute
    assert brute <= set(m["candidates"])  # verify only ever filters


def test_token_pack_stats_conservation(spark, docs):
    """Pack algebra invariants on the sf0.001 corpus: token mass is
    conserved (sum over packs == sum over docs), every non-tail pack holds
    exactly ctx_len tokens, each shard's tail pack holds the remainder."""
    from simhash_spark.operators.curation import token_pack_plan, token_pack_stats

    ctx = 256
    plan = token_pack_plan(docs, "doc_id", "text", ctx_len=ctx, shard_chars=1).toPandas()
    stats = token_pack_stats(docs, "doc_id", "text", ctx_len=ctx, shard_chars=1).toPandas()
    assert stats["n_tokens"].sum() == plan["n_tokens"].sum()
    for shard, g in stats.groupby("shard"):
        total = plan[plan["shard"] == shard]["n_tokens"].sum()
        g = g.sort_values("pack_id").reset_index(drop=True)
        assert list(g["pack_id"]) == list(range(len(g)))  # gapless pack ids
        assert (g["n_tokens"][:-1] == ctx).all()
        tail = total - ctx * (len(g) - 1)
        assert g["n_tokens"].iloc[-1] == tail and 0 < tail <= ctx
    assert (stats["n_docs"] >= 1).all()


def test_ngram_near_dup_clusters_transitivity_and_singletons(spark):
    """A transitive chain a~b~c (a and c NOT directly similar) collapses to
    one cluster labeled by the min string id; dissimilar and blank docs are
    singletons labeled by themselves."""
    from simhash_spark.operators.dedup import ngram_jaccard_pairs, ngram_near_dup_clusters

    d = spark.createDataFrame(
        [
            (1, "w1 w2 w3 w4 w5 w6 w7 w8"),
            (2, "w1 w2 w3 w4 w5 x1 x2 x3"),      # shares half with 1 and 3
            (3, "x1 x2 x3 w3 w4 w5 y1 y2 y3"),
            (9, "z1 z2 z3 z4 z5 z6 z7 z8"),      # dissimilar
            (10, "   "),                          # blank -> singleton
        ],
        "doc_id long, text string",
    )
    pairs = {(r["a"], r["b"]) for r in
             ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.15).collect()}
    assert (1, 2) in pairs and (2, 3) in pairs and (1, 3) not in pairs
    labels = {r["doc_id"]: r["cluster_id"] for r in
              ngram_near_dup_clusters(d, "doc_id", "text", n=3, threshold=0.15).collect()}
    assert labels["1"] == labels["2"] == labels["3"] == "1"  # transitive, min id
    assert labels["9"] == "9" and labels["10"] == "10"
    assert len(labels) == 5


def test_image_exact_dup_bytes_groups_planted_reuploads(spark):
    """Byte-exact image dedup over the planted re-upload fixture: every
    planted row groups with its canonical (same md5, keep_id = min id =
    the canonical), masses conserve, and Spark's md5-over-binary equals an
    independent hashlib pass."""
    from simhash_spark.operators.dedup import exact_dedup_groups
    from simhash_spark.sources.fixtures import (
        INPUT_HINT_SCHEMA,
        make_images_pdf,
        plant_byte_reuploads,
    )

    pdf = plant_byte_reuploads(make_images_pdf(100, seed=42, with_bytes=True))
    src = spark.createDataFrame(pdf, schema=INPUT_HINT_SCHEMA)
    got = exact_dedup_groups(src, "image_id", "bytes").toPandas()

    # independent python recomputation (same as tests/gen_expected.py)
    groups: dict[str, list[str]] = {}
    for iid, data in zip(pdf["image_id"], pdf["bytes"]):
        groups.setdefault(hashlib.md5(bytes(data)).hexdigest(), []).append(str(iid))
    assert got["n_copies"].sum() == 100
    by_hash = {r.content_hash: (r.n_copies, r.keep_id) for r in got.itertuples()}
    assert by_hash == {h: (len(v), min(v)) for h, v in groups.items()}
    # the planted rule itself: i % 7 == 3 re-uploads row i-3 byte-for-byte
    for i in range(3, 100, 7):
        a, b = f"img{i - 3:09d}", f"img{i:09d}"
        h = hashlib.md5(bytes(pdf["bytes"].iloc[i])).hexdigest()
        assert by_hash[h][0] >= 2 and by_hash[h][1] <= a < b


def test_pair_distance_histogram_excludes_null_hash_pairs(spark):
    """A candidate pair with a NULL fingerprint on either side (decode-
    quarantined row that still became a candidate via the caption indexes)
    must NOT emit a NULL-hamming bucket — the frozen rule drops such pairs
    from the histogram, preserving the integer-only output contract."""
    from simhash_spark.config import DEFAULT_CONFIG as CFG
    from simhash_spark.operators.verify import pair_distance_histogram

    fp = spark.createDataFrame(
        [("a", 0), ("b", 3), ("c", None)],
        "image_id string, phash long",
    )
    cand = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c")], "a string, b string"
    )
    hist = pair_distance_histogram(
        cand, fp, CFG, id_col="image_id", col="phash", radius=CFG.phash_radius
    ).toPandas()
    # only the (a, b) pair survives: hamming=popcount(0 xor 3)=2, accepted
    assert len(hist) == 1
    assert hist["hamming"].iloc[0] == 2 and hist["n_pairs"].iloc[0] == 1
    assert hist["accepted"].iloc[0] == 1
    assert hist.notna().all().all()


def test_image_near_dup_from_bytes_composition(spark):
    """bytes -> decode -> recomputed phash -> pigeonhole self-search -> CC
    equals the numpy mirror (decode + brute-force Hamming + union-find),
    and every planted byte re-upload pair shares a cluster. Stored-phash
    variants must NOT pair (their bytes are fresh pixels): the from-bytes
    path trusts nothing but the binary column."""
    import pathlib

    import pandas as pd

    import __spark_entry__ as entrymod

    got = (
        entrymod.queries()["image_near_dup_from_bytes"](spark, "unused")
        .toPandas()
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    exp = (
        pd.read_parquet(
            pathlib.Path(__file__).resolve().parent / "expected" / "text_kernel_sf001"
            / "image_clusters_from_bytes.parquet"
        )
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp)
    lab = dict(zip(got["image_id"], got["cluster_id"]))
    for i in range(3, 100, 7):  # the planted re-upload rule
        assert lab[f"img{i:09d}"] == lab[f"img{i - 3:09d}"]


# ------------------------------------------------------------------ semdedup


def test_semdedup_keep_matches_numpy_mirror(spark, emb):
    """Engine vs an in-test brute-force mirror (independent of the
    gen_expected one): same quantizer, within-cell O(m^2) pairs, union-find
    by min id, lowest-centroid-cosine keep rule. Also asserts the decision
    margins are real (threshold + keep gaps far above float noise)."""
    from simhash_spark.operators.ann import ivf_fit, ivf_fit_core
    from simhash_spark.operators.dedup import semdedup_keep

    cent = ivf_fit(emb, n_centroids=16, n_iter=8)
    out = semdedup_keep(emb, cent, threshold=0.4).toPandas()

    pdf = emb.select("vec_id", "embedding").toPandas()
    vids = pdf["vec_id"].to_numpy(np.int64)
    vecs = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    mat = vecs / np.maximum(np.linalg.norm(vecs, axis=1, keepdims=True), 1e-12)
    sims = mat @ cent.T
    assign = np.argpartition(-sims, 0, axis=1)[:, 0]
    csim = sims[np.arange(len(mat)), assign]

    parent = {i: i for i in range(len(mat))}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    margins = []
    for cell in set(assign.tolist()):
        mem = np.flatnonzero(assign == cell)
        sub = mat[mem] @ mat[mem].T
        for xi in range(len(mem)):
            for yi in range(xi + 1, len(mem)):
                margins.append(abs(sub[xi, yi] - 0.4))
                if sub[xi, yi] >= 0.4:
                    ri, rj = find(int(mem[xi])), find(int(mem[yi]))
                    if ri != rj:
                        lo, hi = (ri, rj) if vids[ri] < vids[rj] else (rj, ri)
                        parent[hi] = lo
    groups: dict[int, list[int]] = {}
    for i in range(len(mat)):
        groups.setdefault(find(i), []).append(i)
    truth = {}
    keep_gaps = []
    for mem in groups.values():
        gid = int(min(vids[m] for m in mem))
        keep = min(mem, key=lambda m: (csim[m], vids[m]))
        if len(mem) > 1:
            cs = sorted(csim[m] for m in mem)
            keep_gaps.append(cs[1] - cs[0])
        for m in mem:
            truth[int(vids[m])] = (gid, int(m == keep) if len(mem) > 1 else 1)

    assert len(out) == len(truth)
    for r in out.itertuples():
        assert truth[r.vec_id] == (r.group_id, r.is_kept), r
    # at least one real duplicate group at this sf, and healthy margins
    assert (out.is_kept == 0).sum() > 0
    assert min(margins) > 1e-6 and min(keep_gaps) > 1e-6
    # exactly one keeper per group; every group label is a member min
    g = out.groupby("group_id")
    assert (g.is_kept.sum() == 1).all()
    assert (g.vec_id.min() == [gid for gid, _ in g]).all()


def test_semdedup_tau_sweep_consistent_with_keep(spark, emb):
    """The sweep's row at a tau must agree with an actual semdedup_keep run
    at that threshold (n_dropped = rows - groups), and keep rate must be
    non-decreasing in tau (higher bar -> fewer merges). Exactness vs the
    independent numpy mirror is pinned by the oracle sweep
    (tests/test_entry_oracle.py over tests/expected/semdedup_tau_sweep)."""
    from simhash_spark.operators.ann import ivf_fit
    from simhash_spark.operators.dedup import semdedup_keep, semdedup_tau_sweep

    cent = ivf_fit(emb, n_centroids=16, n_iter=8)
    taus = [3000, 4000, 5000]
    sweep = semdedup_tau_sweep(emb, cent, tau_bps=taus).toPandas()
    assert list(sweep.tau_bp) == taus  # ordered output, one row per tau
    assert sweep.n_rows.nunique() == 1
    assert (sweep.n_kept + sweep.n_dropped == sweep.n_rows).all()
    assert sweep.keep_bp.is_monotonic_increasing
    keep = semdedup_keep(emb, cent, threshold=0.4).toPandas()
    n_dropped_at_4000 = int((keep.is_kept == 0).sum())
    assert int(sweep.set_index("tau_bp").loc[4000, "n_dropped"]) == n_dropped_at_4000


def test_dedup_tier_labels_precedence_and_rules(spark, docs, emb):
    """Tier attribution over a corpus WITH planted exact dups (the sf tables
    carry none, so the exact tier is exercised here): every doc gets exactly
    one row; a doc dropped at a tier is invisible to later tiers; each
    tier's own frozen rule decides its drops. Exactness vs the composed
    numpy mirrors is pinned by the oracle sweep (tests/test_entry_oracle)."""
    from simhash_spark.operators.ann import ivf_fit
    from simhash_spark.operators.dedup import dedup_tier_labels, semdedup_keep

    # plant exact dups: docs 900+i byte-copy doc i's text (i = 0, 7, 14)
    base = docs.select("doc_id", "text")
    copies = base.where(F.col("doc_id").isin(0, 7, 14)).select(
        (F.col("doc_id") + 900).alias("doc_id"), "text"
    )
    planted = base.unionByName(copies)
    cent = ivf_fit(emb, n_centroids=16, n_iter=8)
    out = dedup_tier_labels(planted, emb, cent, tau=0.4).toPandas()

    assert len(out) == planted.count() and out.doc_id.is_unique
    assert ((out.tier == "kept") == (out.is_kept == 1)).all()
    by_id = dict(zip(out.doc_id, out.tier))
    # the byte-copies lose to their min-id originals at the exact tier
    for i in (0, 7, 14):
        assert by_id[900 + i] == "exact"
        assert by_id[i] != "exact"
    # tier counts on the unplanted part must match the expected mirror
    # the planted copies cannot change the originals' decisions: copies
    # lose at tier 1 (higher id), so tiers 2/3 see exactly the unplanted
    # corpus — the run WITHOUT copies must agree on every original doc
    # (sf0.01 exactness vs the composed numpy mirrors is pinned separately
    # by the oracle sweep, tests/test_entry_oracle.py)
    plain = dedup_tier_labels(base, emb, cent, tau=0.4).toPandas()
    plain_by_id = dict(zip(plain.doc_id, plain.tier))
    for d, t in plain_by_id.items():
        assert by_id[d] == t, (d, t, by_id[d])
    # semantic drops agree with a direct semdedup run on the survivor set
    surv2 = [d for d, t in by_id.items() if t in ("kept", "semantic")]
    sem = semdedup_keep(
        emb.join(
            spark.createDataFrame([(d,) for d in surv2], "vec_id long"),
            "vec_id",
            "left_semi",
        ),
        cent,
        threshold=0.4,
    ).toPandas()
    sem_drops = set(sem[sem.is_kept == 0].vec_id)
    assert sem_drops == {d for d, t in by_id.items() if t == "semantic"}


def test_cluster_label_eval_matches_bruteforce_pairs(spark):
    """The contingency pair-counting must equal literal pair enumeration on
    a small case (incl. a cluster spanning labels and a label spanning
    clusters), and the plan must stay cartesian-free (constant-key
    broadcast assembly)."""
    from itertools import combinations

    from simhash_spark.operators.dedup import cluster_label_eval

    rows = [(i, g, l) for i, (g, l) in enumerate(
        [(0, 0), (0, 0), (0, 1), (1, 1), (1, 1), (2, 0), (3, 2), (3, 2), (3, 2)]
    )]
    assign = spark.createDataFrame(
        [(i, g) for i, g, _ in rows], "vec_id long, group_id long"
    )
    truth = spark.createDataFrame(
        [(i, l) for i, _, l in rows], "vec_id long, label int"
    )
    out = cluster_label_eval(assign, truth).collect()[0]
    same_c = sum(1 for a, b in combinations(rows, 2) if a[1] == b[1])
    same_l = sum(1 for a, b in combinations(rows, 2) if a[2] == b[2])
    both = sum(1 for a, b in combinations(rows, 2) if a[1] == b[1] and a[2] == b[2])
    assert out["n_rows"] == len(rows)
    assert out["pairs_same_cluster"] == same_c
    assert out["pairs_same_label"] == same_l
    assert out["pairs_both"] == both
    assert out["precision_bp"] == both * 10000 // same_c
    assert out["recall_bp"] == both * 10000 // same_l
    plan = cluster_label_eval(assign, truth)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_semdedup_keep_string_ids(spark, emb):
    """The group kernel is id-type-generic (review fix): string-keyed
    corpora run end to end, with the min-id rules lexicographic — exactly
    the near-dup family's frozen string behavior."""
    from simhash_spark.operators.ann import ivf_fit
    from simhash_spark.operators.dedup import semdedup_keep

    cent = ivf_fit(emb, n_centroids=16, n_iter=8)
    base = semdedup_keep(emb, cent, threshold=0.4).toPandas()
    s_emb = emb.select(
        F.format_string("doc%06d", F.col("vec_id")).alias("vec_id"), "embedding"
    )
    out = semdedup_keep(s_emb, cent, threshold=0.4).toPandas()
    # zero-padded string ids order like the longs, so decisions must match
    assert len(out) == len(base)
    got = {r.vec_id: (r.group_id, r.is_kept) for r in out.itertuples()}
    for r in base.itertuples():
        assert got[f"doc{r.vec_id:06d}"] == (f"doc{r.group_id:06d}", r.is_kept)


def test_semdedup_groups_never_straddle_cells(spark, emb):
    """Pairs are compared only within a k-means cell, so every duplicate
    group must be cell-local — the property that makes the comparison
    volume sum m_c^2 instead of n^2."""
    from simhash_spark.operators.ann import ivf_fit, make_ivf_assign_sim_udf
    from simhash_spark.operators.dedup import semdedup_keep

    cent = ivf_fit(emb, n_centroids=16, n_iter=8)
    out = semdedup_keep(emb, cent, threshold=0.4)
    assign = make_ivf_assign_sim_udf(cent)
    cells = emb.select(
        F.col("vec_id"), assign(F.col("embedding")).getField("list_id").alias("cell")
    )
    n_cells_per_group = (
        out.join(cells, "vec_id")
        .groupBy("group_id")
        .agg(F.countDistinct("cell").alias("nc"))
    )
    assert n_cells_per_group.where(F.col("nc") > 1).count() == 0


# ------------------------------------------------------------- source mixing


def test_source_mix_plan_binding_source_and_rates(spark, docs):
    from simhash_spark.operators.curation import source_mix_plan

    targets = {"src0": 4000, "src1": 3000, "src2": 2000, "src3": 1000}
    out = source_mix_plan(docs, targets).toPandas().set_index("source")

    pdf = docs.select("source", "text").toPandas()
    ntok = pdf.text.fillna("").str.strip().map(lambda t: len(t.split()) if t else 0)
    T = ntok.groupby(pdf.source).sum()
    budget = min((int(T[s]) * 10000) // bp for s, bp in targets.items() if s in T.index)
    for s in T.index:
        row = out.loc[s]
        assert row.n_tokens == int(T[s])
        bp = targets.get(s, 0)
        exp = (budget // 10000) * bp + ((budget % 10000) * bp) // 10000 if bp else 0
        assert row.expected_tokens == exp
        assert row.keep_bp == (exp * 10000 // int(T[s]) if T[s] else 0)
        assert 0 <= row.keep_bp <= 10000
    # the binding source saturates (integer floors allow a hair below 10000)
    assert out.keep_bp.max() >= 9990
    # untargeted sources are excluded
    assert (out.loc[[s for s in T.index if s not in targets]].keep_bp == 0).all()


def test_source_mix_plan_null_and_empty_text(spark):
    from simhash_spark.operators.curation import source_mix_plan

    df = spark.createDataFrame(
        [("a", "one two three"), ("a", None), ("b", "   "), ("b", "x")],
        "source string, text string",
    )
    out = {r["source"]: r for r in source_mix_plan(df, {"a": 5000, "b": 5000}).collect()}
    assert out["a"]["n_tokens"] == 3 and out["b"]["n_tokens"] == 1
    # budget bound by b: 1 token at 50% -> budget 2 -> a expects 1 of 3
    assert out["b"]["keep_bp"] == 10000 and out["a"]["expected_tokens"] == 1


def test_source_mix_plan_no_targets_zero_plan(spark, docs):
    from simhash_spark.operators.curation import source_mix_plan

    out = source_mix_plan(docs, {"not_a_source": 10000}).toPandas()
    assert (out.keep_bp == 0).all() and (out.expected_tokens == 0).all()
