"""T4: hot-bucket / skew handling — the id-order chain for buckets over
the cap, and the full pipeline on the degenerate corpus
(the reference's dev-ex lesson: scalable version crashed on SMALL data,
/root/reference/README.md:11)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from simhash_spark.config import DEFAULT_CONFIG as CFG, PipelineConfig


def _components(pairs: set[tuple[str, str]], nodes: list[str]) -> dict[str, str]:
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def test_hot_bucket_chain_spans_bucket(spark):
    """A bucket over the cap must yield exactly m-1 edges (a spanning tree:
    linear output, full connectivity) — not C(m,2), not disconnected — and
    they are its consecutive ids in sorted order."""
    from simhash_spark.operators.candidates import bucket_pairs_packed

    cfg = PipelineConfig(bucket_cap=50)
    m = 500
    # packed keys carry the source code in their low 2 bits (1 = minhash_lsh)
    rows = [((42 << 2) | 1, f"id{i:05d}") for i in range(m)]
    # a second, small bucket sanity-checks the cold path alongside
    rows += [((99 << 2) | 1, f"cold{i}") for i in range(7)]
    packed = spark.createDataFrame(rows, "k long, id string")
    pairs = [(r["a"], r["b"]) for r in bucket_pairs_packed(packed, cfg).collect()]

    hot_ids = [f"id{i:05d}" for i in range(m)]
    hot_pairs = [(a, b) for a, b in pairs if a.startswith("id")]
    cold_pairs = [(a, b) for a, b in pairs if a.startswith("cold")]
    assert len(hot_pairs) == m - 1, "hot bucket must emit a spanning tree"
    assert sorted(hot_pairs) == list(zip(hot_ids, hot_ids[1:]))
    assert len(cold_pairs) == 21  # C(7,2) — the all-pairs cold path
    comp = _components(set(hot_pairs), hot_ids)
    assert len(set(comp[i] for i in hot_ids)) == 1, "hot bucket not fully connected"
    for a, b in pairs:
        assert a < b


def test_degenerate_corpus_end_to_end(spark, tmp_path):
    """Empty / stop-only / single-token / unicode captions plus a 500-row
    identical-caption hot cluster: pipeline must not crash, empty captions
    must NOT cluster together, the hot cluster must be ONE cluster."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from simhash_spark.plans.pipeline import run_pipeline
    from simhash_spark.sources.fixtures import make_degenerate_pdf

    pdf = make_degenerate_pdf()
    d = tmp_path / "deg"
    d.mkdir()
    schema = pa.schema(
        [
            ("image_id", pa.string()),
            ("bytes", pa.binary()),
            ("w", pa.int32()),
            ("h", pa.int32()),
            ("fmt", pa.string()),
            ("caption", pa.string()),
            ("phash", pa.int64()),
        ]
    )
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=schema, preserve_index=False),
        d / "images.parquet",
    )
    res = run_pipeline(
        spark, str(d / "images.parquet"), str(tmp_path / "ckpt"), CFG
    )
    clusters = {r["image_id"]: r["cluster_id"] for r in res.clusters.collect()}
    assert len(clusters) == len(pdf)

    ids_by_caption: dict[str, list[str]] = {}
    for iid, cap in zip(pdf["image_id"], pdf["caption"]):
        ids_by_caption.setdefault(cap, []).append(iid)

    hot = ids_by_caption["identical caption here every time"]
    assert len(hot) == 500
    assert len({clusters[i] for i in hot}) == 1, "hot cluster split"

    # empty and stop-only captions have no shingles -> must stay singletons
    # (their simhash is 0 but the n_shingles>0 guard blocks fake matches)
    for cap in ("", "the of and to in"):
        ids = ids_by_caption[cap]
        labels = [clusters[i] for i in ids]
        assert labels == ids, f"no-shingle captions {cap!r} wrongly clustered"


def test_bucket_stats_reports_hot_buckets(spark):
    from mirror import bucket_stats_packed

    rows = [((42 << 2) | 1, f"id{i}") for i in range(300)]
    packed = spark.createDataFrame(rows, "k long, id string")
    stats = {r["src"]: r.asDict() for r in bucket_stats_packed(packed).collect()}
    assert stats["minhash_lsh"]["max_bucket"] == 300
    assert stats["minhash_lsh"]["n_buckets"] == 1


def test_udf_keygen_pairs_match_native(spark):
    """The wide-index UDF keygen (used past WIDE_INDEX_UDF_THRESHOLD
    combinations) must produce the IDENTICAL candidate pair set as the
    native expression path — bucket identity hashes differ, membership
    cannot."""
    from dataclasses import replace

    from simhash_spark.operators.candidates import bucket_pairs_packed, explode_all_keys
    from simhash_spark.plans.pipeline import fingerprint_job
    from simhash_spark.sources.fixtures import INPUT_HINT_SCHEMA, make_images_pdf

    cfg8 = replace(CFG, n_blocks=8)
    src = spark.createDataFrame(
        make_images_pdf(400, seed=21, with_bytes=False), schema=INPUT_HINT_SCHEMA
    )
    fp = fingerprint_job(spark, src, cfg8).cache()

    def pairs(force_udf):
        packed = explode_all_keys(fp, cfg8, force_udf_keys=force_udf)
        return {
            (r["a"], r["b"], r["src"])
            for r in bucket_pairs_packed(packed, cfg8)
            .groupBy("a", "b")
            .agg(F.array_join(F.array_sort(F.collect_set("src")), ",").alias("src"))
            .collect()
        }

    native = pairs(False)
    via_udf = pairs(True)
    assert native == via_udf and len(native) > 0


def test_udf_keygen_tolerates_null_phash(spark):
    """Null phash rows (nullable input column) must not crash the vectorized
    keygen and must emit NO phash-source keys — the same effective semantics
    as the native path, whose bit expressions yield null keys that never
    equi-join (ADVICE r2)."""
    from dataclasses import replace

    from simhash_spark.operators.candidates import bucket_pairs_packed, explode_all_keys
    from simhash_spark.plans.pipeline import fingerprint_job
    from simhash_spark.sources.fixtures import INPUT_HINT_SCHEMA, make_images_pdf

    cfg8 = replace(CFG, n_blocks=8)
    src = spark.createDataFrame(
        make_images_pdf(200, seed=23, with_bytes=False), schema=INPUT_HINT_SCHEMA
    )
    fp = fingerprint_job(spark, src, cfg8).withColumn(
        "phash",
        F.when(F.xxhash64("image_id") % 3 == 0, F.col("phash")),  # ~2/3 null
    ).cache()

    def pairs(force_udf):
        packed = explode_all_keys(fp, cfg8, force_udf_keys=force_udf)
        return {
            (r["a"], r["b"]) for r in bucket_pairs_packed(packed, cfg8).collect()
        }

    via_udf = pairs(True)  # crashed with TypeError before the null mask
    native = pairs(False)
    assert via_udf == native
    # and no phash-source keys at all for null rows, in EITHER path (the
    # source code rides in each packed key's low 2 bits; 3 = phash)
    null_ids = [r["image_id"] for r in fp.where(F.col("phash").isNull()).collect()]
    assert null_ids, "fixture should null out some phashes"
    for force in (True, False):
        packed = explode_all_keys(fp, cfg8, force_udf_keys=force)
        n_ph = (
            packed.where(F.col("id").isin(null_ids))
            .where(F.col("k").bitwiseAND(F.lit(3)) == 3)
            .count()
        )
        assert n_ph == 0, f"null-phash rows emitted phash keys (force_udf={force})"


def test_design_point_16_blocks_uses_udf_keygen(spark):
    """C(16,13)=560 combination tables (the 10^12-row design point) must go
    through the vectorized keygen path — asserted STRUCTURALLY (the plan
    contains an ArrowEvalPython keygen node) rather than by wall clock,
    which this sandbox's 2-3x run variance would make flaky; a generous
    time ceiling still guards against the 180 s expression-path regression."""
    import time

    from simhash_spark.config import PipelineConfig
    from simhash_spark.operators.candidates import explode_all_keys
    from simhash_spark.plans.text_dedup import text_candidates, text_fingerprints

    cfg16 = PipelineConfig(n_blocks=16)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fp = text_fingerprints(docs, "doc_id", "text", cfg16)
    plan = (
        explode_all_keys(fp, cfg16, include_phash=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "EvalPython" in plan, "16-block keygen did not take the UDF path"
    t0 = time.time()
    n = text_candidates(fp, cfg16).count()
    wall = time.time() - t0
    assert n > 0
    assert wall < 150, f"16-block candidates took {wall:.0f}s — expression path?"


HOT_ANCHOR_CFG = PipelineConfig(bucket_cap=24)


def test_hot_anchor_family_clusters_equal_truth(spark, tmp_path):
    """An anchor family above bucket_cap loses no substring pair: the
    pipeline's clusters equal compute_truth's components, the run-keyed
    chains connect no co-occupants that share no run (the fixture's short
    cuts sit in the hot anchors and stay apart), every chain edge is a true
    pair, the hot anchors' chain edges equal the mirror's hot rule over the
    same anchor table, and the manifest's hot-anchor accounting equals a
    standalone recount."""
    from mirror import (
        hot_anchor_edges,
        substring_pairs_mirror,
        substring_stage_metrics,
        union_find_min_labels,
    )

    from simhash_spark import spec
    from simhash_spark.operators.substring import _shares_run, verify_substring_pairs
    from simhash_spark.plans.pipeline import run_pipeline
    from simhash_spark.sources.catalog import CheckpointCatalog
    from simhash_spark.sources.fixtures import (
        INPUT_HINT_SCHEMA,
        compute_truth,
        make_hot_anchor_pdf,
    )

    pdf = make_hot_anchor_pdf(60, 40)
    inp = str(tmp_path / "hot.parquet")
    spark.createDataFrame(pdf, INPUT_HINT_SCHEMA).coalesce(1).write.parquet(inp)
    ck = tmp_path / "ck"
    res = run_pipeline(spark, inp, str(ck), HOT_ANCHOR_CFG)
    _, truth = compute_truth(pdf, HOT_ANCHOR_CFG)
    want = dict(zip(truth["image_id"], truth["cluster_id"]))
    assert {r["image_id"]: r["cluster_id"] for r in res.clusters.collect()} == want

    cat = CheckpointCatalog(spark, ck)
    sm = cat.manifest("02b_substr")
    assert sm["hot_anchors"] >= 1 and sm["chain_edges"] > 0
    assert sm["max_anchor_rows"] > HOT_ANCHOR_CFG.bucket_cap
    assert {k: sm[k] for k in ("n_pairs", "hot_anchors", "max_anchor_rows", "chain_edges")} == (
        substring_stage_metrics(cat.read("02b_anchors"), HOT_ANCHOR_CFG)
    )
    # the engine's hot edges: verify the hot anchors' rows alone
    anchors = cat.read("02b_anchors")
    hot_rows = anchors.join(
        anchors.groupBy("anchor").count().where(F.col("count") > HOT_ANCHOR_CFG.bucket_cap),
        "anchor",
        "left_semi",
    )
    engine_hot = {
        (r["a"], r["b"]) for r in verify_substring_pairs(hot_rows, HOT_ANCHOR_CFG).collect()
    }
    assert engine_hot and engine_hot == hot_anchor_edges(anchors, HOT_ANCHOR_CFG)
    # the largest anchor holds docs of more than one truth component
    hot = (
        cat.read("02b_anchors")
        .groupBy("anchor")
        .agg(F.collect_set("id").alias("ids"))
        .orderBy(F.size("ids").desc())
        .first()["ids"]
    )
    assert len({want[i] for i in hot}) > 1

    norm = dict(zip(pdf["image_id"], map(spec.normalize_for_substring, pdf["caption"])))
    edges = [(r["a"], r["b"]) for r in cat.read("02b_substr").collect()]
    assert all(_shares_run(norm[a], norm[b], HOT_ANCHOR_CFG.substr_min_len) for a, b in edges)
    docs = pdf.rename(columns={"image_id": "doc_id", "caption": "text"})
    mirror = substring_pairs_mirror(docs, HOT_ANCHOR_CFG)
    ids = list(pdf["image_id"])
    assert union_find_min_labels(ids, sorted(mirror)) == union_find_min_labels(ids, edges)


def test_shared_runs_equals_python_twin(spark):
    """substring._shared_runs (the Catalyst offset tests) keeps exactly the
    occurrence pairs its Python twin accepts, on random pairs: small
    alphabets, contexts cut at either end of the text, equal contexts and
    equal lo."""
    import random

    from mirror import context_shares_run

    from simhash_spark.operators.substring import _shared_runs

    L, w = CFG.substr_min_len, CFG.substr_window
    rng = random.Random(3)

    def occ(name: str, alphabet: str) -> tuple[str, int, str]:
        lo = rng.randint(0, L - w)
        ctx = "".join(rng.choice(alphabet) for _ in range(rng.randint(lo + w - 4, lo + L)))
        return (name, lo, ctx)

    rows = []
    for i in range(2000):
        alphabet = rng.choice(["a", "ab", "ab "])
        x, y = occ(f"x{i}", alphabet), occ(f"y{i}", alphabet)
        if rng.random() < 0.3:
            y = (y[0], x[1], x[2])
        rows.append((x, y))
    occ_t = "struct<id:string, lo:int, ctx:string>"
    df = spark.createDataFrame(rows, f"x {occ_t}, y {occ_t}")
    got = {(r["a"], r["b"]) for r in _shared_runs(df, L).collect()}
    want = {(x[0], y[0]) for x, y in rows if context_shares_run(x[1], x[2], y[1], y[2], L)}
    assert len(want) > 100 and got == want
