"""T2 differential + recall gate: full pipeline vs brute-force ground truth.

The fixture's truth (sources/fixtures.compute_truth) is computed without
Spark by the canonical numpy spec — the stand-in reference implementation
(对拍, /root/reference/README.md:11). Gates:

- dup-pair recall >= 0.99 (BASELINE.json:2) — in fact the pigeonhole +
  winnowing completeness guarantees make the pipeline EXACT here, so we
  assert full cluster-partition equality, not just 0.99.
- `bytes` never enters the fingerprint plan (column pruning at the scan).
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from simhash_spark.config import DEFAULT_CONFIG as CFG
from simhash_spark.plans.pipeline import run_pipeline
from simhash_spark.sources.fixtures import compute_truth, make_images_pdf, write_images_fixture


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("images_fx")
    write_images_fixture(d, n_rows=2000, seed=42, with_bytes=True)
    return d


def test_pipeline_matches_truth(spark, fixture_dir, tmp_path):
    res = run_pipeline(
        spark,
        str(fixture_dir / "images.parquet"),
        str(tmp_path / "ckpt"),
        CFG,
    )
    clusters = {r["image_id"]: r["cluster_id"] for r in res.clusters.collect()}
    truth = pd.read_parquet(fixture_dir / "truth_clusters.parquet")
    truth_map = dict(zip(truth["image_id"], truth["cluster_id"]))
    tp = pd.read_parquet(fixture_dir / "truth_pairs.parquet")

    # recall: truth pairs that land in the same pipeline cluster
    same = sum(clusters[a] == clusters[b] for a, b in zip(tp["a"], tp["b"]))
    recall = same / len(tp)
    assert recall >= 0.99, f"dup-pair recall {recall:.4f} < 0.99"

    # and the stronger differential claim: identical partitions + labels
    assert clusters == truth_map, "cluster assignment differs from brute-force truth"


def test_pipeline_matches_truth_with_scale_index(spark, fixture_dir, tmp_path):
    """The large-corpus index config (8 blocks, config.index_config_for)
    must preserve EXACT recall end-to-end: the pigeonhole completeness
    guarantee holds for any n_blocks > radius, so cluster assignments are
    identical to truth — only candidate volume changes."""
    from dataclasses import replace

    res = run_pipeline(
        spark,
        str(fixture_dir / "images.parquet"),
        str(tmp_path / "ckpt8"),
        replace(CFG, n_blocks=8),
    )
    clusters = {r["image_id"]: r["cluster_id"] for r in res.clusters.collect()}
    truth = pd.read_parquet(fixture_dir / "truth_clusters.parquet")
    assert clusters == dict(zip(truth["image_id"], truth["cluster_id"]))


def test_verified_pairs_subset_of_truth(spark, fixture_dir, tmp_path):
    """Precision: every verified pair satisfies the frozen dup predicate.
    The checkpointed run and the lazy near_dup_pairs chain (no stage hook)
    verify the same (a, b, src) rows."""
    from simhash_spark.plans.pipeline import fingerprint_job, near_dup_pairs

    inp = str(fixture_dir / "images.parquet")
    res = run_pipeline(spark, inp, str(tmp_path / "ckpt2"), CFG)
    ver = {(r["a"], r["b"]) for r in res.verified.select("a", "b").collect()}
    pdf = pd.read_parquet(fixture_dir / "images.parquet", columns=["image_id", "caption", "phash"])
    truth_pairs, _ = compute_truth(pdf, CFG)
    truth = set(zip(truth_pairs["a"], truth_pairs["b"]))
    extra = ver - truth
    assert not extra, f"{len(extra)} verified pairs outside truth, e.g. {list(extra)[:5]}"

    src = spark.read.parquet(inp)
    _, lazy = near_dup_pairs(fingerprint_job(spark, src, CFG), src, CFG)

    def rows(df):
        return sorted(tuple(r) for r in df.select("a", "b", "src").collect())

    assert rows(res.verified) == rows(lazy)


def test_bytes_pruned_from_fingerprint_plan(spark, fixture_dir):
    from simhash_spark.plans.pipeline import fingerprint_job

    src = spark.read.parquet(str(fixture_dir / "images.parquet"))
    plan = fingerprint_job(spark, src, CFG)._jdf.queryExecution().executedPlan().toString()
    assert "bytes" not in plan, "fingerprint scan reads the bytes column"
    assert "caption" in plan


def test_resume_skips_complete_stages(spark, fixture_dir, tmp_path):
    from simhash_spark.plans.pipeline import stage_fingerprint
    from simhash_spark.sources.catalog import CheckpointCatalog

    ck = tmp_path / "ckpt3"
    run_pipeline(spark, str(fixture_dir / "images.parquet"), str(ck), CFG)
    cat = CheckpointCatalog(spark, ck)
    in_fp = stage_fingerprint(str(fixture_dir / "images.parquet"), CFG, True, True)
    for stage in ("01_fingerprints", "02_candidates", "02b_substr", "03_verified", "04_clusters"):
        m = cat.manifest(stage)
        assert m and m["complete"] and m["input_fingerprint"] == in_fp, stage
        assert m["n_rows"] >= 0 and m["n_partitions"] >= 1
        assert all("rows" in p and "bytes" in p for p in m["partitions"])

    # candidate stage records skew accounting (no silent truncation)
    cm = cat.manifest("02_candidates")
    assert "bucket_stats" in cm and "minhash_lsh" in cm["bucket_stats"]
    assert cm["bucket_cap"] > 0 and "indexes_with_hot_buckets" in cm

    # substring stage records its work and hot-anchor accounting (no
    # silent truncation); this fixture has no anchor over the cap
    sm = cat.manifest("02b_substr")
    for k in ("n_pairs", "hot_anchors", "max_anchor_rows", "chain_edges"):
        assert k in sm, k
    assert sm["n_pairs"] >= sm["n_rows"] > 0
    assert sm["hot_anchors"] == sm["chain_edges"] == 0
    assert 2 <= sm["max_anchor_rows"] <= CFG.bucket_cap

    # second run must not recompute: poison compute to prove it is skipped
    boom = lambda: (_ for _ in ()).throw(AssertionError("stage recomputed"))
    out = cat.run_stage("04_clusters", in_fp, boom)
    assert out.count() == 2000

    # a different config must NOT resume from these stages: its fingerprint
    # differs, so is_complete is false and compute would rerun
    from dataclasses import replace

    fp8 = stage_fingerprint(
        str(fixture_dir / "images.parquet"), replace(CFG, n_blocks=8), True, True
    )
    assert fp8 != in_fp
    assert not cat.is_complete("02_candidates", fp8)


def test_bucketed_fingerprint_checkpoint_joins_without_exchange(spark, fixture_dir, tmp_path):
    """The E1 checkpoint is written hash-clustered on image_id: the E3
    verify shape (fingerprints joined twice, once per pair side) must plan
    with exchanges ONLY on the candidate side — both fingerprint scans read
    bucketed, shuffle-free. Also covers the new-session resume path: after
    the session-catalog table entry is dropped, read() re-registers the
    external bucketed table from the manifest's bucket spec."""
    from pyspark.sql import functions as F

    from simhash_spark.sources.catalog import CheckpointCatalog

    ck = tmp_path / "ckpt_bk"
    res = run_pipeline(spark, str(fixture_dir / "images.parquet"), str(ck), CFG)
    cat = CheckpointCatalog(spark, ck)
    m = cat.manifest("01_fingerprints")
    assert m["bucket_n"] >= 1 and m["bucket_cols"] == ["image_id"]
    # one file per bucket: the write aligned partitions to buckets
    assert m["n_partitions"] <= m["bucket_n"]

    # simulate resuming in a NEW session: drop the in-memory table entry
    spark.sql(f"DROP TABLE IF EXISTS {cat._table_name('01_fingerprints')}")
    fp = cat.read("01_fingerprints")
    assert fp.count() == 2000

    pairs = res.candidates.select("a", "b").localCheckpoint()
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = fp.select(F.col("image_id").alias("a"), F.col("simhash").alias("_sa"))
        b = fp.select(F.col("image_id").alias("b"), F.col("simhash").alias("_sb"))
        plan = (
            pairs.join(a, "a").join(b, "b")._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    assert plan.count("Bucketed: true") == 2, plan
    # the only exchanges hash-partition the candidate side (a then b)
    assert plan.count("Exchange") == 2, plan


def test_pipeline_quality_filter_stage(spark, fixture_dir, tmp_path):
    """E0 quality filter: (1) the filtered pipeline's clusters are IDENTICAL
    to an unfiltered run over a pre-filtered copy of the input (the stage is
    pure row pruning, no semantic coupling); (2) dropped rows never reach
    the fingerprint table; (3) the 00_quality checkpoint holds the
    per-reason histogram; (4) toggling the flag changes the stage identity
    (no stale resume)."""
    from simhash_spark.operators.search import image_quality_filter
    from simhash_spark.plans.pipeline import stage_fingerprint
    from simhash_spark.sources.catalog import CheckpointCatalog

    inp = str(fixture_dir / "images.parquet")
    res = run_pipeline(spark, inp, str(tmp_path / "ck_qf"), CFG, quality_filter=True)

    src = spark.read.parquet(inp)
    flt = image_quality_filter(src)
    kept = flt.where("keep = 1").drop("keep", "reason")
    n_kept, n_all = kept.count(), src.count()
    assert 0 < n_kept < n_all  # the fixture exercises both outcomes
    assert res.fingerprints.count() == n_kept
    pre = str(tmp_path / "prefiltered.parquet")
    kept.write.parquet(pre)
    res2 = run_pipeline(spark, pre, str(tmp_path / "ck_pre"), CFG)
    got = {(r["image_id"], r["cluster_id"]) for r in res.clusters.collect()}
    want = {(r["image_id"], r["cluster_id"]) for r in res2.clusters.collect()}
    assert got == want

    cat = CheckpointCatalog(spark, str(tmp_path / "ck_qf"))
    hist = {r["reason"]: r["n"] for r in cat.read("00_quality").collect()}
    truth_hist = {
        r["reason"]: r["n"]
        for r in flt.groupBy("reason").agg(F.count("*").alias("n")).collect()
    }
    assert hist == truth_hist and hist.get("ok") == n_kept

    fp_off = stage_fingerprint(inp, CFG, True, True)
    fp_on = stage_fingerprint(inp, CFG, True, True, quality_filter=True)
    assert fp_off != fp_on


def test_cli_keep_rule_best_resolution(spark, fixture_dir, tmp_path):
    """The spark-submit surface with --keep-rule best-resolution publishes a
    keep_list whose survivor per cluster is the maximum-w*h member (ties ->
    min image_id) and keeps exactly one member per cluster. Runs the real
    CLI main() in-process (get_spark's getOrCreate reuses the session)."""
    import pathlib
    import sys

    repo = pathlib.Path(__file__).resolve().parents[1]
    sys.path.insert(0, str(repo / "jobs"))
    try:
        import run_pipeline as cli
    finally:
        sys.path.pop(0)

    out = tmp_path / "out"
    rc = cli.main(
        [
            "--input",
            str(fixture_dir / "images.parquet"),
            "--output",
            str(out),
            "--no-substring",
            "--keep-rule",
            "best-resolution",
        ]
    )
    assert rc == 0

    keep = pd.read_parquet(out / "keep_list")
    src = pd.read_parquet(fixture_dir / "images.parquet", columns=["image_id", "w", "h"])
    clusters = pd.read_parquet(out / "clusters")
    assert set(keep["image_id"]) == set(clusters["image_id"])
    df = keep.merge(clusters, on="image_id").merge(src, on="image_id")
    df["score"] = df["w"].astype("int64") * df["h"].astype("int64")
    for cid, grp in df.groupby("cluster_id"):
        best_score = grp["score"].max()
        expect = grp[grp["score"] == best_score]["image_id"].min()
        assert (grp["keep_id"] == expect).all(), f"cluster {cid}: wrong keep_id"
        kept = grp[grp["is_kept"] == 1]
        assert list(kept["image_id"]) == [expect], f"cluster {cid}: wrong survivor"


def test_pipeline_manifest_metrics_match_standalone(spark, fixture_dir, tmp_path):
    """The manifest numbers collected during each stage's own write equal
    the standalone computations over the same run's checkpoints: the
    candidates stage's bucket histogram (candidate_bucket_stats), the
    substring stage's keys (substring_stage_metrics over the anchor
    checkpoint) and every stage's per-file rows (an
    input_file_name() count). Labels stay equal to the truth."""
    import json
    import pathlib

    from mirror import candidate_bucket_stats, substring_stage_metrics

    from simhash_spark.sources.catalog import CheckpointCatalog

    inp = str(fixture_dir / "images.parquet")
    ck = pathlib.Path(tmp_path) / "ckpt_obs"
    res = run_pipeline(spark, inp, str(ck), CFG)
    got = {r["image_id"]: r["cluster_id"] for r in res.clusters.collect()}
    truth = pd.read_parquet(fixture_dir / "truth_clusters.parquet")
    assert got == dict(zip(truth["image_id"], truth["cluster_id"]))

    cat = CheckpointCatalog(spark, ck)
    cm = cat.manifest("02_candidates")
    want = {r["src"]: r.asDict() for r in candidate_bucket_stats(res.fingerprints, CFG).collect()}
    assert cm["bucket_stats"] == json.loads(json.dumps(want))
    assert cm["indexes_with_hot_buckets"] == sum(
        1 for s in want.values() if s["max_bucket"] > CFG.bucket_cap
    )

    sm = cat.manifest("02b_substr")
    want = substring_stage_metrics(cat.read("02b_anchors"), CFG)
    assert want["n_pairs"] > 0
    assert {k: sm[k] for k in want} == want

    for stage in ("01_fingerprints", "02_candidates", "02b_anchors", "02b_substr",
                  "03_verified", "04_clusters"):
        m = cat.manifest(stage)
        rows = {
            r["f"].rsplit("/", 1)[-1]: r["n"]
            for r in spark.read.parquet(str(ck / stage / "data"))
            .groupBy(F.input_file_name().alias("f"))
            .count()
            .withColumnRenamed("count", "n")
            .collect()
        }
        assert {p["file"]: p["rows"] for p in m["partitions"] if p["rows"]} == rows, stage
        assert m["n_rows"] == sum(rows.values()), stage


def test_include_phash_false_removes_phash_axis_end_to_end(spark, tmp_path):
    """include_phash=False must remove the phash AXIS (keys AND verify
    criterion), the same rule the text and delta paths apply — a
    phash-only dup verified by the full run but not by a chained delta run
    would break the delta equality contract.

    The caption pair below was searched offline with the frozen numpy spec:
    it shares 2 MinHash bands (so it IS a candidate without any phash key)
    but sits at caption-simhash hamming 14 > radius; with identical phash
    it is a phash-ONLY duplicate."""
    import pandas as pd

    cap_a = (
        "w0425 w0318 w0255 w0134 w0153 w0020 w0037 w0008 w0087 w0406 w0324 "
        "w0456 w0251 w0303 w0485 w0364 w0316 w0271 w0279 w0467 w0138 w0407 "
        "w0335 w0001 w0197 w0428 w0277 w0016 w0382 w0364"
    )
    cap_b = (
        "w0425 w0318 w0149 w0134 w0211 w0020 w0037 w0008 w0087 w0406 w0324 "
        "w0456 w0251 w0303 w0485 w0364 w0316 w0271 w0279 w0467 w0138 w0407 "
        "w0201 w0001 w0197 w0240 w0277 w0016 w0382 w0364"
    )
    src = tmp_path / "ph_src"
    src.mkdir()
    pdf_rows = pd.DataFrame(
        {
            "image_id": ["a", "b", "z"],
            "caption": [cap_a, cap_b, "entirely unrelated filler caption row"],
            "phash": [7, 7, 123456789],
        }
    )
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(pdf_rows, preserve_index=False), src / "d.parquet")

    def pairs(**kw):
        res = run_pipeline(
            spark,
            str(src / "d.parquet"),
            str(tmp_path / f"ph_ckpt_{kw.get('include_phash', True)}"),
            CFG,
            enable_substring=False,  # isolate the phash criterion
            **kw,
        )
        return {(r["a"], r["b"]) for r in res.verified.collect()}

    assert ("a", "b") in pairs(include_phash=True)  # phash-only dup accepted
    assert ("a", "b") not in pairs(include_phash=False)  # axis fully removed


def test_image_tier_labels_rules_and_disjointness(spark):
    """The image tier ladder: (a) output partitions the corpus, one row per
    image; (b) every planted byte re-upload (never the lexicographic-min id
    of its group) drops at the EXACT tier — planted copies cannot reach or
    perturb the near tier; (c) near drops equal the flagship pipeline's
    non-label members computed over the byte tier's survivors."""
    from simhash_spark.config import DEFAULT_CONFIG as CFG
    from simhash_spark.plans.pipeline import (
        candidate_job,
        cluster_job,
        fingerprint_job,
        image_tier_labels,
        verify_job,
    )
    from simhash_spark.sources.fixtures import (
        INPUT_HINT_SCHEMA,
        make_images_pdf,
        plant_byte_reuploads,
    )

    pdf = plant_byte_reuploads(make_images_pdf(300, seed=42, with_bytes=True))
    src = spark.createDataFrame(pdf, schema=INPUT_HINT_SCHEMA)
    out = {r["image_id"]: (r["tier"], r["is_kept"]) for r in
           image_tier_labels(spark, src, CFG).collect()}
    assert set(out) == set(pdf["image_id"].astype(str))
    assert all((t == "kept") == bool(k) for t, k in out.values())

    # planted re-uploads: row i (i % 7 == 3) copies bytes from row i-3 —
    # both ids are in one md5 group; the non-min member must drop 'exact'
    import hashlib
    from collections import defaultdict

    groups = defaultdict(list)
    for iid, data in zip(pdf["image_id"].astype(str), pdf["bytes"]):
        groups[hashlib.md5(bytes(data)).hexdigest()].append(iid)
    exact_expect = {i for mem in groups.values() for i in mem if i != min(mem)}
    assert {i for i, (t, _) in out.items() if t == "exact"} == exact_expect
    assert exact_expect, "fixture planted no byte dups; vacuous"

    # near drops == flagship non-label members over the survivors
    surv = src.join(
        spark.createDataFrame([(i,) for i in exact_expect], "image_id string"),
        "image_id",
        "left_anti",
    )
    fp = fingerprint_job(spark, surv, CFG).cache()
    clus = cluster_job(verify_job(candidate_job(fp, CFG), fp, CFG), fp, CFG)
    near_expect = {
        r["image_id"]
        for r in clus.where("image_id != cluster_id").collect()
    }
    assert {i for i, (t, _) in out.items() if t == "near"} == near_expect
    assert near_expect, "fixture exercised no near tier; vacuous"


def test_image_tier_ladder_semantic_refines_kept_only(spark):
    """The FULL image ladder (exact -> near -> semantic): (a) one row per
    image, tier/is_kept consistent; (b) adding the semantic tier only
    refines the 2-tier run's 'kept' set — exact and near labels are
    IDENTICAL with and without it (tier 3 runs strictly after); (c) the
    semantic tier actually fires, and at least one planted re-render row is
    among its drops; (d) images without an embedding row pass the tier."""
    from simhash_spark.config import DEFAULT_CONFIG as CFG
    from simhash_spark.operators.ann import ivf_fit
    from simhash_spark.operators.multimodal import image_embeddings
    from simhash_spark.plans.pipeline import image_tier_labels
    from simhash_spark.sources.fixtures import (
        INPUT_HINT_SCHEMA,
        make_images_pdf,
        plant_byte_reuploads,
        plant_semantic_rerenders,
    )
    from pyspark.sql import functions as F

    base_pdf = plant_byte_reuploads(make_images_pdf(300, seed=42, with_bytes=True))
    pdf = plant_semantic_rerenders(base_pdf)
    src = spark.createDataFrame(pdf, schema=INPUT_HINT_SCHEMA)
    emb = (
        image_embeddings(src)
        .where(F.col("error").isNull())
        .select("image_id", "embedding")
    )
    cent = ivf_fit(emb, n_centroids=8, n_iter=8)

    two = {r["image_id"]: r["tier"] for r in image_tier_labels(spark, src, CFG).collect()}
    three = {
        r["image_id"]: (r["tier"], r["is_kept"])
        for r in image_tier_labels(
            spark, src, CFG, emb=emb, centroids=cent, tau=0.9
        ).collect()
    }
    assert set(three) == set(pdf["image_id"].astype(str))
    assert all((t == "kept") == bool(k) for t, k in three.values())

    for iid, tier in two.items():
        if tier in ("exact", "near"):
            assert three[iid][0] == tier, f"{iid}: {tier} -> {three[iid][0]}"
        else:
            assert three[iid][0] in ("kept", "semantic")

    sem = {i for i, (t, _) in three.items() if t == "semantic"}
    assert sem, "semantic tier never fired"
    planted = {
        str(pdf.at[i, "image_id"])
        for i in range(5, len(pdf), 11)
        if pdf.at[i, "bytes"] != base_pdf.at[i, "bytes"]
    }
    assert sem & planted, "no planted re-render reached the semantic tier"

    # absent-embedding rule: drop one planted row's embedding -> it must
    # surface as 'kept' (passes tier 3), everything about tiers 1-2 unchanged
    victim = sorted(sem & planted)[0]
    emb_missing = emb.where(F.col("image_id") != victim)
    three_b = {
        r["image_id"]: r["tier"]
        for r in image_tier_labels(
            spark, src, CFG, emb=emb_missing, centroids=cent, tau=0.9
        ).collect()
    }
    assert three_b[victim] == "kept"


def test_cli_byte_exact_tier_ladder(spark, tmp_path):
    """The production tier-ladder run: --byte-exact --tier-labels
    --pixel-embeddings. (a) tier_labels equals the image_tier_labels
    operator fed the SAME survivor embeddings/centroids (the CLI assembles
    attribution from its own stage outputs with zero recompute; the
    operator recomputes every tier from scratch — agreement pins both);
    (b) all three tiers fire; (c) clusters ran on byte survivors only (the
    funnel: planted re-uploads never reach the near tier); (d) a delta
    chain on the byte-exact base refuses loudly."""
    import pathlib
    import sys

    import pytest
    from pyspark.sql import functions as F

    from simhash_spark.config import DEFAULT_CONFIG as CFG
    from simhash_spark.operators.ann import ivf_fit
    from simhash_spark.operators.multimodal import image_embeddings
    from simhash_spark.plans.pipeline import image_tier_labels
    from simhash_spark.sources.fixtures import (
        INPUT_HINT_SCHEMA,
        make_images_pdf,
        plant_byte_reuploads,
        plant_semantic_rerenders,
    )

    repo = pathlib.Path(__file__).resolve().parents[1]
    sys.path.insert(0, str(repo / "jobs"))
    try:
        import run_pipeline as cli
    finally:
        sys.path.pop(0)

    pdf = plant_semantic_rerenders(
        plant_byte_reuploads(make_images_pdf(300, seed=42, with_bytes=True))
    )
    src = spark.createDataFrame(pdf, schema=INPUT_HINT_SCHEMA)
    inp = tmp_path / "images.parquet"
    src.coalesce(1).write.parquet(str(inp))

    out = tmp_path / "out"
    rc = cli.main(
        [
            "--input", str(inp),
            "--output", str(out),
            # the operator query face (image_tier_labels) composes
            # fingerprint/candidates/verify/cluster WITHOUT the substring
            # stage — match it for the exact-equality gate
            "--no-substring",
            "--byte-exact",
            "--tier-labels",
            "--pixel-embeddings",
            "--semantic-tau", "0.9",
            "--semantic-centroids", "8",
        ]
    )
    assert rc == 0

    got = {
        r["image_id"]: (r["tier"], r["is_kept"])
        for r in spark.read.parquet(str(out / "tier_labels")).collect()
    }
    assert set(got) == set(pdf["image_id"].astype(str))
    counts = {}
    for t, _ in got.values():
        counts[t] = counts.get(t, 0) + 1
    assert counts.get("exact", 0) and counts.get("near", 0) and counts.get("semantic", 0)

    # (c) funnel: every byte-tier drop is absent from the clusters output
    clusters = {r["image_id"] for r in spark.read.parquet(str(out / "clusters")).collect()}
    exact_ids = {i for i, (t, _) in got.items() if t == "exact"}
    assert not (clusters & exact_ids)
    assert clusters == set(got) - exact_ids

    # (a) operator equality with the CLI's own embedding/centroid inputs.
    # Build emb from the SAME parquet scan the CLI read: ivf_fit's
    # small-corpus path trains in input row order (ann.py docstring), so an
    # in-memory frame with different partitioning would give a different —
    # equally valid — quantizer and a spuriously failing equality.
    surv2 = spark.createDataFrame(
        [(i,) for i, (t, _) in got.items() if t in ("kept", "semantic")],
        "image_id string",
    )
    emb = (
        image_embeddings(spark.read.parquet(str(inp)).join(surv2, "image_id", "left_semi"))
        .where(F.col("error").isNull())
        .select("image_id", "embedding")
    )
    cent = ivf_fit(emb, n_centroids=8, n_iter=8)
    expect = {
        r["image_id"]: (r["tier"], r["is_kept"])
        for r in image_tier_labels(
            spark, src, CFG, emb=emb, centroids=cent, tau=0.9
        ).collect()
    }
    assert got == expect

    # keep_list agrees with the ladder: under the min-id rule the kept sets
    # are identical, a semantically dropped cluster's EVERY member is
    # demoted, and every keep_id points at a row that itself survived all
    # three tiers (referential integrity of the decision artifact)
    keep = {
        r["image_id"]: (r["keep_id"], r["is_kept"])
        for r in spark.read.parquet(str(out / "keep_list")).collect()
    }
    kept_ids = {i for i, (kid, k) in keep.items() if k == 1}
    assert kept_ids == {i for i, (t, _) in got.items() if t == "kept"}
    sem_ids = {i for i, (t, _) in got.items() if t == "semantic"}
    assert sem_ids and all(keep[i][1] == 0 for i in sem_ids)
    assert {kid for kid, _ in keep.values()} <= kept_ids

    # same ladder under --keep-rule best-resolution: tier labels are
    # keep-rule-independent, the kept COUNT matches (one survivor per
    # semantically surviving cluster, different member), and referential
    # integrity still holds — the semantic demotion resolves the rung's
    # min-id rep one hop further to the cluster's best-resolution keeper
    out_b = tmp_path / "out_best"
    rc = cli.main(
        [
            "--input", str(inp),
            "--output", str(out_b),
            "--no-substring",
            "--byte-exact",
            "--tier-labels",
            "--pixel-embeddings",
            "--semantic-tau", "0.9",
            "--semantic-centroids", "8",
            "--keep-rule", "best-resolution",
        ]
    )
    assert rc == 0
    got_b = {
        r["image_id"]: (r["tier"], r["is_kept"])
        for r in spark.read.parquet(str(out_b / "tier_labels")).collect()
    }
    assert got_b == got
    keep_b = {
        r["image_id"]: (r["keep_id"], r["is_kept"])
        for r in spark.read.parquet(str(out_b / "keep_list")).collect()
    }
    kept_b = {i for i, (kid, k) in keep_b.items() if k == 1}
    assert len(kept_b) == len(kept_ids)
    assert all(keep_b[i][1] == 0 for i in sem_ids)
    assert {kid for kid, _ in keep_b.values()} <= kept_b

    # (d) the byte-exact base folds increments only under the add-only
    # guard: an increment row that would DEMOTE a base keeper (smaller id,
    # same digest) refuses loudly instead of silently relabeling the index
    from simhash_spark.plans.delta import run_delta

    demoter = pdf.iloc[[0]].copy()
    demoter["image_id"] = "aaa000000000"  # sorts before every base id
    dem_path = tmp_path / "demoter.parquet"
    spark.createDataFrame(demoter, schema=INPUT_HINT_SCHEMA).coalesce(1).write.parquet(
        str(dem_path)
    )
    with pytest.raises(ValueError, match="undercut"):
        run_delta(
            spark,
            str(out / "_checkpoints"),
            str(dem_path),
            str(tmp_path / "delta_ckpt"),
        )


def test_cli_alignment_filter_output(spark, tmp_path):
    """--alignment-filter writes <output>/alignment covering EXACTLY the
    kept set, equal to caption_pixel_alignment run directly on the kept
    rows (the CLI adds only the funnel restriction, never a rule change);
    keep_list itself is untouched by the verdict (alignment is a curation
    table consumers intersect, not a dedup decision)."""
    import pathlib
    import sys

    from pyspark.sql import functions as F

    from simhash_spark.config import DEFAULT_CONFIG as CFG
    from simhash_spark.operators.multimodal import caption_pixel_alignment
    from simhash_spark.sources.fixtures import (
        INPUT_HINT_SCHEMA,
        make_images_pdf,
        plant_alignment_tints,
        plant_byte_reuploads,
    )

    repo = pathlib.Path(__file__).resolve().parents[1]
    sys.path.insert(0, str(repo / "jobs"))
    try:
        import run_pipeline as cli
    finally:
        sys.path.pop(0)

    # byte re-uploads THEN alignment tints: the re-upload copies planted
    # first keep byte groups intact, and the tints give the kept survivors
    # matched/mismatched/absent alignment structure
    pdf = plant_alignment_tints(plant_byte_reuploads(make_images_pdf(120, seed=42, with_bytes=True)))
    src = spark.createDataFrame(pdf, schema=INPUT_HINT_SCHEMA)
    inp = tmp_path / "images.parquet"
    src.coalesce(1).write.parquet(str(inp))

    out = tmp_path / "out"
    rc = cli.main(
        [
            "--input", str(inp),
            "--output", str(out),
            "--byte-exact",
            "--alignment-filter",
            "--alignment-tau", "8500",
        ]
    )
    assert rc == 0

    keep = spark.read.parquet(str(out / "keep_list"))
    kept_ids = {r["image_id"] for r in keep.where("is_kept = 1").collect()}
    align = spark.read.parquet(str(out / "alignment"))
    got = {
        r["image_id"]: (r["align_bp"], r["n_color"], r["keep"], r["reason"])
        for r in align.collect()
    }
    # coverage: exactly the kept set, no dropped row pays the decode
    assert set(got) == kept_ids

    # rule equality: the CLI verdict == the operator on the same kept rows
    direct = caption_pixel_alignment(
        spark.read.parquet(str(inp)).where(F.col("image_id").isin(list(kept_ids))),
        tau_bp=8500,
    )
    expect = {
        r["image_id"]: (r["align_bp"], r["n_color"], r["keep"], r["reason"])
        for r in direct.collect()
    }
    assert got == expect
    # the fixture must actually exercise a drop and a pass among kept rows
    reasons = {v[3] for v in got.values()}
    assert "misaligned" in reasons and "ok" in reasons


def test_cli_above_id_ceiling_matches_broadcast_run(spark, tmp_path, monkeypatch):
    """restrict_to_ids' above-ceiling branch (per-row pass over the whole
    corpus, then a slim semi-join) yields the same alignment verdicts and
    tier labels, semantic rung included, as the default broadcast
    semi-join before the per-row pass."""
    import pathlib
    import sys

    from simhash_spark.config import DEFAULT_CONFIG as CFG
    from simhash_spark.plans import pipeline
    from simhash_spark.sources.fixtures import (
        INPUT_HINT_SCHEMA,
        make_images_pdf,
        plant_alignment_tints,
        plant_byte_reuploads,
        plant_semantic_rerenders,
    )

    repo = pathlib.Path(__file__).resolve().parents[1]
    sys.path.insert(0, str(repo / "jobs"))
    try:
        import run_pipeline as cli
    finally:
        sys.path.pop(0)

    pdf = plant_alignment_tints(
        plant_semantic_rerenders(
            plant_byte_reuploads(make_images_pdf(120, seed=42, with_bytes=True))
        )
    )
    inp = tmp_path / "images.parquet"
    spark.createDataFrame(pdf, schema=INPUT_HINT_SCHEMA).coalesce(1).write.parquet(str(inp))

    def run(name: str) -> dict:
        out = tmp_path / name
        rc = cli.main(
            [
                "--input", str(inp),
                "--output", str(out),
                "--byte-exact",
                "--tier-labels",
                "--pixel-embeddings",
                "--semantic-centroids", "4",
                "--alignment-filter",
            ]
        )
        assert rc == 0
        return {
            t: sorted(tuple(r) for r in spark.read.parquet(str(out / t)).collect())
            for t in ("alignment", "tier_labels")
        }

    default = run("default")
    monkeypatch.setattr(pipeline, "SEMANTIC_BROADCAST_MAX_IDS", 0)
    assert run("above_ceiling") == default
    tiers = {r[1] for r in default["tier_labels"]}
    assert {"exact", "kept"} <= tiers


def test_run_pipeline_cli_stats_start_no_count_pass(spark, tmp_path, jobs_started, capsys):
    """Tripwire against count passes after the run: the pipeline CLI with
    every stage flag on starts exactly the jobs of run_pipeline plus bare
    writes of its outputs, semantic rung included. Its stats come from the
    stage manifests, the 00_quality files and observations on those
    writes, and equal the counts they replace."""
    import json
    import pathlib
    import sys

    from simhash_spark.config import index_config_for
    from simhash_spark.operators.ann import ivf_fit
    from simhash_spark.operators.dedup import assemble_tiers, near_dup_keep_list, semdedup_keep
    from simhash_spark.operators.multimodal import caption_pixel_alignment, image_embeddings
    from simhash_spark.plans.pipeline import (
        restrict_to_ids,
        run_tier_drops,
        semantic_keep_list,
    )
    from simhash_spark.sources.catalog import CheckpointCatalog
    from simhash_spark.sources.fixtures import (
        INPUT_HINT_SCHEMA,
        plant_alignment_tints,
        plant_byte_reuploads,
        plant_semantic_rerenders,
    )

    repo = pathlib.Path(__file__).resolve().parents[1]
    sys.path.insert(0, str(repo / "jobs"))
    try:
        import run_pipeline as cli
    finally:
        sys.path.pop(0)

    pdf = plant_alignment_tints(
        plant_semantic_rerenders(
            plant_byte_reuploads(make_images_pdf(200, seed=42, with_bytes=True))
        )
    )
    inp = str(tmp_path / "images.parquet")
    spark.createDataFrame(pdf, schema=INPUT_HINT_SCHEMA).coalesce(1).write.parquet(inp)
    ck_run = str(tmp_path / "ck_run")

    res = {}
    run = jobs_started(
        lambda: res.update(
            p=run_pipeline(
                spark, inp, ck_run, index_config_for(len(pdf)),
                quality_filter=True, byte_exact=True,
            )
        )
    )

    def pinned(df, name):
        df.write.parquet(str(tmp_path / "bare" / name))
        return spark.read.schema(df.schema).parquet(str(tmp_path / "bare" / name))

    def bare_writes():
        # the row count bounds every id set, under the broadcast ceiling as
        # the CLI's observed counts are
        p, src, n = res["p"], spark.read.parquet(inp), len(pdf)
        pinned(p.clusters, "clusters")
        pinned(p.verified, "verified_pairs")
        emb = pinned(
            restrict_to_ids(
                src,
                p.clusters.where("image_id = cluster_id").select("image_id"),
                n,
                lambda s: image_embeddings(s)
                .where(F.col("error").isNull())
                .select("image_id", "embedding"),
            ),
            "_sem_embeddings",
        )
        cent = ivf_fit(emb, n_centroids=4, n_iter=8, vec_col="embedding")
        sem = pinned(
            semdedup_keep(emb, cent, threshold=0.9, id_col="image_id", vec_col="embedding"),
            "_sem_keep",
        )
        corpus, drops = run_tier_drops(
            CheckpointCatalog(spark, ck_run).read("00b_bytes"), p.clusters
        )
        drops = drops.unionByName(
            sem.where("is_kept = 0").select("image_id", F.lit("semantic").alias("tier"))
        )
        pinned(assemble_tiers(corpus, drops), "tier_labels")
        keep = near_dup_keep_list(p.clusters, id_col="image_id")
        keep = pinned(semantic_keep_list(keep, p.clusters, sem), "keep_list")
        pinned(
            restrict_to_ids(
                src,
                keep.where("is_kept = 1").select("image_id"),
                n,
                lambda s: caption_pixel_alignment(s, tau_bp=8500),
            ),
            "alignment",
        )

    writes = jobs_started(bare_writes)
    ck, out = tmp_path / "ck_cli", tmp_path / "out_cli"
    argv = [
        "--input", inp,
        "--output", str(out),
        "--checkpoint", str(ck),
        "--quality-filter",
        "--byte-exact",
        "--tier-labels",
        "--pixel-embeddings",
        "--semantic-centroids", "4",
        "--alignment-filter",
    ]
    capsys.readouterr()
    n_cli = jobs_started(lambda: cli.main(argv))
    assert run >= 1 and writes >= 1 and n_cli == run + writes

    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    cat = CheckpointCatalog(spark, ck)

    def output(name):
        return spark.read.parquet(str(out / name))

    want = {
        "rows": cat.read("01_fingerprints").count(),
        "quality_dropped": {
            r["reason"]: r["n"] for r in cat.read("00_quality").collect() if r["reason"] != "ok"
        },
        "candidates": cat.read("02_candidates").count(),
        "verified": cat.read("03_verified").count(),
        "clusters": output("clusters").select("cluster_id").distinct().count(),
        "kept": output("keep_list").where("is_kept = 1").count(),
        "misaligned": output("alignment").where("keep = 0").count(),
        "alignment_tau_bp": 8500,
        "tiers": {
            r["tier"]: r["count"] for r in output("tier_labels").groupBy("tier").count().collect()
        },
        "wall_s": stats["wall_s"],
    }
    assert stats == want
    # every stat is exercised: each tier fires, rows are dropped for
    # quality and for misalignment
    assert set(want["tiers"]) == {"exact", "near", "semantic", "kept"}
    assert want["quality_dropped"] and want["misaligned"]


def _compiles(spark) -> int:
    """Classes Janino has compiled in this JVM: the codegen compile-time
    histogram counts one sample per compile, none per cache hit."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics  # noqa: SLF001
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_second_pipeline_run_compiles_no_class(spark, fixture_dir, tmp_path):
    """Tripwire for the codegen cache: get_spark sizes it to hold several
    runs' worth of generated classes, so a second run_pipeline over the
    same input in the same session compiles nothing. With Spark's default
    100 entries, the ~140 classes of one run cycle through the LRU and
    every run recompiles over 100 of them."""
    from simhash_spark.session import CODEGEN_CACHE_ENTRIES

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    inp = str(fixture_dir / "images.parquet")
    run_pipeline(spark, inp, str(tmp_path / "ck1"), CFG)
    before = _compiles(spark)
    run_pipeline(spark, inp, str(tmp_path / "ck2"), CFG)
    assert _compiles(spark) - before == 0


def test_second_curation_run_compiles_no_class(spark, tmp_path):
    """The same tripwire for run_curation with its default stages."""
    from jobs.run_curation import run_curation
    from test_curation import SF

    src = f"{SF}/documents.parquet"
    run_curation(spark, src, str(tmp_path / "out1"))
    before = _compiles(spark)
    run_curation(spark, src, str(tmp_path / "out2"))
    assert _compiles(spark) - before == 0
