"""Batch-incremental (delta) maintenance — equality with the full run.

The contract (plans/delta.py): base labels + increment, folded in via
incremental_near_dup_update, equal the full pipeline over base ∪ increment
whenever no bucket exceeds the cap. Tested three ways: a real-corpus
differential at sf0.001, a hand-built merge of two base clusters through a
bridging increment row (exercises the star-edge replay), and a disjoint
increment (no touched buckets -> base labels verbatim + new singletons).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from simhash_spark.config import DEFAULT_CONFIG as CFG


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_incremental_equals_full_run_sf0001(spark):
    from simhash_spark.plans.delta import text_incremental_clusters
    from simhash_spark.plans.text_dedup import text_near_dup_clusters

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    full = text_near_dup_clusters(docs, "doc_id", "text", CFG)
    split = F.pmod(F.xxhash64("doc_id"), F.lit(2))
    base = docs.where(split == 0)
    inc = docs.where(split == 1)
    assert base.count() > 0 and inc.count() > 0
    delta = text_incremental_clusters(base, inc, "doc_id", "text", CFG)
    assert _rows(delta) == _rows(full)


def _fp_df(spark, rows):
    """Hand-built fingerprint rows: (image_id, simhash, n_shingles, bands).
    Distinct single-element bands per row keep MinHash-LSH out of the test's
    way; the pigeonhole index provides the candidates."""
    return spark.createDataFrame(
        [(i, s, 5, [h]) for i, s, h in rows],
        "image_id string, simhash long, n_shingles int, bands array<long>",
    )


def test_increment_bridges_two_base_clusters(spark):
    """simhash A=0 and B=63 are Hamming 6 apart (two separate base
    clusters); bridge C=7 is within radius 3 of BOTH. The delta step must
    merge everything into one component labeled by the global min id —
    which requires the star edges to relabel a2/b2, members of touched
    clusters that appear in NO new pair."""
    from simhash_spark.plans.delta import incremental_near_dup_update

    base_fp = _fp_df(
        spark, [("a1", 0, 101), ("a2", 0, 102), ("b1", 63, 103), ("b2", 63, 104)]
    )
    base_clusters = spark.createDataFrame(
        [("a1", "a1"), ("a2", "a1"), ("b1", "b1"), ("b2", "b1")],
        "image_id string, cluster_id string",
    )
    fp_new = _fp_df(spark, [("c1", 7, 105)])
    res = incremental_near_dup_update(
        base_fp, base_clusters, fp_new, CFG, include_phash=False
    )
    ver = {(r["a"], r["b"]) for r in res.verified_new.collect()}
    assert ver == {("a1", "c1"), ("a2", "c1"), ("b1", "c1"), ("b2", "c1")}
    assert _rows(res.clusters) == [
        ("a1", "a1"),
        ("a2", "a1"),
        ("b1", "a1"),
        ("b2", "a1"),
        ("c1", "a1"),
    ]


def test_run_delta_chain_equals_full_pipeline(spark, tmp_path, capsys):
    """Production surface: a run_pipeline base catalog extended by TWO
    chained run_delta steps (hash-split corpus, so planted clusters straddle
    the base/increment boundary) must label the union corpus identically to
    one full run — including the substring stage, whose anchor state rides
    the 02b_anchors checkpoint chain instead of re-winnowing the base."""
    from simhash_spark.plans.delta import catalog_chain, run_delta
    from simhash_spark.plans.pipeline import run_pipeline
    from simhash_spark.sources.fixtures import write_images_fixture

    fx = tmp_path / "fx"
    write_images_fixture(fx, n_rows=1200, seed=7, with_bytes=False, with_truth=False)
    full_df = spark.read.parquet(str(fx / "images.parquet"))
    part = F.pmod(F.xxhash64("image_id"), F.lit(4))
    paths = []
    for i, pred in enumerate([part < 2, part == 2, part == 3]):
        p = tmp_path / f"part{i}"
        full_df.where(pred).coalesce(1).write.parquet(str(p))
        paths.append(str(p))

    full = run_pipeline(spark, str(fx / "images.parquet"), str(tmp_path / "ck_full"), CFG)
    run_pipeline(spark, paths[0], str(tmp_path / "ck_base"), CFG)
    run_delta(spark, str(tmp_path / "ck_base"), paths[1], str(tmp_path / "ck_d1"))
    d2 = run_delta(spark, str(tmp_path / "ck_d1"), paths[2], str(tmp_path / "ck_d2"))

    assert catalog_chain(str(tmp_path / "ck_d2")) == [
        str(tmp_path / "ck_base"),
        str(tmp_path / "ck_d1"),
        str(tmp_path / "ck_d2"),
    ]
    assert _rows(d2.clusters) == _rows(full.clusters)
    # the delta verified set never contains old–old pairs
    inc_ids = {r["image_id"] for r in spark.read.parquet(paths[2]).select("image_id").collect()}
    for r in d2.verified_new.collect():
        assert r["a"] in inc_ids or r["b"] in inc_ids
    # every delta stage is checkpointed + resumable
    from simhash_spark.sources.catalog import CheckpointCatalog

    cat = CheckpointCatalog(spark, tmp_path / "ck_d2")
    for stage in (
        "01_fingerprints_delta",
        "02b_anchors_delta",
        "02_candidates_delta",
        "03_verified_delta",
        "04_clusters",
    ):
        m = cat.manifest(stage)
        assert m and m["complete"], stage

    # --- compaction: chain -> ONE fresh root, further deltas compose off it,
    # labels stay identical to the full run (no recompute happened: the new
    # root's fingerprints are the chain union, bucketed like a pipeline E1)
    from jobs.compact import main as compact_main

    # compacting INTO a chain link would rmtree the source fingerprint
    # table mid-read (write clobbers data before the lazy union scans it) —
    # must fail loudly before anything is touched
    import pytest as _pytest

    from simhash_spark.plans.delta import compact_chain

    for bad in (str(tmp_path / "ck_d1"), str(tmp_path / "ck_base")):
        with _pytest.raises(ValueError, match="link of"):
            compact_chain(spark, str(tmp_path / "ck_d1"), bad)
    # chain intact: both links' stage tables untouched
    assert CheckpointCatalog(spark, tmp_path / "ck_base").manifest("01_fingerprints")["complete"]
    assert CheckpointCatalog(spark, tmp_path / "ck_d1").manifest("01_fingerprints_delta")["complete"]

    rc = compact_main(
        ["--tip", str(tmp_path / "ck_d1"), "--checkpoint", str(tmp_path / "ck_comp")]
    )
    assert rc == 0
    comp = CheckpointCatalog(spark, tmp_path / "ck_comp")
    m01 = comp.manifest("01_fingerprints")
    assert m01["bucket_n"] and m01["bucket_cols"] == ["image_id"]
    assert m01["n_rows"] == spark.read.parquet(paths[0]).count() + spark.read.parquet(
        paths[1]
    ).count()
    assert catalog_chain(str(tmp_path / "ck_comp")) == [str(tmp_path / "ck_comp")]
    d2c = run_delta(
        spark, str(tmp_path / "ck_comp"), paths[2], str(tmp_path / "ck_d2c")
    )
    assert catalog_chain(str(tmp_path / "ck_d2c")) == [
        str(tmp_path / "ck_comp"),
        str(tmp_path / "ck_d2c"),
    ]
    assert _rows(d2c.clusters) == _rows(full.clusters)

    # config drift between base and delta must fail loudly, not miss pairs
    import pytest as _pytest
    from dataclasses import replace

    with _pytest.raises(RuntimeError, match="config drift"):
        run_delta(
            spark,
            str(tmp_path / "ck_d2"),
            paths[2],
            str(tmp_path / "ck_bad"),
            cfg=replace(CFG, n_blocks=8),
        )

    # the spark-submit CLI face over the same state
    import json as _json

    from jobs.run_delta import main as delta_main

    rc = delta_main(
        [
            "--base-checkpoint", str(tmp_path / "ck_base"),
            "--increment", paths[1],
            "--checkpoint", str(tmp_path / "ck_cli"),
            "--output", str(tmp_path / "out_cli"),
        ]
    )
    assert rc == 0
    stats = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["rows_total"] == spark.read.parquet(paths[0]).count() + spark.read.parquet(paths[1]).count()
    assert (tmp_path / "out_cli" / "keep_list").exists()


def test_delta_decision_ops_equal_full_run(spark, tmp_path):
    """The decision layer over a CHAINED delta run equals the full run
    (r4 verdict #5): near_dup_keep_best and near_dup_sample_weights are
    deterministic functions of the cluster labels, so maintaining labels
    incrementally must yield the identical keep/weight artifacts a full
    recompute would ship — asserted directly on the operator outputs, not
    just on the labels."""
    from simhash_spark.operators.dedup import near_dup_keep_best, near_dup_sample_weights
    from simhash_spark.plans.delta import run_delta
    from simhash_spark.plans.pipeline import run_pipeline
    from simhash_spark.sources.fixtures import write_images_fixture

    fx = tmp_path / "fx"
    write_images_fixture(fx, n_rows=900, seed=11, with_bytes=False, with_truth=False)
    full_df = spark.read.parquet(str(fx / "images.parquet"))
    part = F.pmod(F.xxhash64("image_id"), F.lit(3))
    paths = []
    for i, pred in enumerate([part < 2, part == 2]):
        p = tmp_path / f"part{i}"
        full_df.where(pred).coalesce(1).write.parquet(str(p))
        paths.append(str(p))

    full = run_pipeline(spark, str(fx / "images.parquet"), str(tmp_path / "ck_full"), CFG)
    run_pipeline(spark, paths[0], str(tmp_path / "ck_base"), CFG)
    delta = run_delta(spark, str(tmp_path / "ck_base"), paths[1], str(tmp_path / "ck_d1"))

    # quality score = caption length (the keep-longest curation rule)
    scores = full_df.select(
        F.col("image_id"), F.length("caption").cast("long").alias("score")
    )
    kb_full = near_dup_keep_best(full.clusters, scores, id_col="image_id")
    kb_delta = near_dup_keep_best(delta.clusters, scores, id_col="image_id")
    assert _rows(kb_full) == _rows(kb_delta)
    assert any(r[2] == 0 for r in _rows(kb_full))  # real dups exist in the fixture

    sw_full = near_dup_sample_weights(full.clusters, id_col="image_id")
    sw_delta = near_dup_sample_weights(delta.clusters, id_col="image_id")
    assert _rows(sw_full) == _rows(sw_delta)


def test_disjoint_increment_keeps_base_labels_verbatim(spark):
    """An increment sharing no bucket with the base: zero new verified
    pairs, base labels pass through untouched, increment rows become
    self-labeled singletons."""
    from simhash_spark.plans.delta import incremental_near_dup_update

    base_fp = _fp_df(spark, [("a1", 0, 101), ("a2", 0, 102)])
    base_clusters = spark.createDataFrame(
        [("a1", "a1"), ("a2", "a1")], "image_id string, cluster_id string"
    )
    # every 16-bit pigeonhole block differs from the base rows' zeros
    far = 0x1111_2222_3333_4444
    fp_new = _fp_df(spark, [("z9", far, 999)])
    res = incremental_near_dup_update(
        base_fp, base_clusters, fp_new, CFG, include_phash=False
    )
    assert res.verified_new.count() == 0
    assert _rows(res.clusters) == [("a1", "a1"), ("a2", "a1"), ("z9", "z9")]


def test_delta_inherits_quality_filter(spark, tmp_path):
    """A base built with quality_filter=True must make every chained delta
    apply the SAME keep/drop rules to its increment (restored from chain
    metadata like the config): base+delta == one full filtered run, and
    dropped-quality increment rows never enter the index."""
    from simhash_spark.operators.search import image_quality_filter
    from simhash_spark.plans.delta import chain_run_metadata, run_delta
    from simhash_spark.plans.pipeline import run_pipeline
    from simhash_spark.sources.fixtures import write_images_fixture

    fx = tmp_path / "fx"
    write_images_fixture(fx, n_rows=800, seed=9, with_bytes=False, with_truth=False)
    full_df = spark.read.parquet(str(fx / "images.parquet"))
    part = F.pmod(F.xxhash64("image_id"), F.lit(2))
    paths = []
    for i, pred in enumerate([part == 0, part == 1]):
        p = tmp_path / f"part{i}"
        full_df.where(pred).coalesce(1).write.parquet(str(p))
        paths.append(str(p))

    full = run_pipeline(
        spark, str(fx / "images.parquet"), str(tmp_path / "ck_full"), CFG,
        quality_filter=True,
    )
    run_pipeline(spark, paths[0], str(tmp_path / "ck_base"), CFG, quality_filter=True)
    meta = chain_run_metadata(spark, str(tmp_path / "ck_base"))
    assert meta["quality_filter"] is True
    d1 = run_delta(spark, str(tmp_path / "ck_base"), paths[1], str(tmp_path / "ck_d1"))
    assert _rows(d1.clusters) == _rows(full.clusters)

    inc = spark.read.parquet(paths[1])
    dropped = {
        r["image_id"]
        for r in image_quality_filter(inc).where("keep = 0").collect()
    }
    assert dropped  # the fixture must exercise the drop path
    labeled = {r["image_id"] for r in d1.clusters.collect()}
    assert not (dropped & labeled)


def test_run_delta_rejects_self_pointing_chain(spark, tmp_path):
    """checkpoint_path == base_checkpoint would write a self-pointer that
    makes every catalog_chain walk raise 'delta chain cycle' and then
    overwrite the base's 04_clusters stage — must fail loudly BEFORE any
    read or write happens (no base catalog even needs to exist)."""
    import pytest

    from simhash_spark.plans.delta import run_delta

    same = tmp_path / "self_ckpt"
    with pytest.raises(ValueError, match="must differ"):
        run_delta(spark, str(same), str(tmp_path / "inc"), str(same))
    assert not same.exists()  # nothing was created


def test_run_delta_byte_exact_chain_equals_full_run(spark, tmp_path):
    """Byte-exact bases fold increments too (the ladder's first rung made
    add-only): a run_pipeline(byte_exact=True) base extended by two deltas —
    one folded off the live chain, one off a COMPACTED root — labels the
    union corpus identically to one full byte-exact run. The increment
    carries every byte shape: re-uploads of BASE bytes (suppressed against
    the chain's 00b index, never fingerprinted), re-uploads WITHIN the
    increment (within-increment min-id keeper — the full-run min, since the
    group lives wholly in the increment), fresh rows, and a NULL-bytes row
    (absent content passes every tier). A demoting increment (smaller id
    than a base keeper, same digest) raises instead of silently folding."""
    import pandas as pd
    import pytest

    from simhash_spark.plans.delta import (
        catalog_chain,
        compact_chain,
        run_delta,
    )
    from simhash_spark.plans.pipeline import run_pipeline
    from simhash_spark.sources.catalog import CheckpointCatalog
    from simhash_spark.sources.fixtures import (
        INPUT_HINT_SCHEMA,
        make_images_pdf,
        plant_byte_reuploads,
    )

    pdf = plant_byte_reuploads(make_images_pdf(360, seed=11, with_bytes=True))
    pdf.at[300, "bytes"] = None  # absent content rides through the byte tier
    parts = [pdf.iloc[:240], pdf.iloc[240:300], pdf.iloc[300:]]
    paths = []
    for i, part in enumerate([pdf, *parts]):
        p = tmp_path / f"part{i}.parquet"
        spark.createDataFrame(part, schema=INPUT_HINT_SCHEMA).coalesce(1).write.parquet(
            str(p)
        )
        paths.append(str(p))
    full_path, base_path, inc1_path, inc2_path = paths

    # the planted re-upload stream (i % 7 == 3 copies i-3) must exercise
    # BOTH cross-boundary suppression (base keeper) and within-increment
    # groups under the id-ascending split — assert the fixture delivers
    planted1 = [i for i in range(240, 300) if i % 7 == 3]
    cross = {i for i in planted1 if i - 3 < 240}
    within = {i for i in planted1 if i - 3 >= 240}
    assert cross and within

    full = run_pipeline(
        spark, full_path, str(tmp_path / "ck_full"), CFG, byte_exact=True
    )
    run_pipeline(spark, base_path, str(tmp_path / "ck_base"), CFG, byte_exact=True)
    d1 = run_delta(spark, str(tmp_path / "ck_base"), inc1_path, str(tmp_path / "ck_d1"))
    d2 = run_delta(spark, str(tmp_path / "ck_d1"), inc2_path, str(tmp_path / "ck_d2"))
    assert _rows(d2.clusters) == _rows(full.clusters)
    # every link records the same run flags its root does
    link01 = CheckpointCatalog(spark, tmp_path / "ck_d1").manifest("01_fingerprints_delta")
    assert link01["byte_exact"] is True

    # suppressed re-uploads never reach the fingerprint stage; survivors all do
    bx1 = CheckpointCatalog(spark, tmp_path / "ck_d1").read("00b_bytes_delta")
    sup1 = {r["image_id"] for r in bx1.where("image_id != keep_id").collect()}
    assert {f"img{i:09d}" for i in cross} <= sup1
    base_ids = set(parts[0]["image_id"])
    assert any(  # at least one suppression resolved against a BASE keeper
        r["keep_id"] in base_ids for r in bx1.where("image_id != keep_id").collect()
    )
    fp1_ids = {r["image_id"] for r in d1.fingerprints_new.select("image_id").collect()}
    assert fp1_ids == set(parts[1]["image_id"]) - sup1
    # the NULL-bytes row is fingerprinted and labeled despite no digest
    assert "img000000300" in {r["image_id"] for r in d2.clusters.collect()}

    # compaction carries the byte index + flag; deltas compose off the root
    compact_chain(spark, str(tmp_path / "ck_d1"), str(tmp_path / "ck_comp"))
    comp = CheckpointCatalog(spark, tmp_path / "ck_comp")
    assert comp.manifest("01_fingerprints")["byte_exact"] is True
    m00 = comp.manifest("00b_bytes")
    assert m00 and m00["complete"]
    d2c = run_delta(
        spark, str(tmp_path / "ck_comp"), inc2_path, str(tmp_path / "ck_d2c")
    )
    assert catalog_chain(str(tmp_path / "ck_d2c")) == [
        str(tmp_path / "ck_comp"),
        str(tmp_path / "ck_d2c"),
    ]
    assert _rows(d2c.clusters) == _rows(full.clusters)

    # delta CLI --tier-labels: chain-assembled attribution (exact drops from
    # the unioned 00b index, near drops from the updated clusters) equals
    # the FULL run's own state-derived attribution
    from jobs.run_delta import main as delta_main

    rc = delta_main(
        [
            "--base-checkpoint", str(tmp_path / "ck_d1"),
            "--increment", inc2_path,
            "--checkpoint", str(tmp_path / "ck_cli"),
            "--output", str(tmp_path / "out_cli"),
            "--tier-labels",
        ]
    )
    assert rc == 0
    got_tiers = _rows(spark.read.parquet(str(tmp_path / "out_cli" / "tier_labels")))
    full_bx = CheckpointCatalog(spark, tmp_path / "ck_full").read("00b_bytes")
    full_exact = full_bx.where("image_id != keep_id").select(
        "image_id", F.lit("exact").alias("tier")
    )
    full_near = full.clusters.where("image_id != cluster_id").select(
        "image_id", F.lit("near").alias("tier")
    )
    want_tiers = _rows(
        full.clusters.select("image_id")
        .unionByName(full_exact.select("image_id"))
        .join(full_exact.unionByName(full_near), "image_id", "left")
        .select(
            "image_id",
            F.coalesce(F.col("tier"), F.lit("kept")).alias("tier"),
            F.col("tier").isNull().cast("int").alias("is_kept"),
        )
    )
    assert got_tiers == want_tiers
    assert {t for _, t, _ in got_tiers} == {"exact", "near", "kept"}

    # add-only guard: an increment row demoting a base keeper raises
    demoter = pdf.iloc[[0]].copy()
    demoter["image_id"] = "aaa000000000"
    dem_path = tmp_path / "demoter.parquet"
    spark.createDataFrame(demoter, schema=INPUT_HINT_SCHEMA).coalesce(1).write.parquet(
        str(dem_path)
    )
    with pytest.raises(ValueError, match="undercut"):
        run_delta(
            spark, str(tmp_path / "ck_d2"), str(dem_path), str(tmp_path / "ck_bad")
        )


def test_run_delta_cli_alignment_delta(spark, tmp_path):
    """--alignment-filter on the delta CLI writes the cross-modal verdict
    for the INCREMENT's newly-kept rows only (the per-row-pure add-only
    face: base verdicts can never change, so the chain's full coverage is
    the union of per-link alignment_delta tables), equal to the operator
    run directly on the same rows."""
    import pathlib
    import sys

    from simhash_spark.operators.multimodal import caption_pixel_alignment
    from simhash_spark.plans.pipeline import run_pipeline
    from simhash_spark.sources.fixtures import (
        INPUT_HINT_SCHEMA,
        make_images_pdf,
        plant_alignment_tints,
    )

    repo = pathlib.Path(__file__).resolve().parents[1]
    sys.path.insert(0, str(repo / "jobs"))
    try:
        import run_delta as cli
    finally:
        sys.path.pop(0)

    pdf = plant_alignment_tints(make_images_pdf(200, seed=11, with_bytes=True))
    mid = sorted(pdf["image_id"])[120]
    base_pdf, inc_pdf = pdf[pdf["image_id"] < mid], pdf[pdf["image_id"] >= mid]
    base_p, inc_p = tmp_path / "base.parquet", tmp_path / "inc.parquet"
    spark.createDataFrame(base_pdf, schema=INPUT_HINT_SCHEMA).coalesce(1).write.parquet(str(base_p))
    spark.createDataFrame(inc_pdf, schema=INPUT_HINT_SCHEMA).coalesce(1).write.parquet(str(inc_p))

    run_pipeline(spark, str(base_p), str(tmp_path / "ck_base"), CFG)
    out = tmp_path / "out"
    rc = cli.main(
        [
            "--base-checkpoint", str(tmp_path / "ck_base"),
            "--increment", str(inc_p),
            "--checkpoint", str(tmp_path / "ck_d1"),
            "--output", str(out),
            "--alignment-filter",
            "--alignment-tau", "8500",
        ]
    )
    assert rc == 0

    keep = spark.read.parquet(str(out / "keep_list"))
    kept_ids = {r["image_id"] for r in keep.where("is_kept = 1").collect()}
    inc_ids = set(inc_pdf["image_id"].astype(str))
    got = {
        r["image_id"]: (r["align_bp"], r["n_color"], r["keep"], r["reason"])
        for r in spark.read.parquet(str(out / "alignment_delta")).collect()
    }
    # coverage: exactly the increment's newly-kept rows — never a base row
    assert set(got) == kept_ids & inc_ids and set(got)

    direct = caption_pixel_alignment(
        spark.read.parquet(str(inc_p)).where(F.col("image_id").isin(list(got))),
        tau_bp=8500,
    )
    expect = {
        r["image_id"]: (r["align_bp"], r["n_color"], r["keep"], r["reason"])
        for r in direct.collect()
    }
    assert got == expect
    reasons = {v[3] for v in got.values()}
    assert "ok" in reasons and "misaligned" in reasons


def test_run_delta_cli_stats_start_no_count_pass(spark, tmp_path, jobs_started, capsys):
    """Tripwire against count passes after the fold: the delta CLI starts
    exactly the jobs of run_delta plus bare writes of its outputs. Its stats
    come from the delta catalog's manifests and from observations on those
    writes, and equal the counts they replace."""
    import json

    from jobs.run_delta import main as delta_main
    from simhash_spark.operators.dedup import near_dup_keep_list
    from simhash_spark.operators.multimodal import caption_pixel_alignment
    from simhash_spark.plans.delta import run_delta
    from simhash_spark.plans.pipeline import restrict_to_ids, run_pipeline
    from simhash_spark.sources.catalog import CheckpointCatalog
    from simhash_spark.sources.fixtures import (
        INPUT_HINT_SCHEMA,
        make_images_pdf,
        plant_alignment_tints,
        plant_byte_reuploads,
    )

    pdf = plant_byte_reuploads(
        plant_alignment_tints(make_images_pdf(200, seed=11, with_bytes=True))
    )
    base_p, inc_p = str(tmp_path / "base.parquet"), str(tmp_path / "inc.parquet")
    for p, part in ((base_p, pdf.iloc[:120]), (inc_p, pdf.iloc[120:])):
        spark.createDataFrame(part, schema=INPUT_HINT_SCHEMA).coalesce(1).write.parquet(p)
    base = str(tmp_path / "ck_base")
    run_pipeline(spark, base_p, base, CFG, byte_exact=True)

    res = {}
    run = jobs_started(
        lambda: res.update(d=run_delta(spark, base, inc_p, str(tmp_path / "ck_run")))
    )

    def bare_writes():
        d, o = res["d"], tmp_path / "bare"
        d.clusters.write.parquet(str(o / "clusters"))
        d.verified_new.write.parquet(str(o / "verified_pairs_delta"))
        keep = near_dup_keep_list(d.clusters, id_col="image_id")
        keep.write.parquet(str(o / "keep_list"))
        kept = spark.read.schema(keep.schema).parquet(str(o / "keep_list"))
        # the chain's row count bounds its kept ids, under the broadcast
        # ceiling as the CLI's observed count is
        restrict_to_ids(
            spark.read.parquet(inc_p),
            kept.where("is_kept = 1").select("image_id"),
            len(pdf),
            lambda src: caption_pixel_alignment(src, tau_bp=8500),
        ).write.parquet(str(o / "alignment_delta"))

    writes = jobs_started(bare_writes)
    ck, out = tmp_path / "ck_cli", tmp_path / "out_cli"
    argv = [
        "--base-checkpoint", base,
        "--increment", inc_p,
        "--checkpoint", str(ck),
        "--output", str(out),
        "--alignment-filter",
    ]
    capsys.readouterr()
    cli = jobs_started(lambda: delta_main(argv))
    assert run >= 1 and writes >= 1 and cli == run + writes

    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    cat = CheckpointCatalog(spark, ck)
    clusters = spark.read.parquet(str(out / "clusters"))
    align = spark.read.parquet(str(out / "alignment_delta"))
    want = {
        "byte_suppressed": cat.read("00b_bytes_delta").where("image_id != keep_id").count(),
        "alignment_delta_rows": align.count(),
        "misaligned_delta": align.where("keep = 0").count(),
        "alignment_tau_bp": 8500,
        "increment_rows": cat.read("01_fingerprints_delta").count(),
        "candidates_delta": cat.read("02_candidates_delta").count(),
        "verified_delta": cat.read("03_verified_delta").count(),
        "rows_total": clusters.count(),
        "clusters": clusters.select("cluster_id").distinct().count(),
        "kept": spark.read.parquet(str(out / "keep_list")).where("is_kept = 1").count(),
        "wall_s": stats["wall_s"],
    }
    assert stats == want
    assert want["byte_suppressed"] and want["misaligned_delta"] and want["verified_delta"]


def test_run_delta_hot_anchor_push_equals_full_run(spark, tmp_path):
    """An increment that pushes substring anchors from cold (base: at most
    24 docs each, under the cap of 32) to hot (60 docs) folds in exactly:
    the delta labels equal the full run's, which equal compute_truth's."""
    import pandas as pd

    from simhash_spark.config import PipelineConfig
    from simhash_spark.plans.delta import run_delta
    from simhash_spark.plans.pipeline import run_pipeline
    from simhash_spark.sources.catalog import CheckpointCatalog
    from simhash_spark.sources.fixtures import (
        INPUT_HINT_SCHEMA,
        compute_truth,
        make_hot_anchor_pdf,
    )

    cfg = PipelineConfig(bucket_cap=32)
    pdf = make_hot_anchor_pdf(60, 40)
    family, other = pdf.iloc[:60], pdf.iloc[60:]
    parts = {
        "full": pdf,
        "base": pd.concat([family.iloc[:24], other.iloc[:20]]),
        "inc": pd.concat([family.iloc[24:], other.iloc[20:]]),
    }
    paths = {}
    for name, part in parts.items():
        paths[name] = str(tmp_path / f"{name}.parquet")
        spark.createDataFrame(part, INPUT_HINT_SCHEMA).coalesce(1).write.parquet(paths[name])

    full = run_pipeline(spark, paths["full"], str(tmp_path / "ck_full"), cfg)
    run_pipeline(spark, paths["base"], str(tmp_path / "ck_base"), cfg)
    d = run_delta(spark, str(tmp_path / "ck_base"), paths["inc"], str(tmp_path / "ck_d"))

    def hot_anchors(ck: str) -> int:
        return CheckpointCatalog(spark, tmp_path / ck).manifest("02b_substr")["hot_anchors"]

    assert hot_anchors("ck_base") == 0 and hot_anchors("ck_full") >= 1
    _, truth = compute_truth(pdf, cfg)
    assert _rows(full.clusters) == sorted(zip(truth["image_id"], truth["cluster_id"]))
    assert _rows(d.clusters) == _rows(full.clusters)


def test_run_delta_refuses_anchor_table_without_contexts(spark, tmp_path):
    """A base whose 02b_anchors predates the occurrence contexts (bare id,
    anchor rows) cannot verify substring pairs: run_delta refuses it from
    the manifests alone, before it writes anything, and the stage identity
    no longer carries the tag such catalogs were written under."""
    import json
    from dataclasses import asdict

    import pytest

    from simhash_spark.plans.delta import run_delta
    from simhash_spark.plans.pipeline import stage_fingerprint
    from simhash_spark.sources.catalog import MANIFEST_NAME

    base = tmp_path / "ck_old"
    manifests = {
        "01_fingerprints": {
            "complete": True,
            "config": asdict(CFG),
            "enable_substring": True,
            "include_phash": True,
            "input_path": str(tmp_path / "old.parquet"),
        },
        "02b_anchors": {
            "complete": True,
            "schema": {
                "type": "struct",
                "fields": [
                    {"name": "id", "type": "string", "nullable": True, "metadata": {}},
                    {"name": "anchor", "type": "long", "nullable": True, "metadata": {}},
                ],
            },
        },
    }
    for stage, m in manifests.items():
        (base / stage).mkdir(parents=True)
        (base / stage / MANIFEST_NAME).write_text(json.dumps(m))
    out = tmp_path / "ck_new"
    with pytest.raises(RuntimeError, match="anchor contexts"):
        run_delta(spark, str(base), str(tmp_path / "inc.parquet"), str(out))
    assert not out.exists()

    inp = tmp_path / "inc.parquet"
    inp.write_bytes(b"")
    assert "-ss1" not in stage_fingerprint(str(inp), CFG, True, True)


def test_run_delta_refuses_base_with_retired_config_keys(spark, tmp_path):
    """A base whose recorded config still holds a key PipelineConfig no
    longer has (``salt_buckets``, the fan-out of the retired salted chain)
    is refused with an error that names the rebuild, before anything is
    written: no TypeError from rebuilding the config escapes, neither from
    run_delta nor from compact_chain. So is a base quality-filtered with
    non-default thresholds (the retired ``quality_overrides``), which an
    increment filtered by the default rules would not match; a base that
    recorded empty overrides still extends."""
    import json
    from dataclasses import asdict

    import pytest

    from simhash_spark.plans.delta import chain_run_metadata, compact_chain, run_delta
    from simhash_spark.sources.catalog import MANIFEST_NAME

    base = tmp_path / "ck_old"
    (base / "01_fingerprints").mkdir(parents=True)
    (base / "01_fingerprints" / MANIFEST_NAME).write_text(
        json.dumps(
            {
                "complete": True,
                "config": {**asdict(CFG), "salt_buckets": 16},
                "enable_substring": False,
                "include_phash": True,
                "input_path": str(tmp_path / "old.parquet"),
            }
        )
    )
    out = tmp_path / "ck_new"
    with pytest.raises(RuntimeError, match=r"salt_buckets.*rebuild the base"):
        run_delta(spark, str(base), str(tmp_path / "inc.parquet"), str(out))
    assert not out.exists()
    compacted = tmp_path / "ck_compact"
    with pytest.raises(RuntimeError, match="rebuild the base"):
        compact_chain(spark, str(base), str(compacted))
    assert not compacted.exists()

    manifest = base / "01_fingerprints" / MANIFEST_NAME
    root = {**json.loads(manifest.read_text()), "config": asdict(CFG), "quality_filter": True}
    manifest.write_text(json.dumps({**root, "quality_overrides": {}}))
    assert chain_run_metadata(spark, str(base))["quality_filter"] is True
    manifest.write_text(json.dumps({**root, "quality_overrides": {"min_pixels": 9999}}))
    with pytest.raises(RuntimeError, match=r"min_pixels.*rebuild the base"):
        run_delta(spark, str(base), str(tmp_path / "inc.parquet"), str(out))
    assert not out.exists()
    with pytest.raises(RuntimeError, match="rebuild the base"):
        compact_chain(spark, str(base), str(compacted))
    assert not compacted.exists()
