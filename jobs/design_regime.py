"""Design-regime ladders: the at-scale runs every BENCH/*.md table cites.

Each ladder is one entry of ``LADDERS``: its flag, the cached corpus it
runs on, its rung rule (ROWS/4, ROWS/2, ROWS, or the single rung ROWS) and
a ``run(spark, n, path) -> dict`` per rung. Every ladder is opt-in (ROWS
defaults to 0). All requested corpora are built before the JVM starts
(process-pool fork safety; deterministic seeds, cached under
``$SPARK_GRAFT_CACHE``, no external data); one session then runs the
requested ladders in table order. Every wall goes through
``bench.best_of`` (clearCache + driver GC before each repetition, outside
the timer). Prints one JSON line per rung and a summary line.

Usage:  python jobs/design_regime.py [--cpus N] [--docs ROWS] [--vecs ROWS]
            [--wide ROWS] [--e2e ROWS] [--embed ROWS] [--alignment ROWS]
            [--byte-funnel ROWS] [--ann ROWS] [--semdedup ROWS]
            [--bloom ROWS] [--delta ROWS] [--delta-byte ROWS]

``--cpus`` defaults to ``session.default_parallelism()`` (``SPARK_GRAFT_CPUS``,
else the host's CPU count). ``--help`` describes each ladder.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import pathlib
import shutil
import sys
from functools import partial

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from bench import (  # noqa: E402
    CACHE,
    best_of,
    cached_corpus,
    ensure_images_corpus,
    images_part,
    sink,
    warm_up,
)
from simhash_spark.config import DEFAULT_CONFIG as CFG  # noqa: E402

DIM = 64  # embedding corpus dimension
PAYLOAD = 4096  # bytes-corpus payload size


def _payloads(seed: int, n: int, size: int, base: list | tuple = ()) -> list[bytes]:
    """Deterministic pseudorandom payloads: the byte tier only ever md5s
    them, so SIZE is what the measurement needs, not decodability. Every
    5th row from row 1 re-uses ``base[j % len(base)]`` when given; then
    every 7th copies row j-3 (the plant_byte_reuploads rule: ~14% byte
    re-uploads)."""
    import numpy as np

    raw = np.random.default_rng(seed).integers(0, 256, size=(n, size), dtype=np.uint8)
    out = [raw[j].tobytes() for j in range(n)]
    for j in range(1, n, 5) if len(base) else ():
        out[j] = base[j % len(base)]
    for j in range(3, n, 7):
        out[j] = out[j - 3]
    return out


def _bytes_part(i: int, rows: int):
    pdf = images_part(i, rows, seed=4200)
    pdf["bytes"] = _payloads(777 + i, rows, PAYLOAD)
    return pdf


def _vec_part(i: int, rows: int, dup_frac: float = 0.08):
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(1000 + i)
    base = rng.standard_normal((rows, DIM)).astype(np.float32)
    # plant near-dups: the last dup_frac of the part are perturbed copies of
    # random earlier rows (cosine >= ~0.99 after the small noise)
    n_dup = int(rows * dup_frac)
    if n_dup:
        src = rng.integers(0, rows - n_dup, n_dup)
        base[rows - n_dup :] = base[src] + rng.standard_normal((n_dup, DIM)).astype(np.float32) * 0.02
    ids = np.arange(i * 10_000_000, i * 10_000_000 + rows, dtype=np.int64)
    return pa.table({"vec_id": ids, "embedding": list(base)})


def ensure_bytes_corpus(n: int) -> pathlib.Path:
    """Image corpus WITH 4 KiB binary payloads and ~14% planted byte
    re-uploads."""
    return cached_corpus(
        f"images_bytes_{n}_p{PAYLOAD}_v1", n, max(5_000, min(50_000, n // 32)), _bytes_part
    )


def ensure_ppm_corpus(n: int) -> pathlib.Path:
    """Image corpus with REAL decodable PPM payloads (the fixture
    generator's pixels, 32-64 px)."""
    return cached_corpus(
        f"images_ppm_{n}_v1",
        n,
        max(2_500, min(25_000, n // 32)),
        partial(images_part, seed=5200, with_bytes=True),
    )


def ensure_embeddings_corpus(n: int) -> pathlib.Path:
    """64-dim float32 embedding corpus with ~8% planted near-dups."""
    return cached_corpus(f"embeddings_{n}_d{DIM}_v1", n, max(10_000, min(100_000, n // 32)), _vec_part)


def _symlink_dir(out: pathlib.Path, links: dict) -> pathlib.Path:
    """``out`` as a directory of symlinks ``{name: target}``, built once."""
    if not (out / "_SUCCESS").exists():
        shutil.rmtree(out, ignore_errors=True)
        out.mkdir(parents=True)
        for name, target in links.items():
            os.symlink(target, out / name)
        (out / "_SUCCESS").touch()
    return out


def _delta_corpus(n: int) -> tuple:
    """(full, base, increment) for --delta: the increment is the last
    ``max(1, n // 100)`` rows of the corpus (1% from 100 rows up), carved
    off the tail of its last part files — the append-arrival shape. Whole
    parts are symlinked; the one part the cut falls inside is split in two
    files, so base ∪ increment is the full corpus row for row."""
    import pyarrow.parquet as pq

    full = ensure_images_corpus(n)
    split = CACHE / f"delta_split_{n}_v2"
    if not (split / "_SUCCESS").exists():
        shutil.rmtree(split, ignore_errors=True)
        for side in ("base", "inc"):
            (split / side).mkdir(parents=True)
        need = max(1, n // 100)
        for p in sorted(full.glob("part-*.parquet"), reverse=True):
            rows = pq.read_metadata(p).num_rows
            if 0 < need < rows:
                t = pq.read_table(p)
                pq.write_table(t.slice(0, rows - need), split / "base" / p.name)
                pq.write_table(t.slice(rows - need), split / "inc" / p.name)
            else:
                os.symlink(p, split / ("inc" if need else "base") / p.name)
            need -= min(need, rows)
        (split / "_SUCCESS").touch()
    return full, split / "base", split / "inc"


def _inc_part(i: int, rows: int, base: pathlib.Path):
    """The --delta-byte increment. The add-only guard's PER-ROW invariant:
    increment row j (id ``img{j:09d}_inc``) may only re-use a base payload
    whose keeper id sorts BEFORE it. Sampling part-0000 row ``j % m``
    guarantees that: j % m <= j, ids are zero-padded, and ``_c`` < ``_i``
    on an equal digit prefix, so ``img{j%m}_c000`` (and the group's keeper,
    which has an even smaller index) always precedes ``img{j}_inc``. NOTE
    this is an index-by-index argument, NOT "every _inc id sorts after
    every part-0000 id" (false: img…001_inc < img…500_c000) — do not
    replace the ``j % m`` rule with random sampling or the guard will
    correctly raise at regime. Payload mix: ~20% base re-uploads by that
    rule, ~14% within-increment re-uploads, rest fresh."""
    import pyarrow.parquet as pq

    from simhash_spark.sources.fixtures import make_images_pdf

    base0 = pq.read_table(base / "part-0000.parquet", columns=["bytes"]).column("bytes").to_pylist()
    pdf = make_images_pdf(rows, seed=999_001, with_bytes=False, hot_frac=0.002)
    pdf["image_id"] = pdf["image_id"] + "_inc"
    pdf["bytes"] = _payloads(999_002, rows, PAYLOAD, base0)
    return pdf


def _delta_byte_corpus(n: int) -> tuple:
    """(base ∪ increment, base, increment) for --delta-byte: the bytes
    corpus plus an increment of n/64 rows, and one symlinked scan target
    over both."""
    base = ensure_bytes_corpus(n)
    n_inc = max(1, n // 64)
    inc = cached_corpus(
        f"delta_byte_inc_{n_inc}_p{PAYLOAD}_v1", n_inc, n_inc, partial(_inc_part, base=base)
    )
    links = {f"base-{p.name}": p for p in sorted(base.glob("part-*.parquet"))}
    links["inc-part-0000.parquet"] = inc / "part-0000.parquet"
    return _symlink_dir(CACHE / f"delta_byte_union_{n}", links), base, inc


# ---------------------------------------------------------------- rung runs


def _stages(ck: pathlib.Path) -> dict:
    """Per-stage manifest wall and rows of one run_pipeline catalog."""
    out = {}
    for mf in sorted(ck.glob("*/_manifest.json")):
        m = json.loads(mf.read_text())
        out[mf.parent.name] = {"wall_s": round(m.get("wall_ms", 0) / 1000, 1), "rows": m.get("n_rows")}
    return out


def _pipeline(spark, src, ck: pathlib.Path, reps: int = 1, **kw) -> tuple:
    """run_pipeline into fresh catalogs (no resume skips): the best wall of
    ``reps`` with that run's (label count, manifest stages)."""
    from simhash_spark.plans.pipeline import run_pipeline

    shutil.rmtree(ck, ignore_errors=True)
    draw = itertools.count()

    def run():
        out = ck / f"r{next(draw)}"
        return run_pipeline(spark, str(src), str(out), **kw).clusters.count(), _stages(out)

    return best_of(spark, run, reps)


def run_docs(spark, n, path) -> dict:
    """substring_pairs on n caption docs (the bench corpus's planted
    substring dups + hot caption included): the winnow-anchor equi-join
    and verification at the anchor (cold all-pairs context test, hot
    run-keyed chains). The plan is run_pipeline's 02b stages, whose
    observed keys are the 02b_substr manifest's."""
    from simhash_spark.operators.substring import (
        substring_stage_summary,
        verify_substring_pairs,
        winnow_anchor_table,
    )
    from simhash_spark.sources.catalog import StageObservations

    docs = spark.read.parquet(str(path)).select("image_id", "caption")
    obs = StageObservations()
    wall, pairs = best_of(
        spark,
        lambda: verify_substring_pairs(
            winnow_anchor_table(docs, CFG), CFG, observe=obs.observe
        ).count(),
    )
    return {
        "rows": n,
        "wall_s": round(wall, 1),
        "pairs": pairs,
        "docs_per_sec": round(n / wall, 1),
        **substring_stage_summary(obs.get()),
    }


def run_vecs(spark, n, path) -> dict:
    """embedding_near_dup (one-sided multi-probe SRP LSH): the bare-id pair
    dedup + vector re-join plan. The signature width is corpus-size
    adaptive (srp_planes_for — fixed-width keys go quadratic in random
    collisions); the one-sided probe covers per-table Hamming <= 1."""
    from simhash_spark.operators.ann import srp_planes_for
    from simhash_spark.operators.dedup import embedding_near_dup

    emb = spark.read.parquet(str(path))
    planes = srp_planes_for(n, n_tables=2)
    wall, pairs = best_of(
        spark,
        lambda: embedding_near_dup(emb, threshold=0.9, use_lsh=True, n_planes=planes, n_tables=2).count(),
    )
    return {
        "rows": n,
        "dim": DIM,
        "n_planes": planes,
        "wall_s": round(wall, 1),
        "pairs": pairs,
        "vecs_per_sec": round(n / wall, 1),
    }


def _wide_corpus(n: int) -> pathlib.Path:
    # the top rung shuffles ~3e9 (k, id) rows — more than tmpfs + JVM can
    # hold together; split shuffle/spill round-robin across tmpfs + disk
    # (session.py SPARK_GRAFT_LOCAL_DIR override)
    (CACHE / "spark-local").mkdir(parents=True, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR", f"/dev/shm/spark-local,{CACHE / 'spark-local'}")
    return ensure_images_corpus(n)


def run_wide(spark, n, path) -> dict:
    """The 16-block pigeonhole config (C(16,13)=560 tables of 52-bit keys,
    config.index_config_for's 10^12 design point) AT ITS REGIME:
      keygen — keys/s through the vectorized numpy keygen UDF, the FULL
               production key set (32 bands + 560 simhash + 560 phash
               combos per row); count() forces every key.
      cand   — the full candidate operator (one packed-key exchange, window
               bucket count, capped collect / id-order chains, pair dedup) in
               the text-corpus shape (no phash index: 592 keys/row; the
               phash rotation index is structurally identical and only
               doubles constant shuffle volume).
    Linearity evidence = pairs_per_row and keys_per_s flat across the 4x
    ladder; expected RANDOM pairs at 52-bit keys are ~C(n,2)*560/2^52
    (< 2 pairs at n=5e6), so measured pairs are planted dups + chains."""
    from dataclasses import replace

    from simhash_spark.operators.candidates import explode_all_keys, generate_candidates
    from simhash_spark.plans.pipeline import fingerprint_job

    cfg16 = replace(CFG, n_blocks=16)
    fpdir = CACHE / f"wide_fp_{n}"
    if not (fpdir / "_SUCCESS").exists():
        src = spark.read.parquet(str(path)).select("image_id", "caption", "phash")
        fingerprint_job(spark, src, cfg16).write.mode("overwrite").parquet(str(fpdir))
    # spread the fp scan so each map task's 592x key explode sorts ~10M
    # rows, not a 128MB-coalesced multi-file split's ~200M (the map-side
    # shuffle sort stays in memory); the repartition moves only slim rows
    fp = spark.read.parquet(str(fpdir)).repartition(max(256, spark.sparkContext.defaultParallelism * 8))
    keygen_s, keys = best_of(spark, lambda: explode_all_keys(fp, cfg16, include_phash=True).count())
    cand_s, pairs = best_of(spark, lambda: generate_candidates(fp, cfg16, include_phash=False).count())
    return {
        "rows": n,
        "n_blocks": 16,
        "keys": keys,
        "keygen_s": round(keygen_s, 1),
        "keys_per_s": round(keys / keygen_s, 1),
        "rows_per_s_keygen": round(n / keygen_s, 1),
        "cand_s": round(cand_s, 1),
        "pairs": pairs,
        "pairs_per_row": round(pairs / n, 4),
    }


def run_e2e(spark, n, path) -> dict:
    """One full run_pipeline with the adaptive index config: per-stage
    manifest walls + images/s, the headline design-regime number."""
    from simhash_spark.config import index_config_for

    cfg = index_config_for(n)
    wall, (n_labels, stages) = _pipeline(spark, path, CACHE / f"e2e_{n}", cfg=cfg)
    return {
        "rows": n,
        "n_blocks": cfg.n_blocks,
        "wall_s": round(wall, 1),
        "images_per_sec": round(n / wall, 1),
        "n_labels": n_labels,
        "stages": stages,
    }


def run_embed(spark, n, path) -> dict:
    """The semantic rung's kernels on real PPM payloads: (1) the
    decode->embed mapInPandas pass, (2) ivf_fit on the embeddings, (3) the
    SemDeDup group kernel over them — the image ladder's tier-3 cost model."""
    from pyspark.sql import functions as F

    from simhash_spark.operators.ann import ivf_fit
    from simhash_spark.operators.dedup import semdedup_keep
    from simhash_spark.operators.multimodal import image_embeddings

    src = spark.read.parquet(str(path))
    embed_s, _ = best_of(spark, lambda: sink(image_embeddings(src)), 2)
    # materialize the embeddings once (the repo's pin pattern) for the fit
    # and group-kernel timings
    emb_pq = CACHE / f"emb_of_ppm_{n}"
    image_embeddings(src).where(F.col("error").isNull()).select("image_id", "embedding").write.mode(
        "overwrite"
    ).parquet(str(emb_pq))
    emb = spark.read.parquet(str(emb_pq))
    k = max(16, n // 4000)  # paper regime: cells average ~4k rows
    fit_s, cent = best_of(spark, lambda: ivf_fit(emb, n_centroids=k, n_iter=8, vec_col="embedding"))
    kernel_s, _ = best_of(
        spark,
        lambda: sink(semdedup_keep(emb, cent, threshold=0.9, id_col="image_id", vec_col="embedding")),
        2,
    )
    return {
        "rows": n,
        "embed_wall_s": round(embed_s, 1),
        "embed_images_per_sec": round(n / embed_s, 1),
        "ivf_fit_s": round(fit_s, 1),
        "n_centroids": k,
        "semdedup_wall_s": round(kernel_s, 1),
        "semdedup_rows_per_sec": round(n / kernel_s, 1),
    }


def run_alignment(spark, n, path) -> dict:
    """The caption-pixel alignment kernel on real PPM payloads. Half the
    captions claim a color deterministically (id-hash parity) so the cosine
    verdict path runs on real volume; the other half exercise the
    no_caption_signal short-circuit (most scraped captions name no palette
    color). Asserts the zero-exchange plan."""
    from pyspark.sql import functions as F

    from simhash_spark.operators.multimodal import caption_pixel_alignment

    src = spark.read.parquet(str(path))
    src = src.withColumn(
        "caption",
        F.when(
            F.pmod(F.xxhash64("image_id"), F.lit(2)) == 0,
            F.concat(F.col("caption"), F.lit(" mostly red")),
        ).otherwise(F.col("caption")),
    )
    out = caption_pixel_alignment(src, tau_bp=8500)
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString(), (
        "alignment kernel must stay zero-exchange"
    )
    wall, _ = best_of(spark, lambda: sink(out), 2)
    return {"rows": n, "align_wall_s": round(wall, 1), "align_images_per_sec": round(n / wall, 1)}


def run_byte_funnel(spark, n, path) -> dict:
    """run_pipeline with and without the 00b byte-exact stage, best of 2
    each (the substring stage is off: orthogonal to the funnel claim). The
    claim under test: dropping x% of rows before fingerprinting saves ~x%
    of every downstream stage for a small slim-exchange fee."""
    from simhash_spark.config import index_config_for

    cfg = index_config_for(n)
    rec: dict = {"rows": n, "n_blocks": cfg.n_blocks}
    for tag, bx in (("no_00b", False), ("with_00b", True)):
        wall, (n_labels, stages) = _pipeline(
            spark, path, CACHE / f"bf_{n}_{tag}", 2, cfg=cfg, enable_substring=False, byte_exact=bx
        )
        rec[tag] = {
            "wall_s": round(wall, 1),
            "images_per_sec": round(n / wall, 1),
            "n_labels": n_labels,
            "stages": stages,
        }
    rec["dup_frac"] = round(1 - rec["with_00b"]["stages"]["01_fingerprints"]["rows"] / n, 4)
    rec["e2e_ratio"] = round(rec["no_00b"]["wall_s"] / rec["with_00b"]["wall_s"], 3)
    return rec


def run_ann(spark, n, path) -> dict:
    """ANN top-k with the corpus-size-adaptive knobs a production run picks:
      SRP: signature width srp_planes_for(n) (keys grow with log2 n, so
           expected RANDOM bucket mates per query stay ~flat);
      IVF: centroid count n/TARGET_LIST (fixed inverted-list size, so
           candidates/query = nprobe * TARGET_LIST is flat BY CONSTRUCTION).
    Evidence = cand_per_query flat across the 4x ladder while walls grow
    ~linearly with the corpus scan; recall@5 vs the exact baseline on a
    20-query subsample prices the knobs at each rung (top-k over UNIFORM
    random vectors is the adversarial case for any bucketed ANN).

    ``fixed_width`` contrasts srp_topk's production top-k defaults (8 planes
    x 8 tables, multi-probe ~28% of the corpus per query) on the recall
    queries: the knob that DOES hold top-k recall on uniform vectors, at a
    candidate volume growing LINEARLY with n (BENCH/INDEX_SCALING.md's
    fixed-width lesson)."""
    from pyspark.sql import functions as F

    from simhash_spark.operators.ann import (
        ann_recall_eval,
        cosine_topk,
        ivf_candidates,
        ivf_fit,
        ivf_topk,
        srp_candidates,
        srp_planes_for,
        srp_topk,
    )

    n_q, n_rq, k, target_list, nprobe = 1000, 20, 5, 1000, 4
    emb = spark.read.parquet(str(path))
    queries = emb.where(F.col("vec_id") < n_q)
    rq = emb.where(F.col("vec_id") < n_rq)
    exact = cosine_topk(emb, rq, k=k).select("query_id", "neighbor_id")
    c_vecs = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec"))

    def q_vecs(q):
        return q.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))

    def recall_bp(found) -> int:
        return int(ann_recall_eval(exact, found).agg(F.avg("recall_bp")).collect()[0][0])

    planes = srp_planes_for(n, n_tables=8)
    srp_s, n_srp = best_of(spark, lambda: srp_topk(emb, queries, k=k, n_planes=planes, n_tables=8).count())
    srp_cand = srp_candidates(c_vecs, q_vecs(queries), n_planes=planes, n_tables=8).count()
    n_cent = max(16, n // target_list)
    fit_s, cents = best_of(spark, lambda: ivf_fit(emb, n_centroids=n_cent))
    ivf_s, _ = best_of(spark, lambda: ivf_topk(emb, queries, cents, k=k, nprobe=nprobe).count())
    ivf_cand = ivf_candidates(c_vecs, q_vecs(queries), cents, nprobe=nprobe).count()
    fixed_cand = srp_candidates(c_vecs, q_vecs(rq), n_planes=8, n_tables=8).count()
    return {
        "rows": n,
        "dim": DIM,
        "n_queries": n_q,
        "srp_planes": planes,
        "srp_wall_s": round(srp_s, 1),
        "srp_result_rows": n_srp,
        "srp_cand_pairs": srp_cand,
        "srp_cand_per_query": round(srp_cand / n_q, 1),
        "srp_qps": round(n_q / srp_s, 1),
        "srp_recall_bp": recall_bp(srp_topk(emb, rq, k=k, n_planes=planes, n_tables=8)),
        "ivf_centroids": n_cent,
        "ivf_fit_s": round(fit_s, 1),
        "ivf_wall_s": round(ivf_s, 1),
        "ivf_cand_pairs": ivf_cand,
        "ivf_cand_per_query": round(ivf_cand / n_q, 1),
        "ivf_qps": round(n_q / ivf_s, 1),
        "ivf_recall_bp": recall_bp(ivf_topk(emb, rq, cents, k=k, nprobe=nprobe)),
        "fixed_width": {
            "srp_planes": 8,
            "n_tables": 8,
            "cand_per_query": round(fixed_cand / n_rq, 1),
            "recall_bp": recall_bp(srp_topk(emb, rq, k=k, n_planes=8, n_tables=8)),
        },
    }


def semdedup_join_reference(emb, cent, threshold):
    """The SemDeDup r5 first cut, kept as the measured reference: a
    within-cell self-join + distributed CC + window + re-attach join. Same
    quantizer and frozen rules as ``semdedup_keep``; its cost driver is
    Arrow-shipping sum m_c^2 / 2 joined rows, each carrying TWO vectors,
    through the cosine UDF, where the kernel compares the same pairs as
    numpy gram blocks in place."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from simhash_spark.operators.ann import make_ivf_assign_sim_udf
    from simhash_spark.operators.connected_components import connected_components
    from simhash_spark.operators.dedup import cosine_col

    assign = make_ivf_assign_sim_udf(cent)
    v = (
        emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
        .withColumn("_a", assign(F.col("vec")))
        .select(
            "id", "vec",
            F.col("_a.list_id").alias("list_id"),
            F.col("_a.csim").alias("csim"),
        )
    )
    edges = (
        v.alias("x")
        .join(v.alias("y"), "list_id")
        .where(F.col("x.id") < F.col("y.id"))
        .where(cosine_col(F.col("x.vec"), F.col("y.vec")) >= F.lit(float(threshold)))
        .select(
            F.col("x.id").alias("a"), F.col("y.id").alias("b"),
            F.col("x.csim").alias("ca"), F.col("y.csim").alias("cb"),
        )
    ).localCheckpoint(eager=False)
    member_csim = (
        edges.select(F.col("a").alias("id"), F.col("ca").alias("csim"))
        .unionByName(edges.select(F.col("b").alias("id"), F.col("cb").alias("csim")))
        .dropDuplicates(["id"])
    )
    labels = connected_components(edges.select("a", "b"))
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("csim").asc(), F.col("id").asc()
    ).rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = (
        labels.join(member_csim, "id")
        .withColumn("_keep_id", F.first(F.col("id")).over(w))
        .select("id", F.col("cluster_id").alias("group_id"), "_keep_id")
    )
    ids = emb.select(F.col("vec_id").alias("id"))
    return ids.join(ranked, "id", "left").select(
        F.col("id").alias("vec_id"),
        F.coalesce(F.col("group_id"), F.col("id")).alias("group_id"),
        F.coalesce(F.col("id") == F.col("_keep_id"), F.lit(True)).cast("int").alias("is_kept"),
    )


def run_semdedup(spark, n, path) -> dict:
    """SemDeDup execution-shape A/B: the shipped group kernel
    (groupBy(cell).applyInPandas — one exchange, zero joins) vs
    ``semdedup_join_reference``. Output is asserted identical via a row-set
    signature before walls are compared."""
    from pyspark.sql import functions as F

    from simhash_spark.operators.ann import ivf_fit
    from simhash_spark.operators.dedup import semdedup_keep

    tau, centroids = 0.9, max(16, n // 1000)
    emb = spark.read.parquet(str(path))
    cents = ivf_fit(emb, n_centroids=centroids)
    walls, sigs = {}, {}
    for name, variant in (
        ("kernel", lambda: semdedup_keep(emb, cents, threshold=tau)),
        ("join", lambda: semdedup_join_reference(emb, cents, tau)),
    ):
        walls[name], _ = best_of(spark, lambda: sink(variant()), 2)
        sigs[name] = tuple(
            variant()
            .agg(
                F.count(F.lit(1)),
                # xor-fold, not sum: ANSI mode overflows a sum of 64-bit
                # hashes; rows are unique so xor is a sound order-independent
                # set signature
                F.bit_xor(F.xxhash64("vec_id", "group_id", "is_kept")),
                F.sum(1 - F.col("is_kept")),
            )
            .collect()[0]
        )
    assert sigs["kernel"] == sigs["join"], f"variant outputs diverge at n={n}: {sigs}"
    return {
        "rows": n,
        "dim": DIM,
        "tau": tau,
        "centroids": centroids,
        "kernel_wall_s": round(walls["kernel"], 1),
        "join_wall_s": round(walls["join"], 1),
        "join_over_kernel": round(walls["join"] / walls["kernel"], 2),
        "kernel_rows_per_s": round(n / walls["kernel"], 1),
        "n_dropped": int(sigs["kernel"][2]),
        "outputs_identical": True,
    }


def run_bloom(spark, n, path) -> dict:
    """Decontamination A/B: the exact path (benchmark gram hashes
    broadcast-joined against the corpus gram explode, per-doc count agg) vs
    the Bloom pass (reference grams in a frozen-rule filter, corpus side one
    zero-exchange Arrow projection). Same gram rule (word 5-grams of the
    caption); the benchmark is a deterministic ~2% slice. The Bloom side is
    one-sided by construction: asserts sum(n_maybe) >= sum(n_exact) and
    reports the false-positive gram mass."""
    from pyspark.sql import functions as F

    from simhash_spark.operators.curation import bloom_contamination_counts, contamination_counts

    src = spark.read.parquet(str(path))
    is_bench = F.abs(F.xxhash64("image_id")) % 50 == 7
    kw = dict(id_col="image_id", text_col="caption", bench_text_col="caption", n=5)
    variants = {
        "exact": lambda: contamination_counts(src.where(~is_bench), src.where(is_bench), **kw),
        "bloom": lambda: bloom_contamination_counts(src.where(~is_bench), src.where(is_bench), **kw),
    }
    walls = {name: best_of(spark, lambda: sink(variant()), 2)[0] for name, variant in variants.items()}
    sum_exact = variants["exact"]().agg(F.sum("n_overlap")).collect()[0][0] or 0
    bl = variants["bloom"]().agg(F.count(F.lit(1)), F.sum("n_maybe_overlap"), F.sum("n_grams")).collect()[0]
    n_docs, sum_maybe, sum_grams = int(bl[0]), int(bl[1]), int(bl[2])
    assert sum_maybe >= sum_exact, f"one-sided property violated at n={n}: {sum_maybe} < {sum_exact}"
    return {
        "rows": n,
        "corpus_docs": n_docs,
        "exact_wall_s": round(walls["exact"], 2),
        "bloom_wall_s": round(walls["bloom"], 2),
        "exact_over_bloom": round(walls["exact"] / walls["bloom"], 2),
        "bloom_docs_per_s": round(n_docs / walls["bloom"], 1),
        "sum_exact_overlap": sum_exact,
        "sum_maybe_overlap": sum_maybe,
        "fp_grams": sum_maybe - sum_exact,
        "fp_per_gram": round((sum_maybe - sum_exact) / max(1, sum_grams), 8),
    }


def _delta_fold(spark, n, paths, exp: pathlib.Path, byte_exact: bool) -> dict:
    """Full run_pipeline over base ∪ increment vs a base run + run_delta
    folding the increment into its catalog: walls, the recompute/delta
    ratio and label agreement (exact equality is the contract when no
    bucket exceeds the cap; the corpus's hot caption deliberately exceeds
    it, so agreement is reported, not asserted — the equality gate lives in
    tests/test_delta.py)."""
    from pyspark.sql import functions as F

    from simhash_spark.config import index_config_for
    from simhash_spark.plans.delta import run_delta
    from simhash_spark.plans.pipeline import run_pipeline
    from simhash_spark.sources.catalog import parquet_rows

    full_dir, base_dir, inc_dir = paths
    inc_rows = parquet_rows(inc_dir)
    shutil.rmtree(exp, ignore_errors=True)  # fresh catalogs: no resume skips
    # the adaptive index config on BOTH sides, as the production CLI picks it
    # — a 4-block full run at 1M rows would sit in the quadratic-collision
    # regime and flatter the delta ratio
    cfg = index_config_for(n)
    full_s, full = best_of(
        spark, lambda: run_pipeline(spark, str(full_dir), str(exp / "full"), cfg=cfg, byte_exact=byte_exact)
    )
    base_s, _ = best_of(
        spark, lambda: run_pipeline(spark, str(base_dir), str(exp / "base"), cfg=cfg, byte_exact=byte_exact)
    )
    delta_s, delta = best_of(spark, lambda: run_delta(spark, str(exp / "base"), str(inc_dir), str(exp / "delta")))
    labels = full.clusters.select("image_id", F.col("cluster_id").alias("c_full")).join(
        delta.clusters.select("image_id", F.col("cluster_id").alias("c_delta")), "image_id", "full_outer"
    )
    return {
        "n_blocks": cfg.n_blocks,
        "inc_rows": inc_rows,
        "inc_frac": round(inc_rows / parquet_rows(full_dir), 6),
        "wall_full_s": round(full_s, 1),
        "wall_base_s": round(base_s, 1),
        "wall_delta_s": round(delta_s, 1),
        "recompute_over_delta": round(full_s / delta_s, 1),
        "label_agreement": round(labels.where(F.col("c_full") == F.col("c_delta")).count() / labels.count(), 6),
    }


def run_delta_maintenance(spark, n, paths) -> dict:
    """The batch-incremental maintenance experiment (plans/delta.py) at n
    images with a 1% increment carved by rows (``_delta_corpus``)."""
    return {"rows": n, **_delta_fold(spark, n, paths, CACHE / f"delta_exp_{n}", byte_exact=False)}


def run_delta_byte(spark, n, paths) -> dict:
    """The byte-exact delta fold: the increment carries the production
    arrival mix (~20% re-uploads of BASE payloads, suppressed against the
    chain's 00b index and never fingerprinted; ~14% within-increment
    re-uploads; fresh rows). Adds the suppression counts; the add-only
    guard raises if an increment row would demote a base keeper."""
    from pyspark.sql import functions as F

    from simhash_spark.sources.catalog import CheckpointCatalog

    exp = CACHE / f"delta_byte_exp_{n}"
    rec = _delta_fold(spark, n, paths, exp, byte_exact=True)
    cat = CheckpointCatalog(spark, exp / "delta")
    # no manifest holds the base-payload share of the suppressed rows
    sup = cat.read("00b_bytes_delta").where("image_id != keep_id")
    return {
        "base_rows": n,
        "byte_suppressed": cat.manifest("00b_bytes_delta").get("byte_suppressed") or 0,
        "byte_suppressed_vs_base": sup.where(~F.col("keep_id").endswith("_inc")).count(),
        "increment_fingerprinted": cat.manifest("01_fingerprints_delta")["n_rows"],
        **rec,
    }


# ------------------------------------------------------------------- table


def quarter_half_full(n: int) -> list[int]:
    return [n // 4, n // 2, n]


def single(n: int) -> list[int]:
    return [n]


# flag -> stage name, corpus builder (runs before the JVM), rung rule, run,
# help; ``big_shuffle`` ladders size reduce partitions so each window-sort
# partition fits in execution memory (the 100-TB sizing rule) instead of
# spilling — the wide ladder's key shuffle is ~10-50 GB per rung, the 3M
# e2e candidate exchange ~430M packed key rows; AQE coalesces small rungs
# back down at runtime.
LADDERS = {
    "docs": dict(
        stage="substring_pairs", corpus=ensure_images_corpus, rungs=single, run=run_docs,
        help="substring_pairs on ROWS caption docs, with the stage's manifest keys",
    ),
    "vecs": dict(
        stage="embedding_near_dup_lsh", corpus=ensure_embeddings_corpus, rungs=single, run=run_vecs,
        help="SRP-LSH embedding_near_dup on ROWS 64-dim vectors (~8%% planted near-dups)",
    ),
    "wide": dict(
        stage="wide_index", corpus=_wide_corpus, rungs=quarter_half_full, run=run_wide, big_shuffle=True,
        help="the 16-block/560-table index config (the 10^12 design point) on a ROWS/4, "
        "ROWS/2, ROWS ladder: vectorized-keygen keys/s and candidate-pair growth",
    ),
    "e2e": dict(
        stage="e2e", corpus=ensure_images_corpus, rungs=single, run=run_e2e, big_shuffle=True,
        help="one full run_pipeline at ROWS images with the adaptive index config (fresh "
        "catalog): per-stage manifest walls + images/s",
    ),
    "embed": dict(
        stage="embed_kernel", corpus=ensure_ppm_corpus, rungs=quarter_half_full, run=run_embed,
        help="decode->embed, ivf_fit and the SemDeDup group kernel on a ROWS/4, ROWS/2, ROWS "
        "ladder of real PPM payloads",
    ),
    "alignment": dict(
        stage="alignment_kernel", corpus=ensure_ppm_corpus, rungs=quarter_half_full, run=run_alignment,
        help="caption-pixel alignment kernel on a ROWS/4, ROWS/2, ROWS ladder of real PPM "
        "payloads (the --embed corpus); asserts the zero-exchange plan",
    ),
    "byte-funnel": dict(
        stage="byte_funnel", corpus=ensure_bytes_corpus, rungs=quarter_half_full, run=run_byte_funnel,
        help="run_pipeline with vs without the 00b byte-exact stage on a ROWS/4, ROWS/2, ROWS "
        "ladder with 4KB payloads and ~14%% planted re-uploads",
    ),
    "ann": dict(
        stage="ann_ladder", corpus=ensure_embeddings_corpus, rungs=quarter_half_full, run=run_ann,
        help="srp_topk + ivf_topk with corpus-size-adaptive knobs on a ROWS/4, ROWS/2, ROWS "
        "ladder: candidates/query, wall, recall@5, and the fixed-width contrast",
    ),
    "semdedup": dict(
        stage="semdedup_ab", corpus=ensure_embeddings_corpus, rungs=quarter_half_full, run=run_semdedup,
        help="SemDeDup group kernel vs the self-join + CC reference on a ROWS/4, ROWS/2, ROWS "
        "ladder; asserts identical output, reports the wall ratio",
    ),
    "bloom": dict(
        stage="bloom_ab", corpus=ensure_images_corpus, rungs=quarter_half_full, run=run_bloom,
        help="exact vs Bloom decontamination on a ROWS/4, ROWS/2, ROWS caption ladder; asserts "
        "the one-sided superset property, reports the false-positive gram mass",
    ),
    "delta": dict(
        stage="delta_maintenance", corpus=_delta_corpus, rungs=single, run=run_delta_maintenance,
        help="full pipeline at ROWS images vs base (99%%) + run_delta folding the last "
        "ROWS/100 rows (1%%; inc_rows/inc_frac in the record)",
    ),
    "delta-byte": dict(
        stage="delta_byte", corpus=_delta_byte_corpus, rungs=single, run=run_delta_byte,
        help="byte-exact full pipeline over base(ROWS) ∪ increment(~1.6%%) vs base + run_delta "
        "folding the increment against the chain's 00b index",
    ),
}


def build_parser() -> argparse.ArgumentParser:
    from simhash_spark.session import default_parallelism

    ap = argparse.ArgumentParser(description="design-regime ladders (see the module docstring)")
    ap.add_argument("--cpus", type=int, default=default_parallelism())
    for flag, ladder in LADDERS.items():
        ap.add_argument(f"--{flag}", type=int, default=0, metavar="ROWS", help=ladder["help"])
    return ap


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)
    todo = [
        (ladder, ladder["rungs"](rows))
        for flag, ladder in LADDERS.items()
        if (rows := getattr(args, flag.replace("-", "_")))
    ]
    # corpora BEFORE the JVM (process-pool fork safety)
    paths = {(ladder["stage"], n): ladder["corpus"](n) for ladder, rungs in todo for n in rungs}

    from simhash_spark.session import get_spark

    big = any(ladder.get("big_shuffle") for ladder, _ in todo)
    spark = get_spark(
        parallelism=args.cpus,
        app_name="design-regime",
        shuffle_partitions=max(256, args.cpus * 2) if big else None,
    )
    warm_up(spark)

    results: dict[str, list] = {}
    for ladder, rungs in todo:
        for n in rungs:
            rec = ladder["run"](spark, n, paths[ladder["stage"], n])
            results.setdefault(ladder["stage"], []).append(rec)
            print(json.dumps({"stage": ladder["stage"], **rec}), flush=True)
    print(json.dumps({"metric": "design_regime", "cpus": args.cpus, "stages": results}))
    spark.stop()


if __name__ == "__main__":
    main()
