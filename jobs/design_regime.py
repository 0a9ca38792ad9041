"""Design-regime scale runs for the SUBSTRING and EMBEDDING near-dup stages.

BENCH/INDEX_SCALING.md demonstrates the image fingerprint+pigeonhole pipeline
at 3M rows; this job extends the at-scale evidence to the two stages that got
plan rewrites in r3 (VERDICT r2 item 7):

- substring_pairs on an N-doc corpus (default 500k captions, the bench
  corpus's planted substring dups + hot caption included) — exercises the
  winnow-anchor equi-join, the hot-anchor cap, and the per-batch rolling-hash
  verification at ~100x the driver's sf0.1 volume.
- embedding_near_dup (one-sided multi-probe SRP LSH) on an M-vector corpus
  (default 1M x 64-dim float32 with ~8% planted perturbed near-dups) —
  exercises the bare-id pair dedup + vector re-join plan at 500x sf0.1.
  n_planes scales with the corpus exactly like the pigeonhole block count:
  24-bit signatures keep the random-collision pair count ~linear at 10^6
  rows (expected random pairs ~ C(M,2) * L * (b+1) / 2^b).

Corpora are deterministic (fixed seeds, chunked process-pool generation,
cached across runs) — no external data. Prints one JSON line per stage and a
summary line; timings are best-of-1 (these are long stages; run twice and
take the better run if CPU steal is suspected).

- --delta N: batch-incremental maintenance experiment (plans/delta.py) at
  N images — full run_pipeline over the whole corpus vs run_delta folding a
  ~1% file-level increment into the base's checkpoint catalog; reports both
  walls, the recompute/delta ratio, and label agreement between the two
  label tables (exact equality is the contract when no bucket exceeds the
  cap; the corpus's hot caption deliberately exceeds it, so agreement is
  reported, not asserted — the equality gate lives in tests/test_delta.py).

Usage:  python jobs/design_regime.py [--docs 500000] [--vecs 1000000]
                                     [--cpus 32] [--skip-docs] [--skip-vecs]
                                     [--delta 1000000]
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

CACHE = pathlib.Path(os.environ.get("SPARK_GRAFT_CACHE", "/dev/shm/simhash_bench_cache"))


def _write_vec_chunk(args: tuple) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    out, i, n, dim, dup_frac = args
    rng = np.random.default_rng(1000 + i)
    base = rng.standard_normal((n, dim)).astype(np.float32)
    # plant near-dups: the last dup_frac of the chunk are perturbed copies of
    # random earlier rows (cosine >= ~0.99 after the small noise)
    n_dup = int(n * dup_frac)
    if n_dup:
        src = rng.integers(0, n - n_dup, n_dup)
        noise = rng.standard_normal((n_dup, dim)).astype(np.float32) * 0.02
        base[n - n_dup :] = base[src] + noise
    ids = np.arange(i * 10_000_000, i * 10_000_000 + n, dtype=np.int64)
    pq.write_table(
        pa.table({"vec_id": ids, "embedding": list(base)}),
        pathlib.Path(out) / f"part-{i:04d}.parquet",
    )


def _write_bytes_chunk(args: tuple) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from simhash_spark.sources.fixtures import make_images_pdf

    out, i, n, payload = args
    # captions/ids/phash from the shared generator (bytes column unused);
    # payloads are deterministic pseudorandom binaries — the byte tier only
    # ever md5s them, so payload SIZE is what the measurement needs, not
    # decodability. Every 7th row re-uses row i-3's payload (the
    # plant_byte_reuploads rule: ~14% byte re-uploads).
    pdf = make_images_pdf(n, seed=4200 + i, with_bytes=False, hot_frac=0.002)
    pdf["image_id"] = pdf["image_id"] + f"_c{i:03d}"
    rng = np.random.default_rng(777 + i)
    raw = rng.integers(0, 256, size=(n, payload), dtype=np.uint8)
    payloads = [raw[j].tobytes() for j in range(n)]
    for j in range(3, n, 7):
        payloads[j] = payloads[j - 3]
    pdf["bytes"] = payloads
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
        pathlib.Path(out) / f"part-{i:04d}.parquet",
    )


def ensure_bytes_corpus(n_rows: int, payload: int = 4096) -> pathlib.Path:
    """Deterministic image corpus WITH binary payloads and ~14% planted byte
    re-uploads, cached. MUST be called before any SparkSession exists."""
    out = CACHE / f"images_bytes_{n_rows}_p{payload}_v1"
    if (out / "_SUCCESS").exists():
        return out
    import multiprocessing as mp

    out.mkdir(parents=True, exist_ok=True)
    chunk = max(5_000, min(50_000, n_rows // 32))
    n_chunks = (n_rows + chunk - 1) // chunk
    jobs = [
        (str(out), i, min(chunk, n_rows - i * chunk), payload)
        for i in range(n_chunks)
    ]
    with mp.Pool(min(16, os.cpu_count() or 8)) as pool:
        pool.map(_write_bytes_chunk, jobs)
    (out / "_SUCCESS").touch()
    return out


def ensure_delta_byte_inc(
    base_dir: pathlib.Path, n: int, payload: int = 4096
) -> pathlib.Path:
    """Increment for --delta-byte. The add-only guard's PER-ROW invariant:
    increment row j (id ``img{j:09d}_inc``) may only re-use a base payload
    whose keeper id sorts BEFORE it. Sampling part-0000 row ``j % m``
    guarantees that: j % m <= j, ids are zero-padded, and ``_c`` < ``_i``
    on an equal digit prefix, so ``img{j%m}_c000`` (and the group's keeper,
    which has an even smaller index) always precedes ``img{j}_inc``. NOTE
    this is an index-by-index argument, NOT "every _inc id sorts after
    every part-0000 id" (false: img…001_inc < img…500_c000) — do not
    replace the ``j % m`` rule with random sampling or the guard will
    correctly raise at regime. Payload mix: ~20% base re-uploads by that
    rule, the generator's usual ~14% within-increment re-uploads (every 7th
    copies j-3), rest fresh."""
    out = CACHE / f"delta_byte_inc_{n}_p{payload}_v1"
    if (out / "_SUCCESS").exists():
        return out
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from simhash_spark.sources.fixtures import make_images_pdf

    base0 = (
        pq.read_table(base_dir / "part-0000.parquet", columns=["bytes"])
        .column("bytes")
        .to_pylist()
    )
    pdf = make_images_pdf(n, seed=999_001, with_bytes=False, hot_frac=0.002)
    pdf["image_id"] = pdf["image_id"] + "_inc"
    rng = np.random.default_rng(999_002)
    raw = rng.integers(0, 256, size=(n, payload), dtype=np.uint8)
    payloads = [raw[j].tobytes() for j in range(n)]
    for j in range(1, n, 5):  # base re-uploads (part-0000 payloads: id-lesser)
        payloads[j] = base0[j % len(base0)]
    for j in range(3, n, 7):  # within-increment re-uploads
        payloads[j] = payloads[j - 3]
    pdf["bytes"] = payloads
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
    out.mkdir(parents=True, exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=schema, preserve_index=False),
        out / "part-0000.parquet",
    )
    (out / "_SUCCESS").touch()
    return out


def _write_ppm_chunk(args: tuple) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from simhash_spark.sources.fixtures import make_images_pdf

    out, i, n = args
    pdf = make_images_pdf(n, seed=5200 + i, with_bytes=True, hot_frac=0.002)
    pdf["image_id"] = pdf["image_id"] + f"_c{i:03d}"
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
        pathlib.Path(out) / f"part-{i:04d}.parquet",
    )


def ensure_ppm_corpus(n_rows: int) -> pathlib.Path:
    """Deterministic image corpus with REAL decodable PPM payloads (the
    fixture generator's pixels, 32-64 px), cached. MUST be called before
    any SparkSession exists."""
    out = CACHE / f"images_ppm_{n_rows}_v1"
    if (out / "_SUCCESS").exists():
        return out
    import multiprocessing as mp

    out.mkdir(parents=True, exist_ok=True)
    chunk = max(2_500, min(25_000, n_rows // 32))
    n_chunks = (n_rows + chunk - 1) // chunk
    jobs = [(str(out), i, min(chunk, n_rows - i * chunk)) for i in range(n_chunks)]
    with mp.Pool(min(16, os.cpu_count() or 8)) as pool:
        pool.map(_write_ppm_chunk, jobs)
    (out / "_SUCCESS").touch()
    return out


def ensure_embeddings_corpus(n_rows: int, dim: int = 64, dup_frac: float = 0.08) -> pathlib.Path:
    """Deterministic embedding corpus with planted near-dups, cached.
    MUST be called before any SparkSession exists (fork safety)."""
    out = CACHE / f"embeddings_{n_rows}_d{dim}_v1"
    if (out / "_SUCCESS").exists():
        return out
    import multiprocessing as mp

    out.mkdir(parents=True, exist_ok=True)
    chunk = max(10_000, min(100_000, n_rows // 32))
    n_chunks = (n_rows + chunk - 1) // chunk
    jobs = [
        (str(out), i, min(chunk, n_rows - i * chunk), dim, dup_frac)
        for i in range(n_chunks)
    ]
    with mp.Pool(min(16, os.cpu_count() or 8)) as pool:
        pool.map(_write_vec_chunk, jobs)
    (out / "_SUCCESS").touch()
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=500_000)
    ap.add_argument("--vecs", type=int, default=1_000_000)
    ap.add_argument("--dim", type=int, default=64)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--skip-docs", action="store_true")
    ap.add_argument("--skip-vecs", action="store_true")
    ap.add_argument(
        "--delta",
        type=int,
        default=0,
        metavar="ROWS",
        help="delta-maintenance experiment at ROWS images: full pipeline vs "
        "base(~99%%) + run_delta(~1%% increment); reports the recompute-vs-"
        "delta wall ratio",
    )
    ap.add_argument(
        "--e2e",
        type=int,
        default=0,
        metavar="ROWS",
        help="one full run_pipeline e2e at ROWS images with the adaptive "
        "index config (fresh catalog, no resume skips); reports per-stage "
        "manifest walls + images/s — the headline design-regime number",
    )
    ap.add_argument(
        "--ann",
        type=int,
        default=0,
        metavar="ROWS",
        help="ANN at-regime ladder: srp_topk + ivf_topk on a ROWS/4, ROWS/2, "
        "ROWS embedding-corpus ladder with the corpus-size-adaptive knobs "
        "(SRP signature width; IVF centroid count at fixed target list "
        "size), measuring candidate volume per query, wall, and recall@k "
        "vs the exact baseline on a probe subsample",
    )
    ap.add_argument(
        "--semdedup",
        type=int,
        default=0,
        metavar="ROWS",
        help="SemDeDup plan A/B at regime: the shipped group-kernel shape "
        "(groupBy(cell).applyInPandas — one exchange, zero joins) vs the "
        "equivalent within-cell self-join + distributed-CC formulation, on "
        "a ROWS/4, ROWS/2, ROWS embedding-corpus ladder; asserts identical "
        "output (row-set hash) and reports the wall ratio per rung",
    )
    ap.add_argument(
        "--bloom",
        type=int,
        default=0,
        metavar="ROWS",
        help="decontamination plan A/B at regime: the exact broadcast-gram-"
        "join path vs the zero-exchange Bloom-filter pass on a ROWS/4, "
        "ROWS/2, ROWS caption-corpus ladder (benchmark = a deterministic "
        "~2%% slice); asserts the one-sided superset property per rung and "
        "reports walls, docs/s, and the false-positive gram mass",
    )
    ap.add_argument(
        "--embed",
        type=int,
        default=0,
        metavar="ROWS",
        help="semantic-rung kernels at regime on a ROWS/4, ROWS/2, ROWS "
        "ladder of REAL decodable PPM payloads: (1) the decode->embed "
        "mapInPandas pass (images/s), (2) ivf_fit on the embeddings, "
        "(3) the SemDeDup group kernel over them (rows/s); the image "
        "ladder's tier-3 cost model",
    )
    ap.add_argument(
        "--alignment",
        type=int,
        default=0,
        metavar="ROWS",
        help="caption-pixel alignment kernel at regime on a ROWS/4, ROWS/2, "
        "ROWS ladder of REAL decodable PPM payloads (shares the --embed "
        "corpus cache); half the captions get a deterministic color claim "
        "so the cosine verdict path runs, not just the no-signal "
        "short-circuit; asserts the zero-exchange plan at every rung",
    )
    ap.add_argument(
        "--byte-funnel",
        type=int,
        default=0,
        metavar="ROWS",
        help="byte-exact funnel A/B at regime: run_pipeline with and without "
        "the 00b byte-exact stage on a ROWS/4, ROWS/2, ROWS corpus ladder "
        "with 4KB payloads and ~14%% planted re-uploads; reports per-stage "
        "manifest walls, the 00b stage's own cost, and the e2e ratio — the "
        "claim under test is that dropping x%% of rows before fingerprinting "
        "saves ~x%% of every downstream stage for a small slim-exchange fee",
    )
    ap.add_argument(
        "--wide",
        type=int,
        default=0,
        metavar="ROWS",
        help="run the 16-block/560-table index config (the 10^12 design "
        "point) at its regime: a ROWS/4, ROWS/2, ROWS corpus ladder, "
        "measuring vectorized-keygen keys/s and candidate-pair growth",
    )
    ap.add_argument(
        "--delta-byte",
        type=int,
        default=0,
        metavar="ROWS",
        help="byte-exact delta fold at regime: run_pipeline(byte_exact=True) "
        "over base(ROWS) ∪ increment(~1.6%%) vs base + run_delta folding the "
        "increment against the chain's 00b index. The increment carries the "
        "production arrival mix: ~20%% re-uploads of BASE payloads "
        "(suppressed against the index, never fingerprinted), the usual "
        "~14%% within-increment re-uploads, fresh rows. Reports walls, the "
        "recompute/delta ratio, suppression counts, label agreement",
    )
    args = ap.parse_args()

    # corpora BEFORE the JVM (process-pool fork safety)
    from bench import ensure_images_corpus

    docs_path = None if args.skip_docs else ensure_images_corpus(args.docs)
    vecs_path = None if args.skip_vecs else ensure_embeddings_corpus(args.vecs, args.dim)
    delta_path = ensure_images_corpus(args.delta) if args.delta else None
    wide_rungs = [args.wide // 4, args.wide // 2, args.wide] if args.wide else []
    wide_paths = {n: ensure_images_corpus(n) for n in wide_rungs}
    ann_rungs = [args.ann // 4, args.ann // 2, args.ann] if args.ann else []
    ann_paths = {n: ensure_embeddings_corpus(n, args.dim) for n in ann_rungs}
    sd_rungs = (
        [args.semdedup // 4, args.semdedup // 2, args.semdedup] if args.semdedup else []
    )
    sd_paths = {n: ensure_embeddings_corpus(n, args.dim) for n in sd_rungs}
    bl_rungs = [args.bloom // 4, args.bloom // 2, args.bloom] if args.bloom else []
    bl_paths = {n: ensure_images_corpus(n) for n in bl_rungs}
    bf_rungs = (
        [args.byte_funnel // 4, args.byte_funnel // 2, args.byte_funnel]
        if args.byte_funnel
        else []
    )
    bf_paths = {n: ensure_bytes_corpus(n) for n in bf_rungs}
    db_base = ensure_bytes_corpus(args.delta_byte) if args.delta_byte else None
    db_inc = (
        ensure_delta_byte_inc(db_base, max(1, args.delta_byte // 64))
        if args.delta_byte
        else None
    )
    em_rungs = [args.embed // 4, args.embed // 2, args.embed] if args.embed else []
    em_paths = {n: ensure_ppm_corpus(n) for n in em_rungs}
    al_rungs = (
        [args.alignment // 4, args.alignment // 2, args.alignment]
        if args.alignment
        else []
    )
    al_paths = {n: ensure_ppm_corpus(n) for n in al_rungs}
    e2e_path = ensure_images_corpus(args.e2e) if args.e2e else None
    if args.wide:
        # the top rung shuffles ~3e9 (k, id) rows — more than tmpfs + JVM
        # can hold together; split shuffle/spill round-robin across
        # tmpfs + disk (session.py SPARK_GRAFT_LOCAL_DIR override)
        pathlib.Path("/root/sparktmp").mkdir(exist_ok=True)
        os.environ.setdefault(
            "SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local,/root/sparktmp"
        )

    from pyspark.sql import functions as F

    from simhash_spark.config import DEFAULT_CONFIG as CFG
    from simhash_spark.session import get_spark

    spark = get_spark(
        parallelism=args.cpus,
        app_name="design-regime",
        # the wide ladder's key shuffle is ~10-50 GB per rung — and the
        # --e2e 3M run's candidate exchange ships ~430M packed key rows:
        # size reduce partitions so each window-sort partition fits in
        # execution memory (the 100-TB sizing rule) instead of spilling;
        # AQE coalesces the small rungs' partitions back down at runtime
        shuffle_partitions=max(256, args.cpus * 2) if (args.wide or args.e2e) else None,
    )
    spark.range(1_000_000).select(F.sum("id")).collect()  # JVM warmup

    def sink(df):
        df.write.format("noop").mode("overwrite").save()

    results: dict[str, dict] = {}

    if docs_path is not None:
        from simhash_spark.operators.substring import (
            pairs_from_anchor_table,
            substring_degree_metrics,
            substring_pairs,
            winnow_anchor_table,
        )

        docs = spark.read.parquet(str(docs_path)).select("image_id", "caption")
        t0 = time.time()
        n_pairs = substring_pairs(docs, CFG).count()
        wall = time.time() - t0
        # pair-degree / amplification revisit trigger AT the design regime —
        # the same numbers run_pipeline lands in the 02b_substr manifest
        cand = pairs_from_anchor_table(winnow_anchor_table(docs, CFG), CFG)
        degree = substring_degree_metrics(cand, docs)
        results["substring_pairs"] = {
            "rows": args.docs,
            "wall_s": round(wall, 1),
            "pairs": n_pairs,
            "docs_per_sec": round(args.docs / wall, 1),
            **degree,
        }
        print(json.dumps({"stage": "substring_pairs", **results["substring_pairs"]}), flush=True)

    if vecs_path is not None:
        from simhash_spark.operators.ann import srp_planes_for
        from simhash_spark.operators.dedup import embedding_near_dup

        emb = spark.read.parquet(str(vecs_path))
        # corpus-size-adaptive signature width (srp_planes_for — the same
        # lesson as the pigeonhole block study: fixed-width keys go quadratic
        # in random collisions); one-sided probe covers per-table Hamming <= 1
        planes = srp_planes_for(args.vecs, n_tables=2)
        t0 = time.time()
        n_pairs = embedding_near_dup(
            emb, threshold=0.9, use_lsh=True, n_planes=planes, n_tables=2
        ).count()
        wall = time.time() - t0
        results["embedding_near_dup_lsh"] = {
            "rows": args.vecs,
            "dim": args.dim,
            "n_planes": planes,
            "wall_s": round(wall, 1),
            "pairs": n_pairs,
            "vecs_per_sec": round(args.vecs / wall, 1),
        }
        print(
            json.dumps({"stage": "embedding_near_dup_lsh", **results["embedding_near_dup_lsh"]}),
            flush=True,
        )

    if wide_rungs:
        # The 16-block pigeonhole config (C(16,13)=560 tables of 52-bit keys,
        # config.index_config_for's 10^12 design point) AT ITS REGIME instead
        # of extrapolated from the 4->8-block crossover (VERDICT r3 next #2).
        # Two measurements per rung:
        #   keygen  — keys/s through the vectorized numpy keygen UDF
        #             (combos > WIDE_INDEX_UDF_THRESHOLD picks it), FULL
        #             production key set: 32 bands + 560 simhash + 560 phash
        #             combos per row; count() forces every key.
        #   cand    — the full candidate operator (ONE packed-key exchange,
        #             window bucket count, capped collect / salted chains,
        #             pair dedup) in the text-corpus shape (no phash index:
        #             592 keys/row; the phash rotation index is structurally
        #             identical — same combos over a different 64-bit column
        #             — and including it only doubles constant shuffle volume
        #             past what tmpfs+disk hold at the 5M rung).
        # Linearity evidence = pairs_per_row and keys_per_s flat across the
        # 4x ladder; expected RANDOM pairs at 52-bit keys are
        # ~C(n,2)*560/2^52 (< 2 pairs at n=5e6) so measured pairs are planted
        # dups + chains, growing linearly with n.
        import math
        from dataclasses import replace

        from simhash_spark.config import DEFAULT_CONFIG
        from simhash_spark.operators.candidates import explode_all_keys, generate_candidates
        from simhash_spark.plans.pipeline import fingerprint_job

        cfg16 = replace(DEFAULT_CONFIG, n_blocks=16)
        assert math.comb(16, 13) == 560
        wide_out = []
        for n in wide_rungs:
            src = spark.read.parquet(str(wide_paths[n])).select(
                "image_id", "caption", "phash"
            )
            fpdir = CACHE / f"wide_fp_{n}"
            if not (fpdir / "_SUCCESS").exists():
                fingerprint_job(spark, src, cfg16).write.mode("overwrite").parquet(
                    str(fpdir)
                )
            # spread the fp scan so each map task's 592x key explode sorts
            # ~10M rows, not a 128MB-coalesced multi-file split's ~200M
            # (map-side shuffle sort stays in memory instead of spilling);
            # the repartition itself moves only the slim fp rows once
            fp = spark.read.parquet(str(fpdir)).repartition(max(256, args.cpus * 8))

            t0 = time.time()
            n_keys = explode_all_keys(fp, cfg16, include_phash=True).count()
            wall_keys = time.time() - t0

            t0 = time.time()
            n_pairs = generate_candidates(fp, cfg16, include_phash=False).count()
            wall_cand = time.time() - t0

            rec = {
                "rows": n,
                "n_blocks": 16,
                "keys": n_keys,
                "keygen_s": round(wall_keys, 1),
                "keys_per_s": round(n_keys / wall_keys, 1),
                "rows_per_s_keygen": round(n / wall_keys, 1),
                "cand_s": round(wall_cand, 1),
                "pairs": n_pairs,
                "pairs_per_row": round(n_pairs / n, 4),
            }
            wide_out.append(rec)
            print(json.dumps({"stage": "wide_index", **rec}), flush=True)
        results["wide_index"] = wide_out

    if e2e_path is not None:
        import shutil

        from simhash_spark.config import index_config_for
        from simhash_spark.plans.pipeline import run_pipeline

        out = CACHE / f"e2e_{args.e2e}"
        shutil.rmtree(out, ignore_errors=True)  # fresh catalog: no resume skips
        cfg_e = index_config_for(args.e2e)
        t0 = time.time()
        res = run_pipeline(spark, str(e2e_path), str(out), cfg=cfg_e)
        n_labels = res.clusters.count()
        wall = time.time() - t0
        stage_walls = {}
        for mf in sorted(pathlib.Path(out).glob("*/_manifest.json")):
            m = json.loads(mf.read_text())
            stage_walls[mf.parent.name] = round(m.get("wall_ms", 0) / 1000, 1)
        results["e2e"] = {
            "rows": args.e2e,
            "n_blocks": cfg_e.n_blocks,
            "wall_s": round(wall, 1),
            "images_per_sec": round(args.e2e / wall, 1),
            "n_labels": n_labels,
            "stage_walls_s": stage_walls,
        }
        print(json.dumps({"stage": "e2e", **results["e2e"]}), flush=True)

    if em_rungs:
        import shutil

        from simhash_spark.operators.ann import ivf_fit
        from simhash_spark.operators.dedup import semdedup_keep
        from simhash_spark.operators.multimodal import image_embeddings

        em_out = []
        for n in em_rungs:
            src = spark.read.parquet(str(em_paths[n]))
            rec: dict = {"rows": n}
            # decode->embed mapInPandas pass; noop sink (count() would let
            # Catalyst prune the UDF column and skip the work — CLAUDE.md)
            best = None
            for _ in range(2):
                spark.catalog.clearCache()
                spark.sparkContext._jvm.System.gc()
                t0 = time.time()
                sink(image_embeddings(src))
                w = time.time() - t0
                best = w if best is None else min(best, w)
            rec["embed_wall_s"] = round(best, 1)
            rec["embed_images_per_sec"] = round(n / best, 1)

            # materialize embeddings once (tmpfs parquet, the repo's pin
            # pattern) for the fit + group-kernel timings
            emb_pq = CACHE / f"emb_of_ppm_{n}"
            shutil.rmtree(emb_pq, ignore_errors=True)
            (
                image_embeddings(src)
                .where(F.col("error").isNull())
                .select("image_id", "embedding")
                .write.mode("overwrite")
                .parquet(str(emb_pq))
            )
            emb = spark.read.parquet(str(emb_pq))
            k = max(16, n // 4000)  # paper regime: cells average ~4k rows
            t0 = time.time()
            cent = ivf_fit(emb, n_centroids=k, n_iter=8, vec_col="embedding")
            rec["ivf_fit_s"] = round(time.time() - t0, 1)
            rec["n_centroids"] = k
            best = None
            for _ in range(2):
                spark.catalog.clearCache()
                spark.sparkContext._jvm.System.gc()
                t0 = time.time()
                sink(
                    semdedup_keep(
                        emb, cent, threshold=0.9,
                        id_col="image_id", vec_col="embedding",
                    )
                )
                w = time.time() - t0
                best = w if best is None else min(best, w)
            rec["semdedup_wall_s"] = round(best, 1)
            rec["semdedup_rows_per_sec"] = round(n / best, 1)
            em_out.append(rec)
            print(json.dumps({"stage": "embed_kernel", **rec}), flush=True)
        results["embed_kernel"] = em_out

    if al_rungs:
        from simhash_spark.operators.multimodal import caption_pixel_alignment

        al_out = []
        for n in al_rungs:
            src = spark.read.parquet(str(al_paths[n]))
            # half the captions claim a color deterministically (id-hash
            # parity) so the cosine verdict path runs on real volume; the
            # other half exercise the no_caption_signal short-circuit — the
            # realistic mix (most scraped captions name no palette color)
            src = src.withColumn(
                "caption",
                F.when(
                    F.pmod(F.xxhash64("image_id"), F.lit(2)) == 0,
                    F.concat(F.col("caption"), F.lit(" mostly red")),
                ).otherwise(F.col("caption")),
            )
            out_df = caption_pixel_alignment(src, tau_bp=8500)
            plan = out_df._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, "alignment kernel must stay zero-exchange"
            best = None
            for _ in range(2):
                spark.catalog.clearCache()
                spark.sparkContext._jvm.System.gc()
                t0 = time.time()
                sink(out_df)
                w = time.time() - t0
                best = w if best is None else min(best, w)
            rec = {
                "rows": n,
                "align_wall_s": round(best, 1),
                "align_images_per_sec": round(n / best, 1),
            }
            al_out.append(rec)
            print(json.dumps({"stage": "alignment_kernel", **rec}), flush=True)
        results["alignment_kernel"] = al_out

    if bf_rungs:
        import shutil

        from simhash_spark.config import index_config_for
        from simhash_spark.plans.pipeline import run_pipeline

        bf_out = []
        for n in bf_rungs:
            cfg_b = index_config_for(n)
            rec: dict = {"rows": n, "n_blocks": cfg_b.n_blocks}
            for bx in (False, True):
                tag = "with_00b" if bx else "no_00b"
                draws = []
                # best-of-2 against the sandbox's 2-3x run-to-run CPU-steal
                # variance (CLAUDE.md); fresh catalog per rep — no resume skips
                for rep in range(2):
                    ck = CACHE / f"bf_{n}_{tag}_r{rep}"
                    shutil.rmtree(ck, ignore_errors=True)
                    spark.catalog.clearCache()
                    spark.sparkContext._jvm.System.gc()
                    t0 = time.time()
                    res = run_pipeline(
                        spark,
                        str(bf_paths[n]),
                        str(ck),
                        cfg=cfg_b,
                        enable_substring=False,  # orthogonal to the funnel claim
                        byte_exact=bx,
                    )
                    n_labels = res.clusters.count()
                    wall = time.time() - t0
                    stage_walls = {}
                    for mf in sorted(pathlib.Path(ck).glob("*/_manifest.json")):
                        m = json.loads(mf.read_text())
                        stage_walls[mf.parent.name] = {
                            "wall_s": round(m.get("wall_ms", 0) / 1000, 1),
                            "rows": m.get("n_rows"),
                        }
                    draws.append((wall, n_labels, stage_walls))
                wall, n_labels, stage_walls = min(draws, key=lambda d: d[0])
                rec[tag] = {
                    "wall_s": round(wall, 1),
                    "draws_s": [round(d[0], 1) for d in draws],
                    "images_per_sec": round(n / wall, 1),
                    "n_labels": n_labels,
                    "stages": stage_walls,
                }
            surv = rec["with_00b"]["stages"]["01_fingerprints"]["rows"]
            rec["dup_frac"] = round(1 - surv / n, 4)
            rec["e2e_ratio"] = round(
                rec["no_00b"]["wall_s"] / rec["with_00b"]["wall_s"], 3
            )
            bf_out.append(rec)
            print(json.dumps({"stage": "byte_funnel", **rec}), flush=True)
        results["byte_funnel"] = bf_out

    if ann_rungs:
        # ANN top-k at regime: the two approximate families with their
        # corpus-size-adaptive knobs applied the way a production run would
        # pick them —
        #   SRP: signature width srp_planes_for(n) (keys grow with log2 n,
        #        so expected RANDOM bucket mates per query stay ~flat),
        #   IVF: centroid count n/TARGET_LIST (fixed inverted-list size, so
        #        candidates/query = nprobe * TARGET_LIST is flat BY
        #        CONSTRUCTION and the knob that holds at 10^12 is explicit).
        # Evidence = cand_per_query flat across the 4x ladder while walls
        # grow ~linearly with the corpus scan (keygen/assign are map-only);
        # recall@5 vs the exact baseline on a 20-query subsample tracks the
        # accuracy cost of the knobs at each rung. Top-k over UNIFORM random
        # vectors is the adversarial case for any bucketed ANN (most true
        # top-5 are random near-ties, not planted dups) — the recall_bp
        # column is reported per rung precisely so that trade is visible.
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

        N_PROBE_Q, N_RECALL_Q, K, TARGET_LIST, NPROBE = 1000, 20, 5, 1000, 4
        ann_out = []
        for n in ann_rungs:
            emb = spark.read.parquet(str(ann_paths[n]))
            queries = emb.where(F.col("vec_id") < N_PROBE_Q).cache()
            queries.count()
            rq = emb.where(F.col("vec_id") < N_RECALL_Q)
            exact = cosine_topk(emb, rq, k=K).select("query_id", "neighbor_id")

            c_vecs = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec"))
            q_vecs = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))

            planes = srp_planes_for(n, n_tables=8)
            t0 = time.time()
            srp = srp_topk(emb, queries, k=K, n_planes=planes, n_tables=8)
            n_srp = srp.count()
            wall_srp = time.time() - t0
            srp_cand = srp_candidates(c_vecs, q_vecs, n_planes=planes, n_tables=8).count()
            srp_rec = ann_recall_eval(
                exact, srp_topk(emb, rq, k=K, n_planes=planes, n_tables=8)
            ).agg(F.avg("recall_bp")).collect()[0][0]

            n_cent = max(16, n // TARGET_LIST)
            t0 = time.time()
            cents = ivf_fit(emb, n_centroids=n_cent)
            wall_fit = time.time() - t0
            t0 = time.time()
            ivf = ivf_topk(emb, queries, cents, k=K, nprobe=NPROBE)
            n_ivf = ivf.count()
            wall_ivf = time.time() - t0
            ivf_cand = ivf_candidates(c_vecs, q_vecs, cents, nprobe=NPROBE).count()
            ivf_rec = ann_recall_eval(
                exact, ivf_topk(emb, rq, cents, k=K, nprobe=NPROBE)
            ).agg(F.avg("recall_bp")).collect()[0][0]

            rec = {
                "rows": n,
                "dim": args.dim,
                "n_queries": N_PROBE_Q,
                "srp_planes": planes,
                "srp_wall_s": round(wall_srp, 1),
                "srp_result_rows": n_srp,
                "srp_cand_pairs": srp_cand,
                "srp_cand_per_query": round(srp_cand / N_PROBE_Q, 1),
                "srp_qps": round(N_PROBE_Q / wall_srp, 1),
                "srp_recall_bp": int(srp_rec),
                "ivf_centroids": n_cent,
                "ivf_fit_s": round(wall_fit, 1),
                "ivf_wall_s": round(wall_ivf, 1),
                "ivf_cand_pairs": ivf_cand,
                "ivf_cand_per_query": round(ivf_cand / N_PROBE_Q, 1),
                "ivf_qps": round(N_PROBE_Q / wall_ivf, 1),
                "ivf_recall_bp": int(ivf_rec),
            }
            queries.unpersist()
            ann_out.append(rec)
            print(json.dumps({"stage": "ann_ladder", **rec}), flush=True)
        results["ann_ladder"] = ann_out

        # Fixed-width contrast: srp_topk's production top-k defaults
        # (8 planes x 8 tables, multi-probe — n_tables*(planes+1)/2^planes
        # ~ 28% of the corpus per query) on the two smaller rungs. This is
        # the knob that DOES hold top-k recall on uniform-random vectors,
        # and its price is candidate volume growing LINEARLY with n — the
        # same fixed-width lesson as the 4-block pigeonhole index
        # (BENCH/INDEX_SCALING.md). Small query set: the point is the
        # cand_per_query growth rate and the recall level, not throughput.
        fixed_out = []
        for n in ann_rungs[:2]:
            emb = spark.read.parquet(str(ann_paths[n]))
            rq = emb.where(F.col("vec_id") < N_RECALL_Q)
            c_vecs = emb.select(
                F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec")
            )
            q_vecs = rq.select(
                F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
            )
            cand = srp_candidates(c_vecs, q_vecs, n_planes=8, n_tables=8).count()
            exact = cosine_topk(emb, rq, k=K).select("query_id", "neighbor_id")
            rec_bp = ann_recall_eval(
                exact, srp_topk(emb, rq, k=K, n_planes=8, n_tables=8)
            ).agg(F.avg("recall_bp")).collect()[0][0]
            row = {
                "rows": n,
                "srp_planes": 8,
                "n_tables": 8,
                "cand_per_query": round(cand / N_RECALL_Q, 1),
                "recall_bp": int(rec_bp),
            }
            fixed_out.append(row)
            print(json.dumps({"stage": "ann_fixed_width", **row}), flush=True)
        results["ann_fixed_width"] = fixed_out

    if sd_rungs:
        # SemDeDup execution-shape A/B at regime: the shipped group-kernel
        # plan (groupBy(cell).applyInPandas — ONE exchange, zero joins, the
        # paper's own per-cluster-in-memory shape) vs the equivalent
        # formulation as a within-cell self-join + distributed CC + window +
        # re-attach join (the r5 first cut, kept HERE as the measured
        # reference). Same quantizer, same frozen rules — output asserted
        # identical per rung via a row-set hash before walls are compared.
        # The join variant's cost driver is Arrow-shipping sum m_c^2 / 2
        # joined rows, each carrying TWO vectors, through the cosine UDF;
        # the kernel compares the same pairs as numpy gram blocks in place.
        from simhash_spark.operators.ann import ivf_fit
        from simhash_spark.operators.connected_components import connected_components
        from simhash_spark.operators.dedup import cosine_col, semdedup_keep

        def semdedup_join_reference(emb, cent, threshold):
            from simhash_spark.operators.ann import make_ivf_assign_sim_udf
            from pyspark.sql import Window

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
                F.coalesce(F.col("id") == F.col("_keep_id"), F.lit(True))
                .cast("int")
                .alias("is_kept"),
            )

        SD_TAU, SD_TARGET_LIST, SD_REPS = 0.9, 1000, 2
        sd_out = []
        for n in sd_rungs:
            emb = spark.read.parquet(str(sd_paths[n]))
            cents = ivf_fit(emb, n_centroids=max(16, n // SD_TARGET_LIST))
            walls, sigs = {}, {}
            for vname, vfn in (
                ("kernel", lambda: semdedup_keep(emb, cents, threshold=SD_TAU)),
                ("join", lambda: semdedup_join_reference(emb, cents, SD_TAU)),
            ):
                best = float("inf")
                for _ in range(SD_REPS):
                    spark.catalog.clearCache()
                    spark.sparkContext._jvm.System.gc()
                    t0 = time.time()
                    sink(vfn())
                    best = min(best, time.time() - t0)
                walls[vname] = best
                sigs[vname] = tuple(
                    vfn()
                    .agg(
                        F.count(F.lit(1)),
                        # xor-fold, not sum: ANSI mode overflows a sum of
                        # 64-bit hashes; rows are unique so xor is a sound
                        # order-independent set signature
                        F.bit_xor(F.xxhash64("vec_id", "group_id", "is_kept")),
                        F.sum(1 - F.col("is_kept")),
                    )
                    .collect()[0]
                )
            assert sigs["kernel"] == sigs["join"], (
                f"variant outputs diverge at n={n}: {sigs}"
            )
            rec = {
                "rows": n,
                "dim": args.dim,
                "tau": SD_TAU,
                "centroids": max(16, n // SD_TARGET_LIST),
                "kernel_wall_s": round(walls["kernel"], 1),
                "join_wall_s": round(walls["join"], 1),
                "join_over_kernel": round(walls["join"] / walls["kernel"], 2),
                "kernel_rows_per_s": round(n / walls["kernel"], 1),
                "n_dropped": int(sigs["kernel"][2]),
                "outputs_identical": True,
            }
            sd_out.append(rec)
            print(json.dumps({"stage": "semdedup_ab", **rec}), flush=True)
        results["semdedup_ab"] = sd_out

    if bl_rungs:
        # Decontamination plan A/B at regime: the exact path (benchmark gram
        # hashes broadcast-joined against the corpus gram EXPLODE, per-doc
        # count agg) vs the Bloom pass (reference grams compressed to a
        # frozen-rule filter, corpus side ONE zero-exchange vectorized Arrow
        # projection — no explode, no agg). Same gram rule (word 5-grams of
        # the caption); the bloom side is one-sided by construction, so per
        # rung we assert sum(n_maybe) >= sum(n_exact) and report the
        # false-positive gram mass honestly.
        from simhash_spark.operators.curation import (
            bloom_contamination_counts,
            contamination_counts,
        )

        BL_REPS = 2
        bl_out = []
        for n in bl_rungs:
            src = spark.read.parquet(str(bl_paths[n]))
            is_bench = F.abs(F.xxhash64("image_id")) % 50 == 7
            bench = src.where(is_bench)
            corpus = src.where(~is_bench)
            walls = {}
            for vname, vfn in (
                (
                    "exact",
                    lambda: contamination_counts(
                        corpus, bench, id_col="image_id", text_col="caption",
                        bench_text_col="caption", n=5,
                    ),
                ),
                (
                    "bloom",
                    lambda: bloom_contamination_counts(
                        corpus, bench, id_col="image_id", text_col="caption",
                        bench_text_col="caption", n=5,
                    ),
                ),
            ):
                best = float("inf")
                for _ in range(BL_REPS):
                    spark.catalog.clearCache()
                    spark.sparkContext._jvm.System.gc()
                    t0 = time.time()
                    sink(vfn())
                    best = min(best, time.time() - t0)
                walls[vname] = best
            sum_exact = (
                contamination_counts(
                    corpus, bench, id_col="image_id", text_col="caption",
                    bench_text_col="caption", n=5,
                )
                .agg(F.sum("n_overlap"))
                .collect()[0][0]
                or 0
            )
            bl = bloom_contamination_counts(
                corpus, bench, id_col="image_id", text_col="caption",
                bench_text_col="caption", n=5,
            ).agg(
                F.count(F.lit(1)),
                F.sum("n_maybe_overlap"),
                F.sum("n_grams"),
            ).collect()[0]
            n_docs, sum_maybe, sum_grams = int(bl[0]), int(bl[1]), int(bl[2])
            assert sum_maybe >= sum_exact, (
                f"one-sided property violated at n={n}: {sum_maybe} < {sum_exact}"
            )
            rec = {
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
            bl_out.append(rec)
            print(json.dumps({"stage": "bloom_ab", **rec}), flush=True)
        results["bloom_ab"] = bl_out

    if delta_path is not None:
        import shutil

        from simhash_spark.config import index_config_for
        from simhash_spark.plans.delta import run_delta
        from simhash_spark.plans.pipeline import run_pipeline

        # file-level split: the corpus is written in independent chunks, so
        # carving the last ~1% of part files off as the increment is exactly
        # the append-arrival shape the delta path serves
        parts = sorted(p.name for p in delta_path.glob("part-*.parquet"))
        n_inc = max(1, len(parts) // 100)
        split = CACHE / f"delta_split_{args.delta}"
        if not (split / "_SUCCESS").exists():
            shutil.rmtree(split, ignore_errors=True)
            (split / "base").mkdir(parents=True)
            (split / "inc").mkdir(parents=True)
            for name in parts[:-n_inc]:
                os.symlink(delta_path / name, split / "base" / name)
            for name in parts[-n_inc:]:
                os.symlink(delta_path / name, split / "inc" / name)
            (split / "_SUCCESS").touch()
        n_inc_rows = (
            spark.read.parquet(str(split / "inc")).count()
        )

        exp = CACHE / f"delta_exp_{args.delta}"
        shutil.rmtree(exp, ignore_errors=True)  # fresh catalogs: no resume skips

        # the adaptive index config on BOTH sides, exactly as the production
        # CLI picks it — a DEFAULT_CONFIG (4-block) full run at 1M rows would
        # sit in the quadratic-collision regime and flatter the delta ratio
        cfg = index_config_for(args.delta)

        t0 = time.time()
        full = run_pipeline(spark, str(delta_path), str(exp / "full"), cfg=cfg)
        wall_full = time.time() - t0

        t0 = time.time()
        run_pipeline(spark, str(split / "base"), str(exp / "base"), cfg=cfg)
        wall_base = time.time() - t0

        t0 = time.time()
        delta = run_delta(spark, str(exp / "base"), str(split / "inc"), str(exp / "delta"))
        wall_delta = time.time() - t0

        lf = full.clusters.select("image_id", F.col("cluster_id").alias("c_full"))
        ld = delta.clusters.select("image_id", F.col("cluster_id").alias("c_delta"))
        joined = lf.join(ld, "image_id", "full_outer")
        agree = joined.where(F.col("c_full") == F.col("c_delta")).count()
        total = joined.count()
        results["delta_maintenance"] = {
            "rows": args.delta,
            "n_blocks": cfg.n_blocks,
            "increment_rows": n_inc_rows,
            "wall_full_s": round(wall_full, 1),
            "wall_base_s": round(wall_base, 1),
            "wall_delta_s": round(wall_delta, 1),
            "recompute_over_delta": round(wall_full / wall_delta, 1),
            "label_agreement": round(agree / total, 6),
        }
        print(json.dumps({"stage": "delta_maintenance", **results["delta_maintenance"]}), flush=True)

    if db_base is not None:
        import shutil

        from simhash_spark.config import index_config_for
        from simhash_spark.plans.delta import run_delta
        from simhash_spark.plans.pipeline import run_pipeline
        from simhash_spark.sources.catalog import CheckpointCatalog

        # full corpus dir = base ∪ increment, symlinked (one scan target)
        union = CACHE / f"delta_byte_union_{args.delta_byte}"
        if not (union / "_SUCCESS").exists():
            shutil.rmtree(union, ignore_errors=True)
            union.mkdir(parents=True)
            for p in sorted(db_base.glob("part-*.parquet")):
                os.symlink(p, union / f"base-{p.name}")
            os.symlink(db_inc / "part-0000.parquet", union / "inc-part-0000.parquet")
            (union / "_SUCCESS").touch()

        exp = CACHE / f"delta_byte_exp_{args.delta_byte}"
        shutil.rmtree(exp, ignore_errors=True)  # fresh catalogs: no resume skips
        cfg = index_config_for(args.delta_byte)

        def _stage_gc():
            # bench.py's timed() discipline, same reasons (CLAUDE.md
            # accumulation cliff): drop cached blocks and force the driver
            # GC the ContextCleaner waits on, OUTSIDE each wall timer —
            # without this the FIRST pipeline after the earlier design
            # stages pays their leftover shuffle/broadcast debris (measured
            # 355 s vs 146 s for full-vs-base at 800k, a 1.6%-rows delta)
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()

        _stage_gc()
        t0 = time.time()
        full = run_pipeline(
            spark, str(union), str(exp / "full"), cfg=cfg, byte_exact=True
        )
        wall_full = time.time() - t0

        _stage_gc()
        t0 = time.time()
        run_pipeline(
            spark, str(db_base), str(exp / "base"), cfg=cfg, byte_exact=True
        )
        wall_base = time.time() - t0

        _stage_gc()
        t0 = time.time()
        delta = run_delta(spark, str(exp / "base"), str(db_inc), str(exp / "delta"))
        wall_delta = time.time() - t0

        bx = CheckpointCatalog(spark, exp / "delta").read("00b_bytes_delta")
        sup = bx.where("image_id != keep_id")
        n_sup = sup.count()
        n_sup_base = sup.where(~F.col("keep_id").endswith("_inc")).count()

        lf = full.clusters.select("image_id", F.col("cluster_id").alias("c_full"))
        ld = delta.clusters.select("image_id", F.col("cluster_id").alias("c_delta"))
        joined = lf.join(ld, "image_id", "full_outer")
        agree = joined.where(F.col("c_full") == F.col("c_delta")).count()
        total = joined.count()
        results["delta_byte"] = {
            "base_rows": args.delta_byte,
            "n_blocks": cfg.n_blocks,
            "increment_rows": max(1, args.delta_byte // 64),
            "byte_suppressed": n_sup,
            "byte_suppressed_vs_base": n_sup_base,
            "increment_fingerprinted": delta.fingerprints_new.count(),
            "wall_full_s": round(wall_full, 1),
            "wall_base_s": round(wall_base, 1),
            "wall_delta_s": round(wall_delta, 1),
            "recompute_over_delta": round(wall_full / wall_delta, 1),
            "label_agreement": round(agree / total, 6),
        }
        print(json.dumps({"stage": "delta_byte", **results["delta_byte"]}), flush=True)

    print(json.dumps({"metric": "design_regime", "cpus": args.cpus, "stages": results}))
    spark.stop()


if __name__ == "__main__":
    main()
