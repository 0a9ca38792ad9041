"""spark-submit entry point for the end-to-end TEXT curation pipeline.

One call composes the engine's curation operators in the frozen production
order a training-data run applies (each stage only ever shrinks or rewrites
rows, so the order is load-bearing and recorded in the stats output):

    1. quality filter   (Gopher-style keep/drop, textops.quality_filter)
    2. PII scrub        (redact emails/IPv4/phones, curation.pii_scrub)
    2b. decontamination (optional --decontaminate-benchmark <parquet>: drop
                         docs sharing >= min-overlap word-n-grams with the
                         eval set, over the SCRUBBED text — the shipped
                         artifact; --decontaminate-mode picks the
                         zero-exchange Bloom pass (default, one-sided) or
                         the exact broadcast gram join)
    3. exact dedup      (md5 groups, keep min id — on the SCRUBBED text,
                         so rows differing only in redacted PII collapse)
    4. near-dup dedup   (SimHash+MinHash-LSH clusters -> keep min id;
                         --substring adds the winnowing substring stage)
    4b. semantic dedup  (optional --embeddings <parquet>: SemDeDup over the
                         survivors' embedding rows — the full dedup TIER
                         LADDER exact -> near -> semantic; with quality/PII
                         off, survivors equal dedup_tier_labels' kept set,
                         test-gated)
    5. stratified sample (optional --sample-rate, deterministic md5
                         threshold — reproducible at any parallelism)

Usage:

    spark-submit --py-files engine.zip jobs/run_curation.py \
        --input /path/to/documents_parquet --output /path/to/out \
        [--parallelism 32] [--substring] [--sample-rate 0.5] \
        [--stratum-col lang] [--no-quality] [--no-pii]

Prints ONE JSON line of per-stage counts and wall seconds (rows in/out per
stage + quality reason histogram + PII totals + cluster count) — the run
manifest a monitoring system ingests. In the output parquet the text column
holds the SCRUBBED text (the shipped artifact — the pre-scrub original is
dropped, not retained), next to the PII audit counts and the rest of the
input schema.

Each document is evaluated once. Stages 1-2 are one projection (quality
reason -> keep filter -> PII scrub) that runs in exactly one write, pinned
as ``<output>/_stages/02_scrubbed``; decontamination and exact dedup read
the pin. ``quality_filter`` costs about 1-1.7 core-ms per doc (4-vCPU
host), so every extra evaluation of it is a corpus-sized cost. The other stage
boundaries that feed 2+ downstream actions are pinned to parquet under
``<output>/_stages/`` too — the exact-dedup survivors (``03_exact``), the
slim cluster labels (``04_clusters``), the dirty-id set (``02b_decontaminate_dirty``) and
the semantic survivors (``04b_semantic``): Spark recomputes a lazy chain
per action, and before the pins the fingerprint-UDF near-dup pipeline ran
3-4x per run (keep join, cluster count, final write) — measured 28 s -> ~8 s
for the near-dup stage at sf0.1. The pins double as inspectable/resumable
artifacts, exactly the CheckpointCatalog argument from the image pipeline.
A pin is read back with the schema it was written with, so the read-back
starts no schema-inference job.

Where each stat comes from — none starts a Spark job of its own:

- ``rows_in``: the footers of the input parquet files;
- quality ``rows_out`` / ``dropped`` and the PII ``redacted`` totals:
  ``StageObservations`` on the ``02_scrubbed`` write (one
  ``sum(reason = r)`` per rule in the frozen order plus ``ok``; only
  non-zero reasons are reported, as a ``groupBy`` would);
- exact ``rows_out`` (also the row count ``index_config_for`` sizes the
  near-dup index from), decontamination ``dropped`` and semantic
  ``rows_out``: the footers of the pinned files just written;
- near-dup ``clusters``: observed on the ``04_clusters`` write, as the
  label rows whose id equals their cluster_id (the frozen min-id rule
  labels exactly one member per cluster with itself);
- near-dup and sample ``rows_out`` and the split counts: observed on the
  next write that consumes those rows (``04b_semantic`` or the output);
- output ``rows_out`` and ``shard_counts``: the footers of the files
  written.

Walls: a stage's ``wall_s`` runs from its start to the end of its last
action, so it includes the lazy lineage that action evaluates, and a lazy
stage reports only the time to build its plan. The ``02_scrubbed`` write
holds quality and PII together: its wall is the ``wall_s`` of the last
stage in it (``pii_scrub`` when PII runs, else ``quality_filter``), and
``quality_filter``'s ``wall_s`` then covers only building its plan. The
near-dup keep join and the sample filter likewise run inside the next
write, whose ``wall_s`` holds them. The numbers monitor drift run-over-run,
not isolated stage cost.

Scale shape: stages 1-2 are one zero-shuffle projection fused into the scan;
stage 3 is one map-combined hash agg; stage 4 is the audited one-exchange
candidate plan + CC; stage 5 is a pure projection. Nothing here collects
unbounded data to the driver.
"""

from __future__ import annotations

import argparse
import json
import pathlib
import sys
import time

try:  # under spark-submit --py-files the engine zip is already importable
    import simhash_spark  # noqa: F401
except ImportError:
    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))


def run_curation(
    spark,
    input_path: str,
    output_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    substring: bool = False,
    quality: bool = True,
    pii: bool = True,
    near_dup: bool = True,
    near_dup_policy: str = "keep",
    decontaminate_path: str | None = None,
    decontaminate_mode: str = "bloom",
    decontaminate_n: int = 5,
    decontaminate_min_overlap: int = 1,
    embeddings_path: str | None = None,
    semantic_tau: float = 0.95,
    semantic_centroids: int | None = None,
    sample_rate: float | None = None,
    sample_rates: dict | None = None,
    stratum_col: str | None = None,
    splits: dict | None = None,
    n_shards: int | None = None,
    pack_ctx: int | None = None,
    pack_shard_chars: int = 1,
) -> dict:
    """The composed 5-stage curation run on an existing session; returns the
    stats manifest (per-stage rows out + wall seconds). bench.py calls this
    directly so the frozen composition is regression-benchmarked, not just
    smoke-run (r4 verdict #4).

    Optional faces on the frozen core (each a pure projection or slim join,
    never reordering the 5 stages):
    - ``near_dup_policy="weight"`` keeps ALL near-dup rows and attaches the
      duplicate-aware sampling weight (cluster_size, weight_bp) instead of
      deleting non-representatives — the downweight-don't-delete policy.
    - ``splits={"train": 0.98, "val": 0.01}`` assigns the leakage-safe
      train/val/test split by near-dup CLUSTER (assign_splits): no near-dup
      pair ever straddles a split boundary. Without the near-dup stage each
      doc is its own cluster (plain md5 split).
    - ``n_shards=N`` writes the output hash-partitioned into N balanced
      shards (xxhash64 of the id — LLN-balanced in rows and tokens at
      corpus scale) with per-shard counts in the manifest.
    - ``pack_ctx=L`` additionally writes the deterministic sequence-packing
      PLAN (curation.token_pack_plan, ctx_len=L) over the final output to
      ``<output>/pack_plan`` — the batch-assembly artifact a training run
      consumes next — with pack/token totals in the manifest.
    """
    from pyspark.sql import functions as F

    from simhash_spark.config import index_config_for
    from simhash_spark.operators.curation import assign_splits, pii_scrub, stratified_sample
    from simhash_spark.operators.dedup import (
        exact_dedup,
        near_dup_keep_list,
        near_dup_sample_weights,
    )
    from simhash_spark.operators.textops import _QUALITY_RULE_ORDER, quality_filter
    from simhash_spark.plans.text_dedup import text_near_dup_clusters
    from simhash_spark.sources.catalog import StageObservations, parquet_rows, pin

    if near_dup_policy not in ("keep", "weight"):
        raise ValueError(f"near_dup_policy must be 'keep' or 'weight': {near_dup_policy!r}")

    # pinned stage boundaries: each feeds 2+ downstream actions
    stages = pathlib.Path(output_path) / "_stages"

    # (stage entry, observations) whose "rows_out" the next write that
    # consumes the observed rows fills; that write's plan must hold the
    # observed frame exactly once
    observed_rows: list[tuple[dict, StageObservations]] = []

    def _observe_rows(d, stage):
        obs = StageObservations()
        observed_rows.append((stage, obs))
        return obs.observe(d, F.count(F.lit(1)).alias("rows"))

    t0 = time.time()
    df = spark.read.parquet(input_path)
    stats: dict = {"rows_in": parquet_rows(input_path), "stages": []}

    # stages 1-2: one projection, evaluated once, in the 02_scrubbed write
    # that also observes their stats
    ts = time.time()
    if quality:
        q_obs = StageObservations()
        reasons = (*_QUALITY_RULE_ORDER, "ok")
        df = q_obs.observe(
            quality_filter(df, text_col),
            *[F.sum((F.col("reason") == r).cast("long")).alias(r) for r in reasons],
        ).where(F.col("keep") == 1).drop("keep", "reason")
        q_stage = {"stage": "quality_filter", "rows_out": 0, "dropped": {},
                   "wall_s": round(time.time() - ts, 2)}
        stats["stages"].append(q_stage)
        ts = time.time()

    if pii:
        pii_obs = StageObservations()
        df = pii_obs.observe(
            pii_scrub(df, text_col),
            *[F.sum(f"n_{k}").alias(k) for k in ("email", "ipv4", "phone")],
        )
        # downstream dedup runs on the SCRUBBED text (rows differing only in
        # redacted PII are duplicates of the shipped artifact)
        df = df.drop(text_col).withColumnRenamed("clean_text", text_col)
        pii_stage = {"stage": "pii_scrub", "redacted": {}, "wall_s": 0.0}
        stats["stages"].append(pii_stage)

    if quality or pii:
        df = pin(df, stages / "02_scrubbed").df
        # the write's wall goes to the last stage it holds
        stats["stages"][-1]["wall_s"] = round(time.time() - ts, 2)
        if quality:
            hist = q_obs.get()
            q_stage["rows_out"] = hist.get("ok") or 0
            q_stage["dropped"] = {
                r: n for r in _QUALITY_RULE_ORDER if (n := hist.get(r) or 0)
            }
        if pii:
            tot = pii_obs.get()
            pii_stage["redacted"] = {k: tot.get(k) or 0 for k in ("email", "ipv4", "phone")}

    if decontaminate_path:
        # 2b — benchmark decontamination over the SCRUBBED text (the shipped
        # artifact). Bloom
        # mode is the 10^12 shape: the eval set compresses to a frozen-rule
        # filter and the corpus side is one zero-exchange vectorized pass —
        # one-sided, so contaminated docs can never survive (a ~5.6e-4/gram
        # fp sliver of clean docs is the documented price). Exact mode is
        # the broadcast gram join (no false positives, one count exchange).
        ts = time.time()
        from simhash_spark.operators.curation import (
            bloom_contamination_counts,
            contamination_counts,
        )

        if decontaminate_mode not in ("bloom", "exact"):
            raise ValueError(
                f"decontaminate_mode must be 'bloom' or 'exact': {decontaminate_mode!r}"
            )
        bench = spark.read.parquet(decontaminate_path)
        if decontaminate_mode == "bloom":
            dirty = bloom_contamination_counts(
                df, bench, id_col=id_col, text_col=text_col,
                bench_text_col=text_col, n=decontaminate_n,
            ).where(F.col("n_maybe_overlap") >= decontaminate_min_overlap)
        else:
            dirty = contamination_counts(
                df, bench, id_col=id_col, text_col=text_col,
                bench_text_col=text_col, n=decontaminate_n,
            ).where(F.col("n_overlap") >= decontaminate_min_overlap)
        # pin the SLIM dirty-id set: its lineage holds the Bloom/gram pass
        # over the corpus, which the exact-dedup write would otherwise
        # re-run in each of its branches; the count comes from its footers
        dirty_ids, n_dirty, _ = pin(
            dirty.select(F.col("id").alias(id_col)), stages / "02b_decontaminate_dirty"
        )
        df = df.join(dirty_ids, id_col, "left_anti")
        stats["stages"].append({
            "stage": "decontaminate",
            "mode": decontaminate_mode,
            "n": decontaminate_n,
            "min_overlap": decontaminate_min_overlap,
            "dropped": n_dirty,
            "wall_s": round(time.time() - ts, 2),
        })

    # exact dedup: md5 groups, keep the minimum id (frozen rule); the
    # semi-join form keeps every audit column on the surviving row. Pinned:
    # feeds the near-dup fingerprint UDF, the keep join, and the final write.
    ts = time.time()
    df, n_exact, _ = pin(exact_dedup(df, id_col, text_col), stages / "03_exact")
    exact = survivors = df
    stats["stages"].append({"stage": "exact_dedup", "rows_out": n_exact,
                            "wall_s": round(time.time() - ts, 2)})

    clusters = None
    if near_dup:
        ts = time.time()
        # corpus-size-adaptive pigeonhole width (the CLAUDE.md invariant:
        # scale paths pick blocks via index_config_for) — the 4-block/16-bit
        # DEFAULT_CONFIG goes quadratic in random candidate pairs past ~1e6
        # rows, exactly like run_pipeline's sizing note. The count is the
        # exact-dedup pin's footer rows.
        cfg = index_config_for(n_exact)
        # pinned: the slim (id, cluster_id) labels feed the keep join, the
        # split assignment and the resumable artifact — one near-dup
        # pipeline run; the write observes the cluster count
        clusters, _, c_seen = pin(
            text_near_dup_clusters(df, id_col, text_col, cfg, enable_substring=substring),
            stages / "04_clusters",
            F.sum((F.col(id_col) == F.col("cluster_id")).cast("long")).alias("clusters"),
        )
        id_type = df.schema[id_col].dataType
        if near_dup_policy == "weight":
            # downweight-don't-delete: every row survives, carrying its
            # cluster_size and weight_bp (floor(10000/size), min 1)
            w = near_dup_sample_weights(clusters, id_col=id_col)
            df = df.join(
                w.select(
                    F.col(id_col).cast(id_type).alias(id_col),
                    "cluster_size",
                    "weight_bp",
                ),
                id_col,
            )
        else:
            keep = near_dup_keep_list(clusters, id_col=id_col).where("is_kept = 1")
            # cluster ids ride as strings; cast back to the input id type
            df = df.join(keep.select(F.col(id_col).cast(id_type).alias(id_col)), id_col)
        nd_stage = {
            "stage": "near_dup",
            "policy": near_dup_policy,
            "rows_out": 0,
            "clusters": c_seen.get("clusters") or 0,
            "substring_stage": bool(substring),
            "wall_s": round(time.time() - ts, 2),
        }
        stats["stages"].append(nd_stage)
        survivors = df
        df = _observe_rows(df, nd_stage)

    if embeddings_path:
        # 4b — semantic dedup (SemDeDup) over the CURRENT survivors'
        # embedding rows: the tier ladder's last rung (dedup_tier_labels is
        # the per-doc attribution face of this same composition; with
        # quality/PII off the surviving sets are equal, test-gated).
        # Quantizer fit on the FULL embeddings table (assignment is
        # per-row, so restricting members afterwards is consistent — the
        # same frozen choice as dedup_tier_labels); centroid count is
        # corpus-size-adaptive at the IVF family's fixed target list size.
        ts = time.time()
        from simhash_spark.operators.ann import ivf_fit
        from simhash_spark.operators.dedup import semantic_drops

        emb = spark.read.parquet(embeddings_path)
        n_cent = semantic_centroids or max(16, parquet_rows(embeddings_path) // 1000)
        cent = ivf_fit(emb, n_centroids=n_cent)
        sem_drops = semantic_drops(
            emb, survivors.select(id_col), cent, semantic_tau, id_col, "vec_id"
        ).select(id_col)
        # pinned: the anti-joined survivors feed sample/split/write/pack —
        # lazy recompute would re-run the semdedup kernel per action. The
        # id restriction above reads ``survivors``, not ``df``: ``df``
        # carries the near-dup row observation, which this write fills.
        df, n_out, _ = pin(df.join(sem_drops, id_col, "left_anti"), stages / "04b_semantic")
        stats["stages"].append({
            "stage": "semantic_dedup",
            "rows_out": n_out,
            "tau": semantic_tau,
            "centroids": n_cent,
            "wall_s": round(time.time() - ts, 2),
        })

    if sample_rate is not None or sample_rates:
        ts = time.time()
        default_rate = 1.0 if sample_rate is None else sample_rate
        rates = sample_rates or {}
        if rates and not stratum_col:
            raise ValueError("sample_rates requires stratum_col")
        df = stratified_sample(
            df, id_col, stratum_col=stratum_col or id_col,
            rates=rates, default_rate=default_rate,
        )
        sample_stage = {"stage": "sample", "rows_out": 0,
                        "default_rate": default_rate, "rates": rates,
                        "wall_s": round(time.time() - ts, 2)}
        stats["stages"].append(sample_stage)
        df = _observe_rows(df, sample_stage)

    if splits:
        ts = time.time()
        # leakage-safe split: by near-dup cluster when the stage ran (the
        # labels are pinned above), else each doc is its own cluster. Both
        # label sets cover the exact-dedup survivors, a superset of df.
        lab = clusters if clusters is not None else exact.select(
            F.col(id_col).cast("string").alias(id_col),
            F.col(id_col).cast("string").alias("cluster_id"),
        )
        sp = assign_splits(lab, fractions=splits)
        names = list(dict.fromkeys([*splits, "test"]))  # assign_splits' rest name
        split_obs = StageObservations()
        df = split_obs.observe(
            df.join(
                sp.select(
                    F.col(id_col).cast(df.schema[id_col].dataType).alias(id_col), "split"
                ),
                id_col,
            ),
            *[F.sum((F.col("split") == n).cast("long")).alias(n) for n in names],
        )
        split_stage = {"stage": "split", "fractions": splits, "split_counts": {},
                       "wall_s": round(time.time() - ts, 2)}
        stats["stages"].append(split_stage)

    ts = time.time()
    out_dir = pathlib.Path(output_path) / "documents"
    if n_shards:
        df = df.withColumn(
            "shard",
            F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_shards)).cast("int"),
        )
        df.write.mode("overwrite").partitionBy("shard").parquet(str(out_dir))
    else:
        df.write.mode("overwrite").parquet(str(out_dir))
    stats["rows_out"] = parquet_rows(out_dir)
    write_stage: dict = {"stage": "write", "rows_out": stats["rows_out"],
                         "wall_s": round(time.time() - ts, 2)}
    if n_shards:
        write_stage["shard_counts"] = {
            int(d.name.partition("=")[2]): parquet_rows(d)
            for d in out_dir.glob("shard=*")
        }
    stats["stages"].append(write_stage)
    for stage, obs in observed_rows:
        stage["rows_out"] = obs.get().get("rows", 0)
    if splits:
        got = split_obs.get()
        split_stage["split_counts"] = {n: c for n in names if (c := got.get(n) or 0)}

    if pack_ctx:
        from simhash_spark.operators.curation import token_pack_plan

        ts = time.time()
        plan, rows_packed, seen = pin(
            token_pack_plan(
                spark.read.parquet(str(out_dir)), id_col, text_col,
                ctx_len=pack_ctx, shard_chars=pack_shard_chars,
            ),
            pathlib.Path(output_path) / "pack_plan",
            F.sum("n_tokens").alias("toks"),
        )
        # packs per shard = max pack_last + 1; summed across shards
        n_packs = (
            plan.groupBy("shard").agg(F.max("pack_last").alias("m"))
            .agg(F.sum(F.col("m") + 1).alias("p")).collect()[0]["p"]
        )
        stats["stages"].append({
            "stage": "pack_plan", "ctx_len": pack_ctx,
            "shards": 16 ** pack_shard_chars,
            "rows_packed": rows_packed, "n_tokens": seen.get("toks") or 0,
            "n_packs": int(n_packs or 0),
            "wall_s": round(time.time() - ts, 2),
        })

    stats["wall_s"] = round(time.time() - t0, 2)
    return stats


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="simhash_spark text curation pipeline")
    ap.add_argument("--input", required=True, help="documents parquet path")
    ap.add_argument("--output", required=True, help="output dir for cleaned parquet")
    ap.add_argument("--parallelism", type=int, default=None)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--substring", action="store_true",
                    help="add the winnowing substring stage to near-dup")
    ap.add_argument("--no-quality", action="store_true")
    ap.add_argument("--no-pii", action="store_true")
    ap.add_argument("--no-near-dup", action="store_true")
    ap.add_argument("--sample-rate", type=float, default=None,
                    help="deterministic uniform keep rate applied last")
    ap.add_argument("--sample-rates", default=None,
                    help='JSON stratum->rate map, e.g. \'{"en":0.5,"de":0.2}\' '
                    "(requires --stratum-col; strata not listed keep "
                    "--sample-rate, default 1.0)")
    ap.add_argument("--stratum-col", default=None)
    ap.add_argument("--decontaminate-benchmark", default=None,
                    help="eval-set parquet (same text column): adds the 2b "
                    "decontamination stage over the scrubbed text")
    ap.add_argument("--decontaminate-mode", choices=("bloom", "exact"),
                    default="bloom",
                    help="bloom = zero-exchange one-sided Bloom pass "
                    "(default); exact = broadcast gram join")
    ap.add_argument("--decontaminate-n", type=int, default=5,
                    help="word n-gram width for the decontamination stage")
    ap.add_argument("--decontaminate-min-overlap", type=int, default=1,
                    help="drop docs with >= this many benchmark n-grams")
    ap.add_argument("--embeddings", default=None,
                    help="embeddings parquet (vec_id, embedding) keyed by the "
                    "id column: adds the SemDeDup semantic-dedup stage over "
                    "the near-dup survivors (the full dedup tier ladder)")
    ap.add_argument("--semantic-tau", type=float, default=0.95,
                    help="SemDeDup cosine threshold for --embeddings")
    ap.add_argument("--semantic-centroids", type=int, default=None,
                    help="SemDeDup k-means cell count; default adaptive "
                    "(embedding rows / 1000, min 16)")
    ap.add_argument("--near-dup-policy", choices=("keep", "weight"), default="keep",
                    help="keep = one representative per cluster (default); "
                    "weight = keep all rows, attach cluster_size/weight_bp")
    ap.add_argument("--splits", default=None,
                    help="leakage-safe split fractions, e.g. 'train=0.98,val=0.01' "
                    "(remainder -> test); assigned by near-dup cluster")
    ap.add_argument("--shards", type=int, default=None,
                    help="write the output hash-partitioned into N shards "
                    "with per-shard counts in the manifest")
    ap.add_argument("--pack-ctx", type=int, default=None,
                    help="also write the deterministic sequence-packing plan "
                    "(token_pack_plan, this context length) to <output>/pack_plan")
    ap.add_argument("--pack-shard-chars", type=int, default=1,
                    help="md5-hex chars per packing shard (16^k shards)")
    args = ap.parse_args(argv)

    splits = None
    if args.splits:
        splits = {}
        for part in args.splits.split(","):
            name, _, frac = part.partition("=")
            splits[name.strip()] = float(frac)

    from simhash_spark.session import get_spark

    spark = get_spark(parallelism=args.parallelism, app_name="simhash-curation")
    stats = run_curation(
        spark,
        args.input,
        args.output,
        id_col=args.id_col,
        text_col=args.text_col,
        substring=args.substring,
        quality=not args.no_quality,
        pii=not args.no_pii,
        near_dup=not args.no_near_dup,
        near_dup_policy=args.near_dup_policy,
        decontaminate_path=args.decontaminate_benchmark,
        decontaminate_mode=args.decontaminate_mode,
        decontaminate_n=args.decontaminate_n,
        decontaminate_min_overlap=args.decontaminate_min_overlap,
        embeddings_path=args.embeddings,
        semantic_tau=args.semantic_tau,
        semantic_centroids=args.semantic_centroids,
        sample_rate=args.sample_rate,
        sample_rates=json.loads(args.sample_rates) if args.sample_rates else None,
        stratum_col=args.stratum_col,
        splits=splits,
        n_shards=args.shards,
        pack_ctx=args.pack_ctx,
        pack_shard_chars=args.pack_shard_chars,
    )
    print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
