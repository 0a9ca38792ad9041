"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload images_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics, from a
traced repetition that follows the untraced ones. The lines before it list
every metric with its unit and sample count, and the run's full record (host,
Spark version, heap, parallelism, index config, commit) is written under
``.perfbench_results/``. Exits non-zero, without a result, when the engine
cannot be imported or set-up fails. Before it exits it stops the driver JVM
and every other process the run started, and waits until each has ended.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import json
import pathlib
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

END_TO_END = {
    "rows_per_s": "rows/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "dup_pair_recall": "frac",
    "ok_frac": "frac",
}

PER_LAYER = {
    "spec.fingerprint_rows_per_s_core": "rows/s",
    "spec.winnow_rows_per_s_core": "rows/s",
    "udfs.fingerprint_s": "s",
    "udfs.boundary_frac": "frac",
    "candidates.s": "s",
    "candidates.pairs_per_row": "pairs/row",
    "candidates.max_bucket": "rows",
    "candidates.task_max_over_median": "ratio",
    "candidates.shuffle_mb": "MB",
    "verify.s": "s",
    "verify.yield": "frac",
    "substring.anchors_s": "s",
    "substring.verify_s": "s",
    "substring.yield": "frac",
    "cc.s": "s",
    "cc.edges": "count",
    "catalog.write_s": "s",
    "catalog.lineage_s": "s",
    "catalog.metrics_s": "s",
    "catalog.mb_written": "MB",
    **{f"stage.{s}_s": "s" for s in (
        "01_fingerprints", "02_candidates", "02b_anchors", "02b_substr",
        "03_verified", "04_clusters",
    )},
    **{f"curation.{s}_s": "s" for s in (
        "quality_filter", "pii_scrub", "exact_dedup", "near_dup", "sample", "write",
    )},
    "spark.jobs": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.task_gc_s": "s",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "host.canary_cpu_s": "s",
    "host.canary_shuffle_s": "s",
    "host.cpu_busy_frac": "frac",
    "trace.wall_s": "s",
    "trace.untraced_wall_s": "s",
    "trace.overhead_s": "s",
    "trace.unaccounted_s": "s",
}


def git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def patch_io(tracer) -> None:
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    for fn in ("parquet", "save", "saveAsTable"):
        tracer.patch(DataFrameWriter, fn, f"sink:{fn}")
    # a parquet read lists files and reads footers on the driver
    tracer.patch(DataFrameReader, "parquet", "source:parquet")


def traced_layers(
    wl, spark, untraced_wall: float, first_digest: str, event_log: pathlib.Path, record: dict
) -> dict:
    """One traced repetition plus the kernel and UDF-boundary probes; stops
    the session so the event log is complete, then reads it."""
    from simhash_spark.config import DEFAULT_CONFIG
    from simhash_spark.plans.pipeline import fingerprint_job

    from perfbench import host as hostmod
    from perfbench.trace import EventLog, Tracer
    from perfbench.workloads import kernel_rows_per_s

    tracer = Tracer(spark)
    wl.patch(tracer)
    patch_io(tracer)
    hostmod.isolate(spark)
    try:
        with tracer.span("rep:traced") as root:
            out = wl.run_once(spark, "traced")
    finally:
        tracer.restore()
    errors = wl.check(out)
    if out["digest"] != first_digest:
        errors.append("traced repetition: output differs from the first of this seed")

    hostmod.isolate(spark)
    with tracer.span("udfs:fingerprint_noop") as udf_span:
        fingerprint_job(spark, wl.fingerprint_source(spark), DEFAULT_CONFIG).write.format(
            "noop"
        ).mode("overwrite").save()
    fp_rate, win_rate = kernel_rows_per_s(wl.captions())
    spark.stop()

    ev = EventLog(event_log)
    jobs, tasks = ev.select(tracer.path_of(root))
    totals = EventLog.totals(tasks)
    wall = tracer.duration(root)
    udf_s = tracer.duration(udf_span)
    kernel_s = wl.rows() / (fp_rate * wl.host["cores"])
    m = {name: 0.0 for name in PER_LAYER}
    m.update({
        "spec.fingerprint_rows_per_s_core": fp_rate,
        "spec.winnow_rows_per_s_core": win_rate,
        "udfs.fingerprint_s": udf_s,
        "udfs.boundary_frac": 1.0 - kernel_s / udf_s,
        "spark.jobs": len(jobs),
        "spark.shuffle_write_mb": totals["shuffle_write_mb"],
        "spark.spill_mb": totals["spill_mb"],
        "spark.task_gc_s": totals["task_gc_s"],
        "trace.wall_s": wall,
        "trace.untraced_wall_s": untraced_wall,
        "trace.overhead_s": wall - untraced_wall,
        "trace.unaccounted_s": tracer.self_time(root),
    })
    m.update(wl.layer_metrics(out, tracer, ev))
    spans_file = ROOT / ".perfbench_results" / f"{wl.name}-{wl.seed}-{tracer.run_id}.spans.jsonl"
    tracer.dump(spans_file)
    record["spans_file"] = str(spans_file.relative_to(ROOT))
    record["traced_errors"] = errors
    record["traced_recall"] = out["recall"]
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import pyspark
        import simhash_spark  # noqa: F401
        from jobs import run_curation  # noqa: F401
    except ImportError as exc:
        log(f"perfbench: the engine is not importable from {ROOT}: {exc}")
        return 2

    from perfbench import host as hostmod
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2

    host = hostmod.host_info()
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    (ROOT / ".perfbench_results").mkdir(exist_ok=True)
    event_log = work / "eventlog" if args.trace else None
    wl = WORKLOADS[args.workload](ROOT, work, host, args.seed)
    spark = None
    try:
        # ---- set-up: inputs, session start, warm-up (all in setup_s). The
        # inputs are generated or loaded while the JVM starts.
        t_setup = time.perf_counter()
        with concurrent.futures.ThreadPoolExecutor(1) as pool:
            prepared = pool.submit(wl.prepare)
            spark = hostmod.start_session(work, host, event_log)
            spark.range(1).count()
            start_s = time.perf_counter() - t_setup
            prepared.result()
        inputs_s = time.perf_counter() - t_setup
        t0 = time.perf_counter()
        wl.warm_up(spark)
        warmup_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - t_setup

        canary_cpu = hostmod.canary_cpu_s()
        canary_shuffle = hostmod.canary_shuffle_s(spark)

        # ---- measurement: whole repetitions until --seconds have passed
        walls, recalls, errors = [], [], []
        first_digest = None
        attempted = failed = 0
        busy = total = 0
        t_measure = time.perf_counter()
        with hostmod.RssSampler(spark.sparkContext._gateway.proc.pid) as rss:  # noqa: SLF001
            while attempted == 0 or time.perf_counter() - t_measure < args.seconds:
                hostmod.isolate(spark)
                attempted += 1
                b0, c0 = hostmod.cpu_times()
                try:
                    out = wl.run_once(spark, f"r{attempted}")
                    b1, c1 = hostmod.cpu_times()
                    busy, total = busy + b1 - b0, total + c1 - c0
                    rep_errors = wl.check(out)
                except Exception:  # a failed repetition is counted, not fatal
                    rep_errors = [traceback.format_exc(limit=3)]
                else:
                    first_digest = first_digest or out["digest"]
                    if out["digest"] != first_digest:
                        rep_errors.append(
                            f"repetition {attempted}: output differs from the first of this seed"
                        )
                if rep_errors:
                    failed += 1
                    errors.extend(rep_errors)
                    log("\n".join(rep_errors))
                    continue
                walls.append(out["wall_s"])
                recalls.append(out["recall"])
        if not walls:
            log("perfbench: every repetition failed")
            return 1

        untraced_wall = statistics.median(walls)
        e2e = {
            "rows_per_s": statistics.median(wl.rows() / w for w in walls),
            "setup_s": setup_s,
            "peak_rss_mb": rss.peak_bytes / 2**20,
            "dup_pair_recall": statistics.median(recalls),
            "ok_frac": (attempted - failed) / attempted,
        }
        record = {
            "workload": wl.name, "entry": wl.entry, "seed": args.seed,
            "trace": args.trace, "host": {k: host[k] for k in ("cores", "ram_gb")},
            "spark_version": pyspark.__version__, "heap_gb": host["heap_gb"],
            "parallelism": host["cores"], "n_blocks": wl.n_blocks(), "commit": git_commit(),
            "rows": wl.rows(), "input_meta": {k: v for k, v in wl.meta.items()
                                              if not isinstance(v, list)},
            "cache_hit": wl.cache_hit, "start_and_inputs_s": inputs_s, "walls_s": walls,
            "canary_cpu_s": canary_cpu, "canary_shuffle_s": canary_shuffle,
            "errors": errors, "end_to_end": e2e,
        }
        if args.trace:
            metrics = traced_layers(wl, spark, untraced_wall, first_digest, event_log, record)
            spark = None
            attempted += 1
            if record["traced_errors"]:
                failed += 1
                errors.extend(record["traced_errors"])
            metrics.update({
                "session.start_s": start_s,
                "session.warmup_s": warmup_s,
                "host.canary_cpu_s": canary_cpu,
                "host.canary_shuffle_s": canary_shuffle,
                "host.cpu_busy_frac": busy / total if total else 0.0,
            })
            units = PER_LAYER
        else:
            metrics, units = e2e, END_TO_END
        record["metrics"] = metrics
    finally:
        if spark is not None:
            spark.stop()
        shutil.rmtree(work, ignore_errors=True)

    n = len(walls)
    for name, value in metrics.items():
        print(f"{name:36s} {value:14.6g} {units[name]:10s} n={n}")
    out_file = ROOT / ".perfbench_results" / f"{wl.name}-{args.seed}-trace{args.trace}.json"
    out_file.write_text(json.dumps(record, indent=1, default=str))
    print(json.dumps({
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    from perfbench import host as hostmod

    hostmod.adopt_orphans()
    # a SIGTERM ends the run through the finally below, not around it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        code = main()
    finally:
        hostmod.stop_descendants()
    sys.exit(code)
