"""Text-corpus near-duplicate pipeline — the same engine (fingerprint UDF,
LSH/pigeonhole candidates, native Hamming verify, CC clustering) applied to a
generic (id, text) corpus such as an LLM training set. This is the
``documents``-table face of the image+caption pipeline in plans/pipeline.py:
no perceptual hash, substring stage optional.

All stages are lazy DataFrames; callers checkpoint via CheckpointCatalog
exactly as run_pipeline does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from simhash_spark.config import DEFAULT_CONFIG, PipelineConfig
from simhash_spark.functions.udfs import with_fingerprints
from simhash_spark.plans.pipeline import candidate_job, cluster_job, near_dup_pairs


def text_fingerprints(
    df: DataFrame, id_col: str, text_col: str, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """(id, text) -> (image_id, simhash, n_shingles, bands)."""
    from simhash_spark.session import spread_small_input

    slim = spread_small_input(as_captions(df, id_col, text_col))
    return with_fingerprints(slim, cfg, emit_minhash=False).drop("caption")


def as_captions(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, text) -> (image_id, caption): the id is carried under the
    pipeline's canonical names so every downstream operator (candidates,
    substring, verify, CC) applies unchanged."""
    return df.select(
        F.col(id_col).cast("string").alias("image_id"), F.col(text_col).alias("caption")
    )


def text_candidates(fp: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG) -> DataFrame:
    """MinHash-LSH ∪ SimHash-pigeonhole candidates (no phash source),
    all keys from one scan of the fingerprint table."""
    return candidate_job(fp, cfg, include_phash=False)


def text_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: PipelineConfig = DEFAULT_CONFIG,
    enable_substring: bool = False,
) -> DataFrame:
    """(id, text) -> verified near-dup pairs (a, b, hamming_caption, src)."""
    fp = text_fingerprints(df, id_col, text_col, cfg)
    docs = as_captions(df, id_col, text_col)
    _, verified = near_dup_pairs(
        fp, docs, cfg, include_phash=False, enable_substring=enable_substring
    )
    return verified.drop("hamming_phash")


def text_near_dup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: PipelineConfig = DEFAULT_CONFIG,
    enable_substring: bool = False,
) -> DataFrame:
    """(id, text) -> (doc_id, cluster_id); singletons labeled by themselves."""
    pairs = text_near_dup_pairs(df, id_col, text_col, cfg, enable_substring)
    ids = df.select(F.col(id_col).cast("string").alias("image_id"))
    return cluster_job(pairs, ids, cfg).withColumnRenamed("image_id", id_col)
