"""simhash_spark — a PySpark-native near-duplicate detection & clustering engine.

Rebuilt from scratch with the capabilities of the swkfk/SimHash reference
(a C batch SimHash dedup program, /root/reference/README.md:12-26), re-expressed
idiomatically on the Spark DataFrame API:

- 64-bit SimHash over caption shingles (spec.py, frozen canonical kernels)
- MinHash + LSH band hashing, pigeonhole bit-rotation index (Hamming <= 3)
- exact Hamming verification via native ``bit_count(a XOR b)`` (codegen'd)
- clusters via iterative connected-components joins (large-star/small-star)
- winnowing-anchor substring stage for near-identical caption runs
- checkpoint-per-stage with per-partition lineage + metrics, resumable

All Python-side inner loops are vectorized numpy inside pandas/Arrow UDFs;
there is no row-at-a-time Python UDF anywhere in the engine.
"""

from simhash_spark.config import PipelineConfig

__version__ = "0.1.0"

__all__ = ["PipelineConfig", "__version__"]
