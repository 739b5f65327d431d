"""harmony_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of immunogenomics/harmony (v2.0.4), rebuilt
Spark-first for 100 TB scale.

Layout:
    core/        the Harmony algorithm (diversity-penalized soft k-means +
                 mixture-of-experts ridge correction) as a Spark driver loop
                 with broadcast state and Arrow-vectorized kernels.
    operators/   the general relational operator surface (SURVEY.md §2.8)
                 expressed through the DataFrame API.
    extensions/  LLM-data-pipeline operators: dedup, similarity search,
                 text analysis, multimodal columns (SURVEY.md §2.10).
    streaming/   Structured Streaming surface (SURVEY.md §2.9).
    functions/   reusable column-expression helpers (array math, text).

Everything registers into :mod:`harmony_spark.registry`, which backs the
driver contract in ``__spark_entry__.py``.
"""

__version__ = "0.1.0"

# every Spark Python worker that runs one of this package's functions
# imports the package first: from then on its per-task
# importlib.invalidate_caches() stops re-reading unchanged zip archives
# (worker_startup.py).  Every worker entry point has imported
# pyspark.worker_util by then; other processes, the driver included, keep
# zipimport as it is.
import sys as _sys  # noqa: E402

if "pyspark.worker_util" in _sys.modules:
    from harmony_spark.worker_startup import install_zip_directory_cache

    install_zip_directory_cache()

# Lazy top-level exports (PEP 562): the package stays import-light (no
# pyspark import until a symbol is touched), but users get the whole
# public surface as `from harmony_spark import X`.
_EXPORTS = {
    "HarmonySpark": ("harmony_spark.core.algorithm", "HarmonySpark"),
    "run_harmony": ("harmony_spark.core.algorithm", "run_harmony"),
    "save_model": ("harmony_spark.core.algorithm", "save_model"),
    "load_model": ("harmony_spark.core.algorithm", "load_model"),
    "run_harmony_matrices": ("harmony_spark.api", "run_harmony_matrices"),
    "get_spark": ("harmony_spark.session", "get_spark"),
    "load_all": ("harmony_spark.registry", "load_all"),
    "read_any": ("harmony_spark.io", "read_any"),
    "ship": ("harmony_spark.deploy", "ship"),
    "drift_monitor": ("harmony_spark.streaming.drift", "drift_monitor"),
    "DriftRefitController": ("harmony_spark.streaming.drift", "DriftRefitController"),
    "parquet_sink": ("harmony_spark.streaming.ops", "parquet_sink"),
    "ingest_documents": ("harmony_spark.streaming.ops", "ingest_documents"),
    "streaming_heavy_hitters": ("harmony_spark.streaming.ops", "streaming_heavy_hitters"),
    "connected_components": ("harmony_spark.operators.graph", "connected_components"),
    "self_pairs_skew_safe": ("harmony_spark.operators.skew", "self_pairs_skew_safe"),
    "write_clustered": ("harmony_spark.operators.layout", "write_clustered"),
    "write_partitioned": ("harmony_spark.operators.layout", "write_partitioned"),
    "write_zordered": ("harmony_spark.operators.layout", "write_zordered"),
    "clustering_quality": ("harmony_spark.operators.layout", "clustering_quality"),
    "compact_parquet": ("harmony_spark.operators.layout", "compact_parquet"),
    "build_ivf_index": ("harmony_spark.operators.advanced", "build_ivf_index"),
    "quantize_embeddings": ("harmony_spark.extensions.similarity", "quantize_embeddings"),
    "quantized_topk": ("harmony_spark.extensions.similarity", "quantized_topk"),
    "ivf_search": ("harmony_spark.operators.advanced", "ivf_search"),
    "scale_expression": ("harmony_spark.functions.preprocessing", "scale_expression"),
}

__all__ = sorted(_EXPORTS) + ["__version__"]


def __getattr__(name: str):
    try:
        mod_name, attr = _EXPORTS[name]
    except KeyError:
        raise AttributeError(f"module 'harmony_spark' has no attribute {name!r}")
    import importlib

    return getattr(importlib.import_module(mod_name), attr)
