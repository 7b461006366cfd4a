"""plc — PySpark-native per-column lightweight-compression engine.

A from-scratch rebuild of the capabilities of ``peterboncz/parquet-lib``
(dictionary encoding, hybrid RLE/bit-packing, FSST, frame-of-reference +
bit-packing, per-column-chunk codec auto-selection) expressed Spark-first:
DataFrame transforms plan the job (range partitioning, skew salting, stats
pre-pass, manifests, resume) and Arrow-vectorized ``mapInArrow`` kernels do
the encoding — zero per-row Python. See SURVEY.md for the blueprint.
"""

__version__ = "0.1.0"

from plc.util import _cache_zip_directories

_cache_zip_directories()  # a no-op outside a reused Spark Python worker


# public names, imported lazily from the module that defines them
_EXPORTS = {
    "plc.pipeline": ("encode", "decode", "verify", "build_plan",
                     "PipelineConfig"),
    "plc.chunk": ("EncodeConfig",),
    "plc.streaming": ("decode_stream", "compact_stream",
                      "expire_stream_batches", "committed_batches"),
    "plc.datasource": ("register", "store_agg", "gc"),  # format + store ops
}
__all__ = [name for names in _EXPORTS.values() for name in names]


def __getattr__(name):  # lazy: keep kernel imports pyspark-free
    for module, names in _EXPORTS.items():
        if name in names:
            import importlib

            return getattr(importlib.import_module(module), name)
    raise AttributeError(name)
