"""varint_simd_spark — a PySpark-native per-column lightweight-compression
engine with the encode/decode semantics of ``as-com/varint-simd``.

Layout:
    kernels/    pure-numpy codec kernels (varint, zigzag, delta/FOR,
                bit-pack, dict, RLE, FSST) — bit-compatible with the
                reference wire format where the reference defines one
    codecs/     chunk-level codec framework: descriptor, encode/decode of a
                column chunk, auto-selection from sampled stats
    operators/  Spark operators: encode_table / decode_table / verify
                (applyInPandas + mapInArrow, Arrow-batched, no per-row Python)
    sources/    synthetic web_pages generator (deterministic, seeded) +
                parquet/Iceberg IO and the checkpoint/resume manifest
    functions/  native Spark SQL column expressions (zigzag, varint length,
                url hashing/salting) + text/dedup/similarity functions
    plans/      partitioning & skew planning (url-hash bucketing, salting)
"""

from ._worker import setup_worker

__version__ = "0.1.0"

setup_worker()
