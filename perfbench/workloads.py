"""The benchmark's three workloads: seeded inputs, timed ops and their checks.

Each timed op is an ``Op``: ``build()`` is the public call that returns the
lazy DataFrame (its time is ``operators.plan_s``), ``run(frame)`` executes
it and returns what ``check`` compares with the values native Spark
computed once from the source.  ``noop(frame)`` runs the same frame into
Spark's noop sink for the per-layer decomposition; it is None where the
public call owns its sink.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from varint_simd_spark.codecs.base import decode_column_arrow
from varint_simd_spark.operators import (
    column_meta,
    decode_table_colocated,
    encode_table,
    encode_table_bucketed,
    encode_table_per_split,
)
from varint_simd_spark.operators.encode import decode_aggregate
from varint_simd_spark.sources.checkpoint import EncodedStore, encode_resumable
from varint_simd_spark.sources.web_pages import generate_web_pages

# Sizes keep one run (session start, set-up, timed loop, checks) within
# about a minute on 4 cores.
WEB_PAGES = 30_000
INT_ROWS = 400_000
INPUT_FILES = 8

OPS = {
    # the write side (four encode topologies), then the read side of the
    # same codecs on a store encoded once in set-up
    "web": ["encode_hash", "encode_split", "encode_bucketed", "ingest_resumable",
            "decode_full", "decode_pruned", "decode_filtered", "agg_decode", "agg_stats"],
    "int_roundtrip": ["encode_hash", "decode_full", "agg_decode"],
}


@dataclass
class Op:
    name: str
    build: Callable[[], Any]
    run: Callable[[Any], Any]
    check: Callable[[Any], bool]
    raw_bytes: int
    reads: str  # "src" or "store": the input the op scans
    writes: str | None = None  # output directory of an encode op
    noop: Callable[[Any], None] | None = None


@dataclass
class Workload:
    name: str
    key: str
    src: DataFrame
    src_path: str
    store: DataFrame  # the encode_table store the decode ops read
    store_path: str
    raw_bytes: int
    expected: dict
    generate_s: float
    store_s: float
    expected_s: float
    ops: list[Op] = field(default_factory=list)


def noop_write(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def write_partitioned(df: DataFrame, col: str, path: str) -> None:
    df.write.partitionBy(col).mode("overwrite").parquet(path)


# ---------------------------------------------------------------- inputs


def generate_int_table(spark: SparkSession, n: int, seed: int) -> DataFrame:
    """lineitem-shaped table from native expressions only: a unique int64
    key increasing with the row, uniform part/supp keys, small ints,
    two-decimal doubles, two 1-char flags and near-sorted timestamps."""
    h = lambda salt: F.abs(F.xxhash64("id", F.lit(seed), F.lit(salt)))  # noqa: E731
    day = 86_400_000_000
    ship = (
        F.unix_micros(F.to_timestamp(F.lit("1992-01-01 00:00:00")))
        + F.col("id") * 2_000_000 + (h(10) % (4 * day)) - 2 * day
    )
    qty = h(5) % 50 + 1
    flag = lambda chars, salt: F.element_at(  # noqa: E731
        F.array(*map(F.lit, chars)), (h(salt) % len(chars) + 1).cast("int"))
    return spark.range(n).select(
        (F.col("id") * 4 + h(1) % 4).alias("l_orderkey"),
        (h(2) % 200_000 + 1).alias("l_partkey"),
        (h(3) % 10_000 + 1).alias("l_suppkey"),
        (h(4) % 7 + 1).cast("int").alias("l_linenumber"),
        qty.alias("l_quantity"),
        (qty * (90_000 + h(2) % 110_000) / F.lit(100.0)).alias("l_extendedprice"),
        ((h(6) % 11) / F.lit(100.0)).alias("l_discount"),
        ((h(7) % 9) / F.lit(100.0)).alias("l_tax"),
        flag("RAN", 8).alias("l_returnflag"),
        flag("OF", 9).alias("l_linestatus"),
        F.timestamp_micros(ship).alias("l_shipdate"),
        F.timestamp_micros(ship + (h(11) % 60 - 30) * day).alias("l_commitdate"),
        F.timestamp_micros(ship + (h(12) % 30 + 1) * day).alias("l_receiptdate"),
    )


# ------------------------------------------------------ expected values


def int_domain(c: str, dtype: str):
    return F.unix_micros(c) if dtype == "timestamp" else F.col(c).cast("long")


def exact_value(c: str, dtype: str):
    """A column's per-row value in a domain whose sum is exact and
    order-independent: bytes for strings, cents for the two-decimal
    doubles, the int64 domain for everything else."""
    if dtype in ("string", "binary"):
        return F.octet_length(c)
    if dtype == "double":
        return F.round(F.col(c) * 100).cast("long")
    return int_domain(c, dtype).cast("decimal(38,0)")


def fingerprint(columns: list[str], dtypes: dict, where=None) -> list:
    """Aggregates that pin down a frame's rows as a multiset: the row count,
    the sum of each row's xxhash64 over ``columns``, and each column's exact
    sum.  ``where`` restricts them to the matching rows."""
    values = [F.lit(1), F.xxhash64(*columns).cast("decimal(38,0)")]
    values += [exact_value(c, dtypes[c]) for c in columns]
    if where is not None:
        values = [F.when(where, v) for v in values]
    return [F.count(values[0])] + [F.sum(v) for v in values[1:]]


def fingerprint_of(df: DataFrame, columns: list[str], dtypes: dict) -> list[int]:
    return [None if v is None else int(v) for v in df.agg(*fingerprint(columns, dtypes)).collect()[0]]


def expected_values(src: DataFrame) -> dict:
    """One native Spark job over the source: the fingerprint of every
    frame an op returns or writes, each column's null count and
    int64-domain min/max, and the raw bytes the throughput divides."""
    dtypes = dict(src.dtypes)
    specs = {"all": (list(dtypes), None)}
    if "lang" in dtypes:
        specs["decode_pruned"] = (["text"], None)
        specs["decode_filtered"] = (["url", "text"], F.col("lang") == "de")
    aggs = [F.count(F.lit(1)).alias("n")]
    for name, (cols, where) in specs.items():
        aggs += [e.alias(f"fp.{name}.{i}") for i, e in enumerate(fingerprint(cols, dtypes, where))]
    for c, t in dtypes.items():
        aggs += [F.sum(exact_value(c, t)).alias(f"{c}__sum"),
                 (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls")]
        if t not in ("string", "binary", "double"):
            aggs += [F.min(int_domain(c, t)).alias(f"{c}__min"),
                     F.max(int_domain(c, t)).alias(f"{c}__max")]
    if "lang" in dtypes:
        # bench.py's raw bytes: string lengths + 8 per timestamp
        aggs += [F.sum(F.length("url") + F.lit(8) + F.length("html") + F.length("text")
                       + F.length("lang")).alias("raw"),
                 F.sum(F.length("text")).alias("raw_text")]
    row = src.agg(*aggs).collect()[0].asDict()
    exp = {k: (int(v) if v is not None else None) for k, v in row.items()}
    exp["fp"] = {name: [exp.pop(f"fp.{name}.{i}") for i in range(2 + len(cols))]
                 for name, (cols, _) in specs.items()}
    if "raw" not in exp:  # an all-fixed-width table: 8 bytes per value
        exp["raw"] = exp["raw_text"] = 8 * len(dtypes) * exp["n"]
    exp["columns"] = dtypes
    return exp


def check_aggregate(rows, exp: dict) -> bool:
    """decode_aggregate rows against the native aggregates, field by field."""
    got = {r["column"]: r for r in rows}
    if set(got) != set(exp["columns"]):
        return False
    for c, t in exp["columns"].items():
        r = got[c]
        if r["n_rows"] != exp["n"] or r["n_nulls"] != exp[f"{c}__nulls"]:
            return False
        if t in ("string", "binary"):
            if r["sum_bytes"] != exp[f"{c}__sum"]:
                return False
        elif t != "double":
            if r["sum_exact"] is None or int(r["sum_exact"]) != exp[f"{c}__sum"]:
                return False
            for k in ("min", "max"):
                v = r[f"{k}_exact"]
                if v is not None and int(v) != exp[f"{c}__{k}"]:
                    return False
    return True


# ------------------------------------------------------- store metadata


def parquet_files(path: str) -> list[str]:
    return sorted(
        os.path.join(d, f) for d, _, fs in os.walk(path)
        for f in fs if not f.startswith((".", "_"))
    )


def store_summary(path: str) -> dict:
    """An encoded store's metadata, read locally with pyarrow: values per
    column, chunks and bytes per codec, and bytes on disk."""
    rows = pads.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=["column", "codec", "n_values", "raw_bytes", "ref_bytes", "enc_bytes"]
    ).to_pylist()
    per_col: dict[str, int] = {}
    codecs: dict[str, dict] = {}
    for r in rows:
        per_col[r["column"]] = per_col.get(r["column"], 0) + r["n_values"]
        c = codecs.setdefault(r["codec"], {"chunks": 0, "raw_bytes": 0, "enc_bytes": 0})
        c["chunks"] += 1
        c["raw_bytes"] += r["raw_bytes"]
        c["enc_bytes"] += r["enc_bytes"]
    return {
        "values_per_column": per_col,
        "codecs": codecs,
        "enc_bytes": sum(r["enc_bytes"] for r in rows),
        "ref_bytes": sum(r["ref_bytes"] for r in rows),
        "disk_bytes": sum(map(os.path.getsize, parquet_files(path))),
    }


def store_holds_source(path: str, exp: dict) -> bool:
    return store_summary(path)["values_per_column"] == {c: exp["n"] for c in exp["columns"]}


def store_roundtrips(store_path: str, src_path: str, key: str) -> bool:
    """Decode every chunk of a store in this process with the public codec
    API and compare the rows, sorted by the unique key, bit for bit with
    the source parquet."""
    enc = pads.dataset(store_path, format="parquet", partitioning="hive").to_table(
        columns=["chunk_id", "column", "dtype", "codec", "params", "payload", "n_values"])
    chunks: dict[int, dict[str, pa.Array]] = {}
    for r in enc.to_pylist():
        chunks.setdefault(r["chunk_id"], {})[r["column"]] = decode_column_arrow(
            r["dtype"], r["codec"], r["payload"], json.loads(r["params"]), r["n_values"])
    src = pq.read_table(src_path)
    if not chunks or any(set(c) != set(src.column_names) for c in chunks.values()):
        return False
    got = pa.table({c: pa.concat_arrays([ch[c] for ch in chunks.values()])
                    for c in src.column_names})
    if got.num_rows != src.num_rows:
        return False
    got = got.take(pc.sort_indices(got[key]))
    src = src.take(pc.sort_indices(src[key]))
    return all(got[c].equals(src[c].cast(got[c].type)) for c in src.column_names)


# ------------------------------------------------------------ workloads


def build_workload(name: str, spark: SparkSession, seed: int, work: str,
                   n_chunks: int, prior: Workload | None = None) -> Workload:
    """Generate and write the seeded input, build the read store, and
    compute the expected values.  With ``prior`` (a workload set up earlier
    in another Spark context) reuse its files and values instead."""
    src_path = f"{work}/input"
    key = "l_orderkey" if name == "int_roundtrip" else "url"
    # the decode ops read one encode_table store built here, which is also
    # the store the size metrics describe
    store_path = f"{work}/store"
    generate_s = store_s = expected_s = 0.0
    if prior is None:
        t0 = time.perf_counter()
        if name == "int_roundtrip":
            n, gen = INT_ROWS, generate_int_table(spark, INT_ROWS, seed)
        else:
            n, gen = WEB_PAGES, generate_web_pages(spark, WEB_PAGES, seed=seed)
        # many files, as real inputs are: a single file cannot be split
        # below its row groups, which would cap scan parallelism
        gen.write.option("maxRecordsPerFile", -(-n // INPUT_FILES)).parquet(src_path)
        generate_s = time.perf_counter() - t0
    src = spark.read.parquet(src_path)
    if prior is None:
        t0 = time.perf_counter()
        write_partitioned(encode_table(src, key=key, n_chunks=n_chunks), "chunk_id", store_path)
        store_s = time.perf_counter() - t0
    store = spark.read.parquet(store_path)
    if prior is None:
        t0 = time.perf_counter()
        exp = expected_values(src)
        expected_s = time.perf_counter() - t0
    else:
        exp = prior.expected
    wl = Workload(name, key, src, src_path, store, store_path, exp["raw"], exp,
                  generate_s, store_s, expected_s)
    meta = column_meta(store)
    for op in OPS[name]:
        if op.startswith(("encode", "ingest")):
            wl.ops.append(_encode_op(op, spark, wl, work, n_chunks))
        else:
            wl.ops.append(_read_op(op, wl, meta, exp["raw_text"] if op == "decode_pruned" else exp["raw"]))
    return wl


def _encode_op(name: str, spark: SparkSession, wl: Workload, work: str, n_chunks: int) -> Op:
    src, key, exp = wl.src, wl.key, wl.expected
    out = f"{work}/{name}"

    def stored(_):
        return store_holds_source(out, exp)

    if name == "encode_hash":
        return Op(name, lambda: encode_table(src, key=key, n_chunks=n_chunks),
                  lambda df: write_partitioned(df, "chunk_id", out), stored,
                  wl.raw_bytes, "src", out, noop_write)
    if name == "encode_split":
        return Op(name, lambda: encode_table_per_split(src, key=key),
                  lambda df: write_partitioned(df, "chunk_id", out), stored,
                  wl.raw_bytes, "src", out, noop_write)
    if name == "encode_bucketed":
        return Op(name, lambda: encode_table_bucketed(src, key=key, n_buckets=n_chunks),
                  lambda df: write_partitioned(df.repartition("bucket"), "bucket", out),
                  stored, wl.raw_bytes, "src", out,
                  lambda df: noop_write(df.repartition("bucket")))
    assert name == "ingest_resumable", name
    root = f"{work}/resumable"
    out = f"{root}/encoded"

    def empty_store():
        shutil.rmtree(root, ignore_errors=True)
        return EncodedStore(spark, root)

    def run(store):
        return encode_resumable(store, src, key=key, n_chunks=n_chunks, salted=True)

    def check(res):
        snapshot, n_encoded = res
        return snapshot is not None and n_encoded == n_chunks and stored(None)

    return Op(name, empty_store, run, check, wl.raw_bytes, "src", out)


def _read_op(name: str, wl: Workload, meta: list, raw: int) -> Op:
    enc, exp = wl.store, wl.expected
    dtypes = exp["columns"]
    if name.startswith("agg"):
        return Op(name, lambda: decode_aggregate(enc, use_stats=(name == "agg_stats")),
                  lambda df: df.collect(), lambda rows: check_aggregate(rows, exp),
                  raw, "store", None, noop_write)
    columns = {"decode_full": None, "decode_pruned": ["text"],
               "decode_filtered": ["url", "text"]}[name]
    where = [("lang", "==", "de")] if name == "decode_filtered" else None
    want = exp["fp"]["all" if columns is None else name]
    return Op(
        name,
        lambda: decode_table_colocated(enc, meta=meta, columns=columns, where=where,
                                       check_layout=False),
        lambda df: fingerprint_of(df, columns or list(dtypes), dtypes),
        lambda got: got == want,
        raw, "store", None, noop_write,
    )
