"""Per-layer metrics of a traced run, measured from outside the package.

Sources, one per layer boundary the engine crosses:

* the Spark event log: jobs, tasks, scan input, Python-worker traffic and
  time, shuffle, sink, task CPU/GC/skew and spill, plus the executed plans
  (Exchange nodes, and the ``Range -> MapInArrow`` carrier of the
  Python-side parquet scan);
* noop-sink variants: the op's input scanned alone, scanned and shipped
  to Python over Arrow IPC, and the op's own frame into the noop sink;
* single-process replays of the public codec and kernel functions on a
  chunk-sized sample of the run's own input, with exact per-codec chunk
  counts and bytes from the run's store.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import types as T

from varint_simd_spark.codecs.base import (
    INT_TAGS,
    arrow_tag,
    decode_column_arrow,
    encode_column_arrow,
)
from varint_simd_spark.codecs.choose import choose_codec_arrow
from varint_simd_spark.codecs.integer import INT_CODECS
from varint_simd_spark.codecs.strings import arrow_to_bo
from varint_simd_spark.kernels.varint import decode as varint_decode
from varint_simd_spark.kernels.varint import encode as varint_encode
from varint_simd_spark.kernels.xxh64 import xxh64_bytes_bo, xxh64_int64
from varint_simd_spark.kernels.zigzag import unzigzag, zigzag
from varint_simd_spark.operators import pyscan

import workloads

INT_CODEC_NAMES = ["varint", "varint_zz", "delta_zz_varint", "delta_zz_bitpack",
                   "for_bitpack", "rle_varint", "raw64"]
STR_CODEC_NAMES = ["raw_str", "dict_str", "rle_str", "fsst"]

PYTHON_ACCUMULABLES = {
    "data sent to Python workers": "python.sent_bytes",
    "data returned from Python workers": "python.received_bytes",
    "time to start Python workers": "python.boot_ms",
    "time to run Python workers": "python.run_ms",
}


# ------------------------------------------------------------ event log


class EventLog:
    """Incremental reader of this application's event log."""

    def __init__(self, spark: SparkSession, directory: str):
        self.sc = spark.sparkContext
        self.path = None
        self.directory = directory
        self.offset = 0

    def _file(self) -> str:
        if self.path is None or not os.path.exists(self.path):
            app = self.sc.applicationId
            found = glob.glob(os.path.join(self.directory, f"*{app}*"))
            if not found:
                raise FileNotFoundError(f"no event log for {app} in {self.directory}")
            self.path = found[0]
        return self.path

    def new_events(self) -> list[dict]:
        """Events logged since the last call, after the listener bus drained
        (job-end and SQL events flush the log)."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        with open(self._file(), "rb") as f:
            f.seek(self.offset)
            data = f.read()
        end = data.rfind(b"\n") + 1  # only whole lines; the rest comes next time
        self.offset += end
        return [json.loads(line) for line in data[:end].splitlines() if line.strip()]


def _plan_counts(info: dict) -> tuple[int, int]:
    """(Exchange nodes, Range->MapInArrow scan carriers) in one plan tree."""
    exchanges = pyscans = 0
    stack = [info]
    while stack:
        node = stack.pop()
        name = node.get("nodeName", "")
        if name in ("Exchange", "BroadcastExchange"):
            exchanges += 1
        if "MapInArrow" in name and _subtree_has(node, "Range"):
            pyscans += 1
        stack.extend(node.get("children", []))
    return exchanges, pyscans


def _subtree_has(node: dict, name: str) -> bool:
    stack = list(node.get("children", []))
    while stack:
        n = stack.pop()
        if n.get("nodeName", "").startswith("Scan"):
            return False
        if n.get("nodeName") == name:
            return True
        stack.extend(n.get("children", []))
    return False


def summarize_events(events: list[dict]) -> dict:
    """Spark-boundary counters of one op from its event-log window."""
    out = dict.fromkeys([
        "jobs", "tasks", "scan.input_bytes", "python.sent_bytes", "python.received_bytes",
        "python.boot_ms", "python.run_ms", "shuffle.write_bytes", "shuffle.write_ns",
        "shuffle.fetch_wait_ms", "sink.bytes", "task.run_ms", "task.cpu_ns", "task.gc_ms",
        "spill_bytes"], 0)
    stage_runs: dict[int, list[int]] = {}
    plans: dict[int, dict] = {}
    for e in events:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            out["jobs"] += 1
        elif kind == "SparkListenerTaskEnd":
            out["tasks"] += 1
            m = e.get("Task Metrics") or {}
            out["task.run_ms"] += m.get("Executor Run Time", 0)
            out["task.cpu_ns"] += m.get("Executor CPU Time", 0)
            out["task.gc_ms"] += m.get("JVM GC Time", 0)
            out["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            out["scan.input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            out["sink.bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            out["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            out["shuffle.write_ns"] += sw.get("Shuffle Write Time", 0)
            out["shuffle.fetch_wait_ms"] += (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0)
            stage_runs.setdefault(e["Stage ID"], []).append(m.get("Executor Run Time", 0))
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                key = PYTHON_ACCUMULABLES.get(acc.get("Name"))
                if key is not None:
                    out[key] += int(acc.get("Update") or 0)
        elif kind.endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
            plans[e["executionId"]] = e["sparkPlanInfo"]  # the last one is the executed plan
    counts = [_plan_counts(p) for p in plans.values()]
    out["exchanges"] = sum(c[0] for c in counts)
    out["pyscan"] = sum(c[1] for c in counts)
    # skew: max / median task run time of the widest stage
    widest = max(stage_runs.values(), key=len, default=[])
    med = statistics.median(widest) if widest else 0
    out["task.skew"] = max(widest) / med if med else 1.0
    return out


# ------------------------------------------------------------ noop sinks


def _passthrough(batches):
    n = 0
    for b in batches:
        n += b.num_rows
    yield pa.RecordBatch.from_arrays([pa.array([n], pa.int64())], names=["n"])


_COUNT_SCHEMA = T.StructType([T.StructField("n", T.LongType())])


def _import_engine(batches):
    """Worker warm-up: the codec modules the ops import, then a row count."""
    import varint_simd_spark.operators.encode  # noqa: F401

    yield from _passthrough(batches)


def _seconds(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def decompose(spark: SparkSession, wl: workloads.Workload) -> dict:
    """Per op: its input scanned alone (JVM), scanned and shipped to Python
    over Arrow IPC, and the op's frame into the noop sink."""
    inputs = {"src": wl.src_path, "store": wl.store_path}
    scans = {}
    for op in wl.ops:
        if op.reads not in scans:
            df = spark.read.parquet(inputs[op.reads])
            scans[op.reads] = (
                _seconds(lambda: workloads.noop_write(df)),
                _seconds(lambda: workloads.noop_write(df.mapInArrow(_passthrough, _COUNT_SCHEMA))),
            )
    out = {}
    for op in wl.ops:
        scan_s, ipc_s = scans[op.reads]
        noop_s = None
        if op.noop is not None:
            noop_s = _seconds(lambda: op.noop(op.build()))
        out[op.name] = {"scan_only_s": scan_s, "scan_ipc_in_s": ipc_s, "noop_sink_s": noop_s}
    return out


# ------------------------------------------------------------ replays


def _median_time(fn, reps: int = 3) -> tuple[float, object]:
    times, res = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        res = fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), res


def replay(wl: workloads.Workload, store: dict) -> dict:
    """Codec chooser, every codec and the kernels on one input file (one
    chunk's worth of rows); chunk counts and bytes come from the store."""
    sample = pq.read_table(workloads.parquet_files(wl.src_path)[0])
    out: dict[str, tuple] = {}
    cols = {c: sample[c].combine_chunks() for c in sample.column_names}
    out["codecs.choose_s"] = (sum(_median_time(lambda a=a: choose_codec_arrow(a))[0]
                                  for a in cols.values()), "s")
    for codec in INT_CODEC_NAMES + STR_CODEC_NAMES:
        kind = INT_TAGS if codec in INT_CODECS else {"str", "bin"}
        enc_s = dec_s = 0.0
        for arr in cols.values():
            if arrow_tag(arr.type) not in kind:
                continue
            t, (tag, payload, params) = _median_time(lambda a=arr: encode_column_arrow(a, codec))
            enc_s += t
            dec_s += _median_time(
                lambda: decode_column_arrow(tag, codec, payload, params, len(arr)))[0]
        s = store["codecs"].get(codec, {"chunks": 0, "raw_bytes": 0, "enc_bytes": 0})
        out[f"codecs.{codec}.encode_s"] = (enc_s, "s")
        out[f"codecs.{codec}.decode_s"] = (dec_s, "s")
        out[f"codecs.{codec}.chunks"] = (s["chunks"], "count")
        out[f"codecs.{codec}.raw_bytes"] = (s["raw_bytes"], "bytes")
        out[f"codecs.{codec}.enc_bytes"] = (s["enc_bytes"], "bytes")

    ints = [a for a in cols.values() if arrow_tag(a.type) in INT_TAGS - {"f64"}]
    values = [a.cast(pa.int64()).to_numpy(zero_copy_only=False) if not pa.types.is_timestamp(a.type)
              else a.view(pa.int64()).to_numpy(zero_copy_only=False) for a in ints]
    enc_s = dec_s = zz_s = 0.0
    for v in values:
        z = zigzag(v)
        t, (payload, _) = _median_time(lambda: varint_encode(z))
        enc_s += t
        dec_s += _median_time(lambda: varint_decode(payload, len(z)))[0]
        zz_s += _median_time(lambda: unzigzag(zigzag(v)))[0]
    key = cols[wl.key]
    if pa.types.is_integer(key.type):
        xxh_s = _median_time(lambda: xxh64_int64(key.to_numpy(zero_copy_only=False)))[0]
    else:
        blob, offs = arrow_to_bo(key)
        xxh_s = _median_time(lambda: xxh64_bytes_bo(blob, offs))[0]
    out.update({
        "kernels.varint.encode_s": (enc_s, "s"),
        "kernels.varint.decode_s": (dec_s, "s"),
        "kernels.zigzag_s": (zz_s, "s"),
        "kernels.xxh64_s": (xxh_s, "s"),
    })
    return out


# ------------------------------------------------------------ path record


def input_record(spark: SparkSession, path: str) -> dict:
    """The inputs the engine's fast-path gates read: BYTE_ARRAY fraction,
    scan-group count, and bytes per directory."""
    files = workloads.parquet_files(path)
    try:
        mpb = int(spark.conf.get("spark.sql.files.maxPartitionBytes"))
    except ValueError:  # a size string such as "128m": the default, as encode_table reads it
        mpb = 128 << 20
    groups = len(pyscan._group_by_size(files, mpb, spark.sparkContext.defaultParallelism))
    dirs: dict[str, int] = {}
    for f in files:
        dirs[os.path.dirname(f)] = dirs.get(os.path.dirname(f), 0) + os.path.getsize(f)
    sizes = sorted(dirs.values())
    return {
        "files": len(files),
        "row_groups": sum(pq.ParquetFile(f).metadata.num_row_groups for f in files),
        "byte_array_fraction": pyscan.byte_array_fraction(files),
        "scan_groups": groups,
        "dirs": len(sizes),
        "bytes_per_dir": {"min": sizes[0], "median": statistics.median(sizes), "max": sizes[-1]}
        if sizes else None,
    }


# ------------------------------------------------------------ the traced run


def trace_run(spark: SparkSession, wl: workloads.Workload, event_dir: str,
              untraced_total_s: float, run_op) -> tuple[dict, dict]:
    """Start the new context's Python workers, run every op once under the
    event log, then the decomposition and the replays.  Returns (per-layer
    metrics, detail)."""
    n = spark.sparkContext.defaultParallelism
    spark.range(0, 4 * n, numPartitions=n).mapInArrow(_import_engine, _COUNT_SCHEMA).collect()
    log = EventLog(spark, event_dir)
    log.new_events()
    per_op, traced_total = {}, 0.0
    for op in wl.ops:
        spark.sparkContext.setJobDescription(f"perfbench {wl.name} {op.name}")
        r = run_op(op, f"traced {op.name}")
        if r is None:
            raise RuntimeError(f"traced {op.name} failed")
        rec = summarize_events(log.new_events())
        rec["plan_s"], rec["wall_s"], rec["cpu_s"] = r
        rec["sink.files"] = len(workloads.parquet_files(op.writes)) if op.writes else 0
        traced_total += rec["wall_s"]
        per_op[op.name] = rec
    spark.sparkContext.setJobDescription(None)
    for name, rec in decompose(spark, wl).items():
        per_op[name].update(rec)

    tot = lambda k: sum(r[k] for r in per_op.values())  # noqa: E731
    metrics: dict[str, tuple] = {
        "operators.plan_s": (tot("plan_s"), "s"),
        "operators.exchanges": (tot("exchanges"), "count"),
        "operators.pyscan": (tot("pyscan"), "count"),
        "operators.jobs": (tot("jobs"), "count"),
        "operators.tasks": (tot("tasks"), "count"),
        "operators.scan.input_bytes": (tot("scan.input_bytes"), "bytes"),
        "operators.python.sent_bytes": (tot("python.sent_bytes"), "bytes"),
        "operators.python.received_bytes": (tot("python.received_bytes"), "bytes"),
        "operators.python.run_s": (tot("python.run_ms") / 1e3, "s"),
        "operators.python.boot_s": (tot("python.boot_ms") / 1e3, "s"),
        "operators.shuffle.write_bytes": (tot("shuffle.write_bytes"), "bytes"),
        "operators.shuffle.write_s": (tot("shuffle.write_ns") / 1e9, "s"),
        "operators.shuffle.fetch_wait_s": (tot("shuffle.fetch_wait_ms") / 1e3, "s"),
        "operators.sink.bytes": (tot("sink.bytes"), "bytes"),
        "operators.sink.files": (tot("sink.files"), "count"),
        "operators.task.run_s": (tot("task.run_ms") / 1e3, "s"),
        "operators.task.cpu_s": (tot("task.cpu_ns") / 1e9, "s"),
        "operators.task.gc_s": (tot("task.gc_ms") / 1e3, "s"),
        "operators.task.skew": (max(r["task.skew"] for r in per_op.values()), "ratio"),
        "operators.spill_bytes": (tot("spill_bytes"), "bytes"),
        "operators.scan_only_s": (tot("scan_only_s"), "s"),
        "operators.scan_ipc_in_s": (tot("scan_ipc_in_s"), "s"),
        "operators.noop_sink_s": (sum(r["noop_sink_s"] or 0.0 for r in per_op.values()), "s"),
        "trace.overhead_frac": (traced_total / untraced_total_s - 1, "fraction"),
    }
    store = workloads.store_summary(wl.store_path)
    metrics.update(replay(wl, store))

    record = {"src": input_record(spark, wl.src_path), "store": input_record(spark, wl.store_path)}
    for op in wl.ops:
        if op.writes:
            record[op.name] = input_record(spark, op.writes)
    detail = {
        "trace": {
            "per_op": per_op,
            # which path each op took; recorded, not asserted
            "paths": {op.name: {"exchanges": per_op[op.name]["exchanges"],
                                "pyscan": per_op[op.name]["pyscan"], "input": op.reads}
                      for op in wl.ops},
            "inputs": record,
            "store_codecs": store["codecs"],
        }
    }
    return metrics, detail
