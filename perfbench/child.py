"""One benchmark run in its own process: set up, time the workload's ops
closed-loop, check every output, and write the result for run.py.

``--trace 1`` then restarts the Spark context with the event log on and
adds the per-layer metrics (layers.py).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import time
import traceback

from pyspark import SparkContext
from pyspark.sql import SparkSession

# run.py puts the checkout and this directory on PYTHONPATH
import workloads
from run import session_pids
from varint_simd_spark.operators import decode_table_colocated
from varint_simd_spark.operators.verify import verify_roundtrip
from varint_simd_spark.sources.checkpoint import EncodedStore
from varint_simd_spark.sources.session import get_spark

CLK_TCK = os.sysconf("SC_CLK_TCK")


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: str, event_log: str | None = None) -> SparkSession:
    n = cores()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # in local mode the executor runs in this JVM; 2 GB holds every
        # workload with room to spare and keeps the run small on a shared box
        "spark.driver.memory": "2g",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_log}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{n}]",
                      shuffle_partitions=2 * n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class MemSampler:
    """Peak summed proportional set size (PSS) of every process in this
    run's session (this process, its JVM and the Python workers), sampled
    from /proc while enabled.  PSS splits the pages the forked Python
    workers share among them, so an idle extra worker adds only its
    private pages."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak_kb = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        sid = os.getsid(0)
        while not self._stop.is_set():
            if self.active.is_set():
                total = 0
                for pid in session_pids(sid):
                    try:
                        with open(f"/proc/{pid}/smaps_rollup") as f:
                            total += next(int(line.split()[1]) for line in f
                                          if line.startswith("Pss:"))
                    except (OSError, StopIteration):
                        pass  # the process ended between listing and reading
                self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.period_s)

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


def session_cpu_s() -> float:
    """CPU seconds used so far by this run's session: every live process,
    plus the children each has reaped."""
    total = 0
    for pid in session_pids(os.getsid(0)):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended between listing and reading
        fields = stat[stat.rfind(")") + 2:].split()
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / CLK_TCK


class Tally:
    """Checked executions and their failures."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, what: str, ok: bool, err: str | None = None) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{what}: {err or 'wrong result'}")
            log(f"FAILED {what}: {err or 'wrong result'}")


def run_op(op: workloads.Op, tally: Tally, label: str) -> tuple[float, float, float] | None:
    """One checked execution: (plan seconds, wall seconds, CPU seconds of
    the session), or None if it raised or returned a wrong result.  The
    check runs after the clock stops."""
    try:
        c0 = session_cpu_s()
        t0 = time.perf_counter()
        frame = op.build()
        t1 = time.perf_counter()
        res = op.run(frame)
        t2 = time.perf_counter()
        cpu = session_cpu_s() - c0
        ok = bool(op.check(res))
    except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
        tally.record(label, False, traceback.format_exc(limit=3).strip().splitlines()[-1])
        return None
    tally.record(label, ok)
    return (t1 - t0, t2 - t0, cpu) if ok else None


def timed_loop(wl: workloads.Workload, seconds: float, tally: Tally, mem: MemSampler
               ) -> tuple[dict[str, list[float]], dict[str, list[float]]]:
    """Closed loop, one client: whole rounds of the op mix until the
    successful executions add up to ``seconds``.  Returns the wall and the
    CPU seconds of every successful execution, per op."""
    samples: dict[str, list[float]] = {op.name: [] for op in wl.ops}
    cpu: dict[str, list[float]] = {op.name: [] for op in wl.ops}
    measured = 0.0
    mem.active.set()
    try:
        while measured < seconds:
            before = measured
            for op in wl.ops:
                r = run_op(op, tally, op.name)
                if r is not None:
                    samples[op.name].append(r[1])
                    cpu[op.name].append(r[2])
                    measured += r[1]
            if measured == before:  # every op failed: nothing left to time
                break
    finally:
        mem.active.clear()
    return samples, cpu


def check_stores(spark: SparkSession, wl: workloads.Workload, tally: Tally,
                 roundtrip: bool) -> None:
    """Check once, untimed, every store the run wrote against its source:
    decode it in this process and compare the rows bit for bit; with
    ``roundtrip`` also run the package's Spark-side ``verify_roundtrip``."""
    stores = sorted({op.writes for op in wl.ops if op.writes} | {wl.store_path})
    for path in stores:
        label = f"store check {os.path.relpath(path, os.path.dirname(wl.src_path))}"
        try:
            ok = workloads.store_roundtrips(path, wl.src_path, wl.key)
            if ok and roundtrip:
                if path.endswith("/encoded"):  # an EncodedStore: manifest-gated read
                    enc = EncodedStore(spark, os.path.dirname(path)).read_encoded()
                else:
                    enc = spark.read.parquet(path)
                dec = decode_table_colocated(enc, check_layout=False)
                rows = verify_roundtrip(wl.src, dec, wl.key).collect()
                ok = bool(rows) and all(r["identical"] for r in rows)
            tally.record(label, ok)
        except Exception:  # noqa: BLE001 — a failed check is counted, the run goes on
            tally.record(label, False, traceback.format_exc(limit=3).strip().splitlines()[-1])


def native_canary(spark: SparkSession, wl: workloads.Workload, work: str) -> dict:
    """The yardstick: the same input written and read back (all columns)
    with native Spark parquet.  Reported, never gated."""
    out = f"{work}/native"
    t0 = time.perf_counter()
    wl.src.write.mode("overwrite").parquet(out)
    write_s = time.perf_counter() - t0
    dtypes = wl.expected["columns"]
    t0 = time.perf_counter()
    workloads.fingerprint_of(spark.read.parquet(out), list(dtypes), dtypes)
    read_s = time.perf_counter() - t0
    return {"native.write_s": write_s, "native.read_all_s": read_s,
            "native.bytes": sum(map(os.path.getsize, workloads.parquet_files(out)))}


def stop_spark(spark: SparkSession) -> None:
    """Stop the context, then the JVM; wait until the JVM has exited."""
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()
    work = args.work
    tally = Tally()
    mem = MemSampler()

    t0 = time.perf_counter()
    spark = start_spark(work)
    session_s = time.perf_counter() - t0
    log(f"session up in {session_s:.2f}s on local[{cores()}]")
    try:
        t1 = time.perf_counter()
        wl = workloads.build_workload(args.workload, spark, args.seed, work, 2 * cores())
        t2 = time.perf_counter()
        # warm-up: one checked execution of every op, so the fresh JVM has
        # compiled and the Python workers have started before the clock runs
        for op in wl.ops:
            run_op(op, tally, f"warm-up {op.name}")
        t3 = time.perf_counter()
        setup_s = session_s + (t3 - t1) - wl.expected_s  # the check values are untimed
        log(f"setup {setup_s:.2f}s (generate {wl.generate_s:.2f}s, store {wl.store_s:.2f}s, "
            f"warm-up {t3 - t2:.2f}s)")

        samples, cpu = timed_loop(wl, args.seconds, tally, mem)
        missing = [k for k, v in samples.items() if not v]
        if missing:
            raise RuntimeError(f"no successful execution of {missing}: {tally.failures}")
        medians = {k: statistics.median(v) for k, v in samples.items()}
        cpu_medians = {k: statistics.median(v) for k, v in cpu.items()}
        log("medians " + ", ".join(f"{k} {v:.3f}s" for k, v in medians.items()))
        t4 = time.perf_counter()
        check_stores(spark, wl, tally, roundtrip=bool(args.trace))
        t5 = time.perf_counter()
        canary = native_canary(spark, wl, work)
        store = workloads.store_summary(wl.store_path)
        log(f"store checks {t5 - t4:.2f}s, canary {time.perf_counter() - t5:.2f}s")

        ops_total = sum(medians.values())
        raw_done = sum(op.raw_bytes for op in wl.ops)
        e2e = {
            "setup_s": (setup_s, "s"),
            "ops_total_s": (ops_total, "s"),
            "ops_cpu_s": (sum(cpu_medians.values()), "s"),
            "raw_mb_per_s": (raw_done / 1e6 / ops_total, "MB/s"),
            "size_vs_ref": (store["enc_bytes"] / store["ref_bytes"], "ratio"),
            "stored_bytes_per_raw_byte": (store["disk_bytes"] / wl.raw_bytes, "ratio"),
            "peak_pss_mb": (mem.peak_kb / 1e3, "MB"),
        }
        detail = [{
            "workload": args.workload, "seed": args.seed, "cores": cores(),
            "ops": {k: {"median_s": medians[k], "samples": len(v), "min_s": min(v),
                        "max_s": max(v), "median_cpu_s": cpu_medians[k]}
                    for k, v in samples.items()},
            "input": {"raw_bytes": wl.raw_bytes, "rows": wl.expected["n"]},
            "canary": canary,
        }]
        if args.trace:
            import layers

            # a new context in the same JVM, now with the event log on
            spark.stop()
            spark = start_spark(work, event_log=f"{work}/eventlog")
            traced = workloads.build_workload(args.workload, spark, args.seed, work,
                                              2 * cores(), prior=wl)
            per_layer, trace_detail = layers.trace_run(
                spark, traced, f"{work}/eventlog", ops_total,
                lambda op, label: run_op(op, tally, label))
            per_layer.update({
                "sources.session.start_s": (session_s, "s"),
                "sources.generate_s": (wl.generate_s, "s"),
                "native.write_s": (canary["native.write_s"], "s"),
                "native.read_all_s": (canary["native.read_all_s"], "s"),
                "native.bytes": (canary["native.bytes"], "bytes"),
            })
            metrics = per_layer
            detail.append(trace_detail)
        else:
            metrics = e2e
        detail[0].update(ops_failed_frac=tally.failed / tally.attempted, failures=tally.failures)
        result = {
            "correct": tally.failed == 0,
            "attempted": tally.attempted,
            "failed": tally.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        mem.close()
        stop_spark(spark)
    with open(args.result, "w") as f:
        json.dump({"result": result, "detail": detail}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
