#!/usr/bin/env python3
"""Benchmark of the page store: encode, resume and decode on seeded workloads.

Run from the repository root:

    python3 perfbench/run.py --workload mixture_ratio --seed 1 --seconds 24 --trace 0

One driver process runs Spark at ``local[k]``, k = the CPUs this process may
use. Set-up generates the workload's input from ``--seed``, writes it to
parquet (the program reads only that parquet), computes the DEFLATE-9
reference, runs the per-group encode once in each of the k Python workers
and runs two unmeasured cycles of the ops. Then the ops run as a
closed loop (one client; the next op starts when the previous one returns)
in the order encode, resume, decode, repeated; no op starts after
``--seconds`` have passed. Every op's output is checked; a failed check
counts the op as failed and the run goes on. After the loop, the decoded
store is compared row by row with the input once.

``--trace 0`` prints the end-to-end metrics (medians over the run's ops).
``--trace 1`` prints the per-layer metrics instead: store and engine spans
around the Spark path, Spark task counts, /proc CPU and memory per process
kind, and an in-process replay of every group through the per-group encode
and the page decoder with span wrappers on each kernel layer.

Standard output ends with two JSON lines: the run's context (host, versions,
revision, Spark settings, sample counts, set-up parts, check results), then
the result ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import struct
import subprocess
import sys
import time
import traceback
import zlib
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

import numpy as np
import pyarrow.dataset as ds

from metrics import END_TO_END, PER_LAYER, SCALING
from procstat import PeakSampler, ProcessTree
from spans import Tracer, patched, store_layers
from workloads import OPS, workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

PREP_REPEATS = 3  # input generation + parquet write; the median is reported
WARM_CYCLES = 2


def host_shape() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_gb": round(mem_kb / 2**20, 2)}


def spark_conf(host: dict, work: str) -> dict:
    """Every Spark setting the benchmark makes, derived from the host shape."""
    k = host["nproc"]
    driver_gb = max(1, round(host["mem_total_gb"] / 8))
    return {
        "spark.master": f"local[{k}]",
        "spark.driver.memory": f"{driver_gb}g",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.shuffle.partitions": str(2 * k),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        f" -Dderby.system.home={os.path.join(work, 'derby')}",
    }


def revision() -> dict:
    out = {"git": None}
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            out["git"] = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
                timeout=10, check=True,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    h = hashlib.blake2b(digest_size=8)
    pkg = os.path.join(ROOT, "zopfli_spark")
    for dp, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(dp, f), pkg).encode())
                with open(os.path.join(dp, f), "rb") as fh:
                    h.update(fh.read())
    out["package_digest"] = h.hexdigest()
    return out


def serialize_rows(tbl) -> bytes:
    """Row-major bytes of (doc_id, source, int32 tokens), length-prefixed."""
    tokens = tbl.column("tokens").combine_chunks()
    offs = tokens.offsets.to_numpy()
    flat = tokens.values.to_numpy().astype("<i4").tobytes()
    u32 = struct.Struct("<I").pack
    parts = []
    for i, (d, s) in enumerate(zip(tbl.column("doc_id").to_pylist(), tbl.column("source").to_pylist())):
        db, sb = d.encode(), s.encode()
        n = int(offs[i + 1] - offs[i])
        parts += [u32(len(db)), db, u32(len(sb)), sb, u32(n), flat[4 * int(offs[i]) : 4 * int(offs[i + 1])]]
    return b"".join(parts)


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the host from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f)) for dp, _, files in os.walk(path) for f in files
    )


def store_pages(store_root: str) -> dict:
    """Digest and totals of the stored pages, read with pyarrow (no Spark)."""
    t = ds.dataset(os.path.join(store_root, "pages"), format="parquet", partitioning="hive").to_table(
        columns=["part_id", "page_id", "checksum", "payload", "enc_bytes", "enc_us", "enc_cpu_us", "resumed"]
    )
    part = t.column("part_id").to_numpy().astype(np.int64)
    page = t.column("page_id").to_numpy().astype(np.int64)
    order = np.lexsort((page, part))
    return {
        "digest": page_digest(part, page, t.column("checksum").to_numpy(), t.column("payload").to_pylist(), order),
        "enc_bytes": int(t.column("enc_bytes").to_numpy().sum()),
        "rows": t.num_rows,
        "resumed_rows": int((t.column("resumed").to_numpy() == 1).sum()),
        "enc_us": (part, t.column("enc_us").to_numpy()),
        "enc_cpu_us": int(t.column("enc_cpu_us").to_numpy().sum()),
    }


def page_digest(part, page, checksum, payloads, order) -> str:
    h = hashlib.sha256()
    for i in order.tolist():
        h.update(struct.pack("<iiqI", int(part[i]), int(page[i]), int(checksum[i]), zlib.crc32(payloads[i])))
    return h.hexdigest()


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.wl = workloads(args.scale)[args.workload]
        self.cfg = self.wl.config()
        self.host = host_shape()
        self.conf = spark_conf(self.host, work)
        self.tree = ProcessTree()
        self.sampler = PeakSampler(self.tree)
        self.tracer = Tracer() if args.trace else None
        self.held: list = []  # frames the traced store layers materialized
        self.ops: list[dict] = []
        self.checks: list[str] = []
        self.ref: dict = {}  # pages of the first encode: digest, bytes
        self.last_encode: dict | None = None
        self.setup: dict = {}
        self.spark = None

    # -- helpers -------------------------------------------------------------
    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def start_spark(self):
        from pyspark.sql import SparkSession

        b = SparkSession.builder.appName("perfbench")
        for k, v in self.conf.items():
            b = b.master(v) if k == "spark.master" else b.config(k, v)
        spark = b.getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def input_fingerprint(self, df) -> tuple:
        from pyspark.sql import functions as F

        r = df.agg(
            F.count("*"), F.sum("n_tok"), F.bit_xor(F.xxhash64("doc_id", "tokens", "source"))
        ).collect()[0]
        return int(r[0]), int(r[1] or 0), int(r[2] or 0)

    # -- set-up --------------------------------------------------------------
    def set_up(self) -> None:
        import pyarrow.parquet as pq

        t0 = time.perf_counter()
        self.spark = self.start_spark()
        t_spark = time.perf_counter() - t0

        self.input_path = os.path.join(self.work, "input.parquet")
        preps = []
        for _ in range(PREP_REPEATS):
            t = time.perf_counter()
            tbl = self.wl.make_input(self.args.seed)
            pq.write_table(tbl, self.input_path)
            preps.append(time.perf_counter() - t)
        self.tokens = int(sum(tbl.column("n_tok").to_pylist()))
        self.docs = tbl.num_rows
        # zlib releases the GIL: the reference compresses while Spark warms up
        pool = ThreadPoolExecutor(1)
        reference = pool.submit(lambda raw: len(zlib.compress(raw, 9)), serialize_rows(tbl))
        del tbl

        t1 = time.perf_counter()
        steps = []
        self.df = self.spark.read.parquet(self.input_path)
        self.warm_workers()
        steps.append(time.perf_counter() - t1)
        # unmeasured cycles on the real input let the JVM compile every op's
        # code path; after one cycle the JIT still made each op's CPU fall by
        # a third over the next two
        self.fingerprint = self.input_fingerprint(self.df)
        for cycle in range(WARM_CYCLES):
            for op in OPS:
                t = time.perf_counter()
                self.run_op(op, f"warm{cycle}.{op}", warm=True)
                steps.append(time.perf_counter() - t)
        t_warm = time.perf_counter() - t1
        self.deflate9 = reference.result()
        pool.shutdown()
        t_ref_wait = time.perf_counter() - t1 - t_warm
        self.setup = {
            "spark_start_s": t_spark,
            "prep_s": preps,
            "warmup_s": t_warm,
            "warmup_steps_s": steps,
            "reference_wait_s": t_ref_wait,
        }
        self.setup_s = t_spark + median(preps) + t_warm + t_ref_wait

    def warm_workers(self) -> None:
        """Run a small group through the per-group encode in each of k
        concurrent Python workers, so that no measured op lands on a worker
        that still has to import the package or touch its kernels first."""
        from zopfli_spark.deploy import ensure_shipped

        ensure_shipped(self.spark)
        cfg = self.cfg
        k = self.host["nproc"]

        def warm(batches):
            import time as _time

            import pyarrow as _pa

            from zopfli_spark import engine
            from zopfli_spark.plans.planner import GROUP_COL, ROW_HASH_COL

            for _ in batches:
                pass
            n = 2000
            tokens = [[(i * 7 + j * 13) % 5000 for j in range(i % 7 + 1)] for i in range(n)]
            engine._encode_group(
                _pa.table({
                    "doc_id": [f"w{i:06d}" for i in range(n)],
                    "tokens": _pa.array(tokens, _pa.list_(_pa.int32())),
                    "n_tok": _pa.array([len(t) for t in tokens], _pa.int32()),
                    "source": ["warm"] * n,
                    GROUP_COL: _pa.array([0] * n, _pa.int32()),
                    ROW_HASH_COL: _pa.array(list(range(n)), _pa.int64()),
                }),
                cfg,
            )
            _time.sleep(0.5)  # hold this worker so each task gets its own
            yield _pa.RecordBatch.from_pydict({"n": _pa.array([n], _pa.int64())})

        self.spark.range(k, numPartitions=k).mapInArrow(warm, "n long").collect()

    # -- ops -----------------------------------------------------------------
    def _decode_agg(self, root: str) -> tuple:
        from zopfli_spark import engine
        from zopfli_spark.sources import store

        pages = store.read_pages(self.spark, root)
        dec = engine.decode_table(pages, self.cfg, input_partitions=store.store_partition_count(root))
        with self.span("engine.decode_table"):
            return self.input_fingerprint(dec)

    def run_op(self, op: str, op_id: str, warm: bool = False) -> dict:
        from zopfli_spark.sources import store

        store_root = os.path.join(self.work, "store")
        if op == "encode":
            shutil.rmtree(store_root, ignore_errors=True)
        sc = self.spark.sparkContext
        sc.setJobGroup(op_id, op_id)
        rec = {"op": op, "id": op_id, "ok": False, "warm": warm}
        if self.tracer:
            self.tracer.op = op_id
        cpu0 = self.tree.cpu()
        t0 = time.perf_counter()
        try:
            with self.span(op):
                if op == "decode":
                    out = self._decode_agg(store_root)
                else:
                    store.encode_to_store(self.df, store_root, self.cfg, run_id=op_id)
            rec["wall_s"] = time.perf_counter() - t0
            cpu1 = self.tree.cpu()
            rec["cpu"] = {k: cpu1[k] - cpu0[k] for k in cpu0}
            rec["ok"] = self.check(op, store_root, out if op == "decode" else None, rec)
        except Exception as e:  # one failed op must not end the run
            rec["error"] = f"{type(e).__name__}: {e}"
            traceback.print_exc(file=sys.stderr)
        finally:
            if self.tracer:
                self.tracer.op = None
            while self.held:
                self.held.pop().unpersist()
        if self.tracer:
            rec["tasks"], rec["tasks_failed"] = self.job_tasks(op_id)
        self.ops.append(rec)
        return rec

    def check(self, op: str, store_root: str, decoded, rec: dict) -> bool:
        if op == "decode":
            if decoded != self.fingerprint:
                self.checks.append(f"{rec['id']}: decoded rows {decoded} != input {self.fingerprint}")
                return False
            return True
        pages = store_pages(store_root)
        rec["resumed_frac"] = pages["resumed_rows"] / max(1, pages["rows"])
        if op == "encode":
            self.last_encode = pages
        if "digest" not in self.ref:
            self.ref = dict(pages, store_bytes=dir_bytes(store_root))
            return True
        if pages["digest"] != self.ref["digest"]:
            self.checks.append(f"{rec['id']}: page digest differs from the first encode")
            return False
        return True

    def job_tasks(self, group: str) -> tuple[int, int]:
        st = self.spark.sparkContext.statusTracker()
        stages = set()
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        tasks = failed = 0
        for sid in stages:
            si = st.getStageInfo(sid)
            if si is not None:
                tasks += si.numTasks
                failed += si.numFailedTasks
        return tasks, failed

    def roundtrip(self) -> bool:
        """Full by-doc_id comparison of decoded rows against the input."""
        from zopfli_spark import engine
        from zopfli_spark.sources import store

        root = os.path.join(self.work, "store")
        self.spark.sparkContext.setJobGroup("roundtrip", "roundtrip")
        dec = engine.decode_table(store.read_pages(self.spark, root), self.cfg)
        bad = engine.roundtrip_check(self.df, dec).count()
        if bad:
            self.checks.append(f"roundtrip_check: {bad} rows differ")
        return bad == 0

    def measure(self) -> None:
        self.sampler.reset()
        steal0, total0 = cpu_jiffies()
        t0 = time.perf_counter()
        n = 0  # every op is run at least once; none starts after the deadline
        while n < len(OPS) or time.perf_counter() - t0 < self.args.seconds:
            op = OPS[n % len(OPS)]
            self.run_op(op, f"c{n // len(OPS)}.{op}")
            n += 1
        self.window_s = time.perf_counter() - t0
        steal1, total1 = cpu_jiffies()
        self.steal_frac = (steal1 - steal0) / max(1, total1 - total0)
        self.cycles = n // len(OPS)  # complete cycles
        self.peak = self.sampler.snapshot()
        try:
            ok = self.roundtrip()
        except Exception as e:
            self.checks.append(f"roundtrip_check: {type(e).__name__}: {e}")
            ok = False
        if not ok:
            decodes = [r for r in self.ops if r["op"] == "decode"]
            decodes[-1]["ok"] = False

    # -- results -------------------------------------------------------------
    def walls(self, op: str) -> list[float]:
        return [r["wall_s"] for r in self.ops if r["op"] == op and r["ok"] and not r["warm"]]

    def end_to_end(self) -> dict:
        mtok = self.tokens / 1e6
        enc_cpu = [
            r["cpu"]["jvm"] + r["cpu"]["pyworker"]
            for r in self.ops
            if r["op"] == "encode" and r["ok"] and not r["warm"]
        ]
        enc_bytes = self.ref.get("enc_bytes", 0)
        attempted = len(self.ops)
        failed = sum(not r["ok"] for r in self.ops)

        def rate(op):
            w = median(self.walls(op))
            return mtok / w if w else 0.0

        return {
            "encode_mtok_s": rate("encode"),
            "resume_mtok_s": rate("resume"),
            "decode_mtok_s": rate("decode"),
            "encode_cpu_s_per_mtok": median(enc_cpu) / mtok,
            "compression_ratio": 4 * self.tokens / enc_bytes if enc_bytes else 0.0,
            "bytes_vs_deflate9": enc_bytes / self.deflate9,
            "store_bytes_per_token": self.ref.get("store_bytes", 0) / self.tokens,
            "peak_rss_gb": self.peak.get("total", 0) / 2**30,
            "ops_ok_frac": (attempted - failed) / attempted,
            "setup_s": self.setup_s,
        }

    def context(self) -> dict:
        import numpy
        import pyarrow
        import pyspark

        return {
            "workload": self.wl.name,
            "preset": self.wl.preset,
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "host": self.host,
            "versions": {
                "python": sys.version.split()[0],
                "pyspark": pyspark.__version__,
                "pyarrow": pyarrow.__version__,
                "numpy": numpy.__version__,
            },
            "revision": revision(),
            "spark_conf": {k: v.replace(self.work, "<work>") for k, v in self.conf.items()},
            "geometry": {
                k: getattr(self.cfg, k) for k in ("group_budget_values", "page_budget_values", "giant_doc_values")
            },
            "input": {"docs": self.docs, "tokens": self.tokens, "deflate9_bytes": self.deflate9},
            "setup": self.setup,
            "window_s": self.window_s,
            "host_steal_frac": self.steal_frac,
            "cycles": self.cycles,
            "samples": {op: len(self.walls(op)) for op in OPS},
            "walls_s": {op: [round(w, 4) for w in self.walls(op)] for op in OPS},
            "cpu_s": {
                op: [round(r["cpu"]["jvm"] + r["cpu"]["pyworker"], 3) for r in self.ops if r["op"] == op and "cpu" in r]
                for op in OPS
            },
            "peak_rss_gb": {k: v / 2**30 for k, v in self.peak.items()},
            "page_digest": self.ref.get("digest"),
            "checks_failed": self.checks,
            "errors": [r["error"] for r in self.ops if "error" in r],
            "scaling": SCALING,
        }


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it: the gateway JVM
    exits when its stdin closes, and its Python workers go with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0, help="input size factor (smoke tests)")
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "zopfli_spark", "engine.py")):
        print(f"perfbench: no zopfli_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload not in workloads():
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, "_work", f"run-{os.getpid()}")
    for sub in ("tmp", "spark-local", "derby"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    bench = None
    try:
        bench = Bench(args, work)
        with bench.sampler:
            bench.set_up()
            if args.trace:
                from layers import traced_metrics

                with patched(store_layers(bench.tracer, bench.held)):
                    bench.measure()
                metrics = traced_metrics(bench)
            else:
                bench.measure()
                metrics = bench.end_to_end()
        ctx = bench.context()
    finally:
        if bench is not None and bench.spark is not None:
            stop_spark(bench.spark)
        shutil.rmtree(work, ignore_errors=True)

    units = {name: unit for name, unit, *_ in (PER_LAYER if args.trace else END_TO_END)}
    failed = sum(not r["ok"] for r in bench.ops)
    result = {
        "correct": failed == 0,
        "attempted": len(bench.ops),
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    print(json.dumps(ctx, default=str))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
