"""Tests of the benchmark itself: seeded inputs, declared metrics, smoke runs
of every workload, and a corrupted page making the decode op fail.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from metrics import END_TO_END, PER_LAYER
from workloads import mixture_table, short_docs_table, workloads

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
SMOKE_SCALE = "0.02"


def _parquet_digest(tbl: pa.Table, path: str) -> str:
    pq.write_table(tbl, path)
    back = pq.read_table(path)
    h = hashlib.sha256()
    for col in back.columns:
        for buf in col.combine_chunks().buffers():
            if buf is not None:
                h.update(buf)
    return h.hexdigest()


@pytest.mark.parametrize("make", [lambda s: mixture_table(s, 200), lambda s: short_docs_table(s, 500)])
def test_seed_determines_input(make, tmp_path):
    a = _parquet_digest(make(7), str(tmp_path / "a.parquet"))
    b = _parquet_digest(make(7), str(tmp_path / "b.parquet"))
    c = _parquet_digest(make(8), str(tmp_path / "c.parquet"))
    assert a == b
    assert a != c


def test_mixture_shape():
    t = mixture_table(3, 2000)
    n = t.column("n_tok").to_numpy()
    assert len(set(t.column("doc_id").to_pylist())) == t.num_rows
    assert (n[:4] == [0, 1, 257, 4]).all()
    assert ((n >= 100_000) & (n <= 1_000_000)).sum() == 2
    assert t.column("tokens").combine_chunks().values.to_numpy().max() == 2**31 - 1


def test_short_docs_shape():
    t = short_docs_table(3, 1000)
    n = t.column("n_tok").to_numpy()
    assert n.min() >= 1 and n.max() <= 7
    assert len(set(t.column("doc_id").to_pylist())) == t.num_rows
    for row in t.column("tokens").to_pylist()[:50]:
        assert row == sorted(row)


def test_benchmark_json_matches_declared_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(workloads())
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]] == [
        (n, u, b, bound) for n, u, b, bound, _ in END_TO_END
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        (n, u, b) for n, u, b, _ in PER_LAYER
    ]


def _run(workload: str, trace: int, cwd: str = ROOT, scale: str = SMOKE_SCALE):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--scale", scale],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(workloads()))
def test_smoke_run(workload, trace):
    proc = _run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 3
    declared = {n: u for n, u, *_ in (PER_LAYER if trace else END_TO_END)}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    if not trace:
        assert result["metrics"]["ops_ok_frac"]["value"] == 1.0
        assert all(v["value"] > 0 for v in result["metrics"].values())
    else:
        assert result["metrics"]["lineage.resumed_page_frac"]["value"] == 1.0


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("_work", "_out", "__pycache__"))
    proc = _run("short_docs_tput", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert "correct" not in proc.stdout


def _corrupt_one_payload(store_root: str) -> None:
    path = sorted(glob.glob(os.path.join(store_root, "pages", "part_id=*", "*.parquet")))[0]
    t = pq.read_table(path)
    i = t.column("page_id").to_pylist().index(0)
    payloads = t.column("payload").to_pylist()
    p = bytearray(payloads[i])
    p[len(p) // 2] ^= 0xFF
    payloads[i] = bytes(p)
    t = t.set_column(t.schema.get_field_index("payload"), "payload", pa.array(payloads, pa.binary()))
    pq.write_table(t, path)
    # the local filesystem's side checksum would refuse the file before the
    # page checksum is reached; the test is about the page checksum
    crc = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".crc")
    if os.path.exists(crc):
        os.unlink(crc)


def test_corrupted_page_fails_decode_op(tmp_path):
    from run import Bench, stop_spark

    args = argparse.Namespace(workload="short_docs_tput", seed=3, seconds=1, trace=0, scale=0.02)
    for sub in ("tmp", "spark-local", "derby"):
        os.makedirs(tmp_path / sub, exist_ok=True)
    bench = Bench(args, str(tmp_path))
    bench.spark = bench.start_spark()
    try:
        path = str(tmp_path / "input.parquet")
        pq.write_table(bench.wl.make_input(args.seed), path)
        bench.df = bench.spark.read.parquet(path)
        bench.fingerprint = bench.input_fingerprint(bench.df)
        assert bench.run_op("encode", "e")["ok"]
        assert bench.run_op("decode", "d0")["ok"]
        _corrupt_one_payload(str(tmp_path / "store"))
        rec = bench.run_op("decode", "d1")
        assert not rec["ok"]
        assert rec["error"]  # a checksum, codec or job failure, never silent
    finally:
        stop_spark(bench.spark)
