"""Per-layer metrics of the traced run.

Spark side: the ops' spans (store functions, decode job), Spark task counts
per op, /proc CPU and peak memory per process kind, plus two extra jobs into
a ``noop`` sink: the planner alone and the encode alone, without the store.

Kernel side: an in-process replay. Every planned group goes through the
per-group encode UDF body, then every page of it through the page decoder.
One untimed replay comes first; then plain replays and replays with span
wrappers on each kernel layer alternate, ``REPLAY_PAIRS`` of each. Kernel
figures are medians over the traced replays, and the tracing overhead is
the median traced/plain CPU ratio of the pairs, minus 1. Every replay's
pages must match the Spark path's page digest.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa

from metrics import KERNEL_LAYERS, PER_LAYER
from run import median, page_digest
from spans import kernel_layers, patched
from workloads import OPS

REPLAY_PAIRS = 3


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def planned_groups(bench) -> list[pa.Table]:
    """The rows each encode task receives, one table per group."""
    from zopfli_spark.plans.planner import GROUP_COL, plan_groups

    tbl = plan_groups(bench.df, bench.cfg)[0].toArrow()
    gid = tbl.column(GROUP_COL).to_numpy()
    order = np.argsort(gid, kind="stable")
    tbl, gid = tbl.take(pa.array(order)), gid[order]
    cuts = np.flatnonzero(np.diff(gid)) + 1
    bounds = np.concatenate(([0], cuts, [len(gid)]))
    return [tbl.slice(a, b - a) for a, b in zip(bounds[:-1], bounds[1:])]


def replay(groups: list[pa.Table], cfg) -> tuple[list[pa.Table], int]:
    """Encode every group, then decode every page with checksum verify.
    Returns the page tables and the decoded value count."""
    from zopfli_spark import engine
    from zopfli_spark.codecs.kernels import GroupDict

    out = [engine._encode_group(g, cfg) for g in groups]
    values = 0
    for pages in out:
        gd = None
        for hdr, payload, checksum in zip(
            pages.column("header").to_pylist(),
            pages.column("payload").to_pylist(),
            pages.column("checksum").to_pylist(),
        ):
            if not hdr:
                gd = GroupDict(payload)
                continue
            values += len(engine.decode_page(hdr, payload, checksum, split_rows=False, group_dict=gd)[3])
    return out, values


def replay_digest(pages: list[pa.Table]) -> str:
    t = pa.concat_tables(pages)
    part = t.column("part_id").to_numpy().astype(np.int64)
    page = t.column("page_id").to_numpy().astype(np.int64)
    return page_digest(part, page, t.column("checksum").to_numpy(),
                       t.column("payload").to_pylist(), np.lexsort((page, part)))


def traced_metrics(bench) -> dict[str, float]:
    tracer = bench.tracer
    m: dict[str, float] = {}
    cycles = [f"c{i}." for i in range(bench.cycles)]
    measured = [r for r in bench.ops if not r["warm"]]
    ok_ops = [r for r in measured if r["ok"]]

    # Spark side: the planner alone and the encode alone, each into a noop sink
    from zopfli_spark import engine
    from zopfli_spark.plans.planner import GROUP_COL, plan_groups

    bench.spark.sparkContext.setJobGroup("noop", "noop")
    tracer.op = "noop"
    with tracer.span("planner.plan_groups"):
        g, n = plan_groups(bench.df, bench.cfg)
        _noop(g.repartition(max(1, 2 * n), GROUP_COL))
    with tracer.span("engine.encode_table"):
        _noop(engine.encode_table(bench.df, bench.cfg))
    tracer.op = None
    noop = tracer.totals("noop")
    m["planner.plan_groups.busy_s"] = noop["planner.plan_groups"]["busy_s"]
    m["engine.encode_table.busy_s"] = noop["engine.encode_table"]["busy_s"]

    part, enc_us = bench.last_encode["enc_us"]
    per_group = np.bincount(part - part.min(), weights=enc_us) if len(part) else np.zeros(1)
    m["engine.kernel_cpu_s"] = bench.last_encode["enc_cpu_us"] / 1e6
    m["engine.max_group_kernel_s"] = float(per_group.max()) / 1e6
    m["engine.untimed_slot_frac"] = 1 - float(enc_us.sum()) / 1e6 / (
        m["engine.encode_table.busy_s"] * bench.host["nproc"]
    )

    # per cycle sums of the ops' spans, median over cycles
    def per_cycle(name: str) -> float:
        return median([tracer.totals(c)[name]["busy_s"] for c in cycles])

    m["engine.decode_table.busy_s"] = per_cycle("engine.decode_table")
    for fn in ("read_lineage", "write_pages", "read_pages", "append_lineage", "append_metrics"):
        m[f"store.{fn}.busy_s"] = per_cycle(f"store.{fn}")
    m["lineage.resumed_page_frac"] = median([r["resumed_frac"] for r in ok_ops if r["op"] == "resume"])
    residuals = tracer.residuals("c")
    for op in OPS:
        recs = [r for r in measured if r["op"] == op]
        m[f"spark.{op}.tasks"] = median([r["tasks"] for r in recs])
        m[f"spark.{op}.tasks_failed"] = median([r["tasks_failed"] for r in recs])
        m[f"op.{op}.residual_s"] = median(residuals.get(op, []))
    enc = [r for r in ok_ops if r["op"] == "encode"]
    m["proc.jvm_cpu_s"] = median([r["cpu"]["jvm"] for r in enc])
    m["proc.pyworker_cpu_s"] = median([r["cpu"]["pyworker"] for r in enc])
    m["proc.jvm_peak_rss_gb"] = bench.peak.get("jvm", 0) / 2**30
    m["proc.pyworker_peak_rss_gb"] = bench.peak.get("pyworker", 0) / 2**30

    # kernel side: in-process replay; one untimed, then plain/traced pairs
    groups = planned_groups(bench)
    tokens = np.array([int(np.asarray(g.column("n_tok")).sum()) for g in groups])
    m["planner.groups"] = len(groups)
    m["planner.group_skew"] = float(tokens.max() / tokens.mean()) if len(tokens) else 0.0

    rec = {"op": "replay", "id": "replay", "ok": True, "warm": False}

    def checked_replay(name: str) -> tuple[list[pa.Table], float]:
        c0 = time.process_time()
        pages, values = replay(groups, bench.cfg)
        cpu = time.process_time() - c0
        if replay_digest(pages) != bench.ref.get("digest"):
            bench.checks.append(f"{name}: page digest differs from the Spark path")
            rec["ok"] = False
        if values != bench.tokens:
            bench.checks.append(f"{name}: decoded {values} values, input has {bench.tokens}")
            rec["ok"] = False
        return pages, cpu

    checked_replay("replay (untimed)")
    ratios = []
    for i in range(REPLAY_PAIRS):
        _, cpu_plain = checked_replay(f"replay {i} (plain)")
        tracer.op = f"replay.{i}"
        with patched(kernel_layers(tracer)):
            traced, cpu_traced = checked_replay(f"replay {i} (traced)")
        tracer.op = None
        ratios.append(cpu_traced / cpu_plain)
    m["trace.overhead_frac"] = median(ratios) - 1
    bench.ops.append(rec)

    kern = [tracer.totals(f"replay.{i}") for i in range(REPLAY_PAIRS)]
    for name, _ in KERNEL_LAYERS:
        m[f"{name}.calls"] = kern[0][name]["calls"]
        m[f"{name}.self_s"] = median([k[name]["self_s"] for k in kern])
    refine = kern[0]["squeeze.refine_boundaries"]["calls"]
    m["squeeze.refine_boundaries.improved_per_call"] = (
        tracer.counts["squeeze.refine_boundaries.improved"] / REPLAY_PAIRS / refine if refine else 0.0
    )
    m["squeeze.merge_pass.merged"] = tracer.counts["squeeze.merge_pass.merged"] / REPLAY_PAIRS
    kept = sum(int((np.asarray(p.column("page_id")) >= 0).sum()) for p in traced)
    m["pagecodec.encode_page.calls_per_kept_page"] = kern[0]["pagecodec.encode_page"]["calls"] / max(1, kept)

    out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_out")
    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(os.path.join(out_dir, f"spans-{bench.wl.name}-{bench.args.seed}.jsonl"))
    missing = [name for name, *_ in PER_LAYER if name not in m]
    if missing:
        raise RuntimeError(f"per-layer metrics not computed: {missing}")
    return m
