"""Declared metrics: name, unit, which direction is better, and (per layer)
which end-to-end metric the layer should move on which workload.

``BENCHMARK.json`` lists the same names and units; a test keeps the two in step.
"""

from __future__ import annotations

from workloads import OPS

# (name, unit, better, bound, meaning)
END_TO_END = (
    ("encode_mtok_s", "Mtok/s", "higher", 0.25, "input tokens / wall of the encode op (fresh store)"),
    ("resume_mtok_s", "Mtok/s", "higher", 0.25, "input tokens / wall of the resume op (same input, same store)"),
    ("decode_mtok_s", "Mtok/s", "higher", 0.25, "input tokens / wall of the decode op (read, decode, verify, aggregate)"),
    ("encode_cpu_s_per_mtok", "s/Mtok", "lower", 0.25, "JVM + Python worker CPU during the encode op per Mtok"),
    ("compression_ratio", "x", "higher", 0.05, "raw token bytes / sum of enc_bytes"),
    ("bytes_vs_deflate9", "x", "lower", 0.05, "sum of enc_bytes / zlib level-9 size of the serialized rows"),
    ("store_bytes_per_token", "B/token", "lower", 0.05, "on-disk store bytes after an encode / input tokens"),
    ("peak_rss_gb", "GB", "lower", 0.25, "peak summed RSS of driver, JVM and Python workers"),
    ("ops_ok_frac", "ratio", "higher", 0.01, "ops without error or failed check / ops attempted"),
    ("setup_s", "s", "lower", 0.25, "Spark start, input generation + parquet + DEFLATE-9 reference, warm-up"),
)

_RAT = "mixture_ratio"
_SHORT = "short_docs_tput"
_ALL = f"{_RAT}, {_SHORT}"

# kernel layers replayed in-process: each reports .calls and .self_s
KERNEL_LAYERS = (
    ("pages.range_cost", f"encode_mtok_s on {_SHORT}"),
    ("pages.split_by_cost", f"encode_mtok_s on {_ALL}"),
    ("engine.train_group_dict", f"encode_mtok_s on {_RAT} (group_dict is off in the other presets)"),
    ("kernels.encode_group_huffman", f"encode_mtok_s on {_RAT} (group_dict is off in the other presets)"),
    ("squeeze.refine_boundaries", f"encode_mtok_s, encode_cpu_s_per_mtok on {_RAT}"),
    ("squeeze.merge_pass", f"encode_mtok_s, encode_cpu_s_per_mtok on {_RAT}"),
    ("pagecodec.encode_page", f"encode_mtok_s, encode_cpu_s_per_mtok on {_RAT}"),
    ("kernels.encode_best", f"encode_mtok_s on {_RAT}"),
    ("strings.encode_strings", f"encode_mtok_s on {_SHORT}"),
    ("pagecodec.decode_page", f"decode_mtok_s on {_ALL}"),
    ("kernels.decode_blob", f"decode_mtok_s on {_RAT}"),
    ("kernels.decode_group_huffman", f"decode_mtok_s on {_RAT}"),
    ("strings.decode_strings", f"decode_mtok_s on {_SHORT}"),
    ("engine.encode_group", f"encode_mtok_s on {_RAT} (self_s: orchestration residue)"),
)

# What the Spark-side spans of the traced run cover. Each store layer is
# timed on materialized inputs (spans.store_layers), so a store span holds
# that layer's own work and not the lazy encode behind it:
#   store.read_lineage    scan of the lineage table and its dedup
#   engine.encode_table   (in an op, not reported) the encode job with the
#                         lineage join, materialized before write_pages
#   store.write_pages     repartition by part_id, sort and parquet write of
#                         the materialized pages
#   store.read_pages      scan of the written pages (encode and resume ops
#                         re-read them for lineage and metrics; decode reads
#                         them as its input)
#   store.append_lineage  lineage rows derived from the scanned pages, written
#   store.append_metrics  metrics rows derived from the scanned pages, written
#   engine.decode_table   decode of the scanned pages, checksums verified,
#                         and the fingerprint aggregate
# The store figures sum the encode and resume op of a cycle (median over
# cycles). The materializing jobs run in the op's job group, so spark.*.tasks
# counts them; the traced run's op walls are not end-to-end figures.

# (name, unit, better, moves)
PER_LAYER = (
    ("planner.plan_groups.busy_s", "s", "lower", f"encode_mtok_s on {_SHORT}"),
    ("planner.groups", "count", "higher", f"encode_mtok_s on {_RAT}, {_SHORT}"),
    ("planner.group_skew", "x", "lower", f"encode_mtok_s on {_RAT}, {_SHORT}"),
    ("engine.encode_table.busy_s", "s", "lower", f"encode_mtok_s on {_ALL}"),
    ("engine.kernel_cpu_s", "s", "lower", f"encode_cpu_s_per_mtok on {_ALL}"),
    ("engine.max_group_kernel_s", "s", "lower", f"encode_mtok_s on {_RAT}"),
    ("engine.untimed_slot_frac", "ratio", "lower", f"encode_mtok_s on {_ALL}"),
    ("engine.decode_table.busy_s", "s", "lower", f"decode_mtok_s on {_ALL}"),
    ("store.read_lineage.busy_s", "s", "lower", f"encode_mtok_s, resume_mtok_s on {_ALL}"),
    ("store.write_pages.busy_s", "s", "lower", f"encode_mtok_s, resume_mtok_s on {_ALL}"),
    ("store.read_pages.busy_s", "s", "lower", f"encode_mtok_s, resume_mtok_s on {_ALL}"),
    ("store.append_lineage.busy_s", "s", "lower", f"encode_mtok_s, resume_mtok_s on {_ALL}"),
    ("store.append_metrics.busy_s", "s", "lower", f"encode_mtok_s, resume_mtok_s on {_ALL}"),
    ("lineage.resumed_page_frac", "ratio", "higher", f"resume_mtok_s on {_ALL}"),
    *(
        (f"spark.{op}.{k}", "count", "lower", f"ops_ok_frac on {_ALL}; encode_mtok_s on {_SHORT}")
        for op in OPS
        for k in ("tasks", "tasks_failed")
    ),
    ("proc.jvm_cpu_s", "s", "lower", f"encode_cpu_s_per_mtok on {_RAT}"),
    ("proc.pyworker_cpu_s", "s", "lower", f"encode_cpu_s_per_mtok on {_RAT}"),
    ("proc.jvm_peak_rss_gb", "GB", "lower", f"peak_rss_gb on {_RAT}"),
    ("proc.pyworker_peak_rss_gb", "GB", "lower", f"peak_rss_gb on {_RAT}"),
    *(
        (f"op.{op}.residual_s", "s", "lower", f"{op}_mtok_s on {_ALL}")
        for op in OPS
    ),
    *(
        row
        for name, moves in KERNEL_LAYERS
        for row in (
            (f"{name}.calls", "count", "lower", moves),
            (f"{name}.self_s", "s", "lower", moves),
        )
    ),
    ("squeeze.refine_boundaries.improved_per_call", "ratio", "higher", f"encode_mtok_s on {_RAT}"),
    ("squeeze.merge_pass.merged", "count", "higher", f"encode_mtok_s on {_RAT}"),
    ("pagecodec.encode_page.calls_per_kept_page", "ratio", "lower", f"encode_cpu_s_per_mtok on {_RAT}"),
    ("trace.overhead_frac", "ratio", "lower", "none: replay CPU with span wrappers / without, minus 1"),
)

SCALING = {
    "status": "skipped",
    "reason": "N->4N scaling pairs need more vCPUs than this host has; "
    "they are not redefined as a smaller pair",
}
