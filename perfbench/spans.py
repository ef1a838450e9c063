"""In-memory spans for the traced run.

Spans are recorded from the benchmark's own files: wrappers are installed on
the module attribute through which each caller reaches a layer, so the
package itself is never edited. A span has a name, start, end, parent span
and op id; a layer's self time is its span minus the spans nested in it.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        # [name, op, parent index, start, end]; single-threaded use only
        self.spans: list[list] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.op: str | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, self.op, parent, time.perf_counter(), None])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][4] = time.perf_counter()

    def wrap(self, name: str, fn, count=None):
        """``fn`` inside a span; ``count(counts, result)`` tallies outcomes."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if count is not None:
                count(self.counts, out)
            return out

        return traced

    def wrap_class(self, name: str, cls):
        """Subclass of ``cls`` whose construction is a span."""
        tracer = self

        class Traced(cls):
            def __init__(self, *args, **kwargs):
                with tracer.span(name):
                    super().__init__(*args, **kwargs)

        Traced.__name__ = Traced.__qualname__ = cls.__name__
        return Traced

    def _selves(self, op_prefix: str):
        """(name, parent, span seconds, self seconds) of the spans whose op
        id starts with ``op_prefix``."""
        child = [0.0] * len(self.spans)
        for name, op, parent, t0, t1 in self.spans:
            if parent >= 0:
                child[parent] += t1 - t0
        for i, (name, op, parent, t0, t1) in enumerate(self.spans):
            if (op or "").startswith(op_prefix):
                yield name, parent, t1 - t0, t1 - t0 - child[i]

    def totals(self, op_prefix: str) -> dict[str, dict[str, float]]:
        """Per span name: calls, busy seconds and self seconds."""
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"calls": 0, "busy_s": 0.0, "self_s": 0.0}
        )
        for name, _, busy, self_s in self._selves(op_prefix):
            row = out[name]
            row["calls"] += 1
            row["busy_s"] += busy
            row["self_s"] += self_s
        return out

    def residuals(self, op_prefix: str) -> dict[str, list[float]]:
        """Per root span name (an op): its wall minus its child spans."""
        out: dict[str, list[float]] = defaultdict(list)
        for name, parent, _, self_s in self._selves(op_prefix):
            if parent < 0:
                out[name].append(self_s)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for name, op, parent, t0, t1 in self.spans:
                fh.write(json.dumps({"name": name, "op": op, "parent": parent,
                                     "start": t0, "end": t1}) + "\n")


@contextmanager
def patched(replacements: list[tuple[object, str, object]]):
    """Set ``module.attr = value`` for each triple; restore on exit."""
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in replacements]
    try:
        for mod, attr, value in replacements:
            setattr(mod, attr, value)
        yield
    finally:
        for mod, attr, value in reversed(saved):
            setattr(mod, attr, value)


def _count_third(key: str):
    def count(counts, out):
        counts[key] += out[2]

    return count


def kernel_layers(tracer: Tracer) -> list[tuple[object, str, object]]:
    """Wrappers on every per-group kernel layer, bound where its caller
    looks the name up (lazy imports read the defining module at call time)."""
    from zopfli_spark import engine, pages
    from zopfli_spark.codecs import kernels
    from zopfli_spark.operators import pagecodec

    def w(mod, attr, name, count=None):
        return (mod, attr, tracer.wrap(name, getattr(mod, attr), count))

    return [
        w(engine, "_encode_group", "engine.encode_group"),
        w(engine, "train_group_dict", "engine.train_group_dict"),
        w(engine, "split_by_cost", "pages.split_by_cost"),
        w(engine, "refine_boundaries", "squeeze.refine_boundaries",
          _count_third("squeeze.refine_boundaries.improved")),
        w(engine, "merge_pass", "squeeze.merge_pass",
          _count_third("squeeze.merge_pass.merged")),
        w(engine, "encode_page", "pagecodec.encode_page"),
        w(engine, "decode_page", "pagecodec.decode_page"),
        w(pagecodec, "encode_best", "kernels.encode_best"),
        w(pagecodec, "encode_strings", "strings.encode_strings"),
        w(pagecodec, "decode_blob", "kernels.decode_blob"),
        w(pagecodec, "decode_strings", "strings.decode_strings"),
        w(kernels, "encode_group_huffman", "kernels.encode_group_huffman"),
        w(kernels, "decode_group_huffman", "kernels.decode_group_huffman"),
        (pages, "_RangeCost", tracer.wrap_class("pages.range_cost", pages._RangeCost)),
    ]


def store_layers(tracer: Tracer, held: list) -> list[tuple[object, str, object]]:
    """Wrappers on the store functions ``encode_to_store`` and the decode op
    call through the ``store`` module, each timed on materialized inputs so
    that its span holds its own work, not a lazy plan's.

    ``read_lineage`` and ``read_pages`` materialize what they return, so
    their spans hold the scan. ``write_pages`` first materializes the pages
    it is given in an ``engine.encode_table`` span (the encode job, with the
    lineage join), then writes them. ``append_lineage`` and
    ``append_metrics`` derive their rows from the pages ``read_pages``
    materialized, and write them. Materialized frames are added to ``held``
    for the caller to unpersist when the op ends."""
    from zopfli_spark.sources import store

    def materialize(df):
        df = df.cache()
        df.count()
        held.append(df)
        return df

    def read(name):
        fn = getattr(store, name)

        def traced(*args, **kwargs):
            with tracer.span(f"store.{name}"):
                out = fn(*args, **kwargs)
                return out if out is None else materialize(out)

        return traced

    write_pages = tracer.wrap("store.write_pages", store.write_pages)

    def encode_then_write(pages, *args, **kwargs):
        with tracer.span("engine.encode_table"):
            pages = materialize(pages)
        return write_pages(pages, *args, **kwargs)

    return [
        (store, "read_lineage", read("read_lineage")),
        (store, "read_pages", read("read_pages")),
        (store, "write_pages", encode_then_write),
        (store, "append_lineage", tracer.wrap("store.append_lineage", store.append_lineage)),
        (store, "append_metrics", tracer.wrap("store.append_metrics", store.append_metrics)),
    ]
