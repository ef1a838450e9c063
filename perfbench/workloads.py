"""Seed-driven input generators and workload definitions for the benchmark.

The benchmark owns its generators, so a change to the package's own test-data
generator cannot shift the benchmark's inputs. Every generator is vectorized
numpy over whole kinds of documents (one call per kind, never one per row) and
returns an Arrow table with the tokens schema
``doc_id string, tokens array<int>, n_tok int, source string``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

VOCAB = 1 << 17
SOURCES = pa.array(["web", "code", "books", "wiki"])

# FIXTURES.md §1 mixture: (kind, share of docs)
KINDS = ("zipfian", "run_heavy", "narrow", "ascending", "uniform", "constant")
SHARES = (0.40, 0.20, 0.15, 0.10, 0.10, 0.05)

# Bench geometry: group 2M values, page 1M, giant-doc threshold 1M.
GEOMETRY = dict(
    group_budget_values=1 << 21,
    page_budget_values=1 << 20,
    giant_doc_values=1 << 20,
)

TAIL_SHARE = 0.001
TAIL_MIN, TAIL_MAX = 100_000, 1_000_000


def _kind_values(rng: np.random.Generator, kind: str, lens: np.ndarray) -> np.ndarray:
    """Flat int32 values of every doc of one kind, docs concatenated."""
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=np.int32)
    if kind == "zipfian":
        return (np.minimum(rng.zipf(1.2, total), 50_000) - 1).astype(np.int32)
    if kind == "run_heavy":
        # runs of one id with geometric(0.1) lengths; a doc boundary cuts a run
        run_lens = rng.geometric(0.1, total // 5 + 16)
        while int(run_lens.sum()) < total:
            run_lens = np.concatenate([run_lens, rng.geometric(0.1, total // 5 + 16)])
        vals = rng.integers(0, VOCAB, len(run_lens))
        return np.repeat(vals, run_lens)[:total].astype(np.int32)
    if kind == "narrow":
        base = rng.integers(0, VOCAB - 64, len(lens))
        return (np.repeat(base, lens) + rng.integers(0, 64, total)).astype(np.int32)
    if kind == "ascending":
        steps = rng.integers(1, 4, total).astype(np.int64)
        csum = np.cumsum(steps)
        starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
        before = np.concatenate([[0], csum])[starts]  # cumsum before each doc
        return (csum - np.repeat(before, lens)).astype(np.int32)
    if kind == "uniform":
        return rng.integers(0, VOCAB, total).astype(np.int32)
    if kind == "constant":
        return np.repeat(rng.integers(0, VOCAB, len(lens)), lens).astype(np.int32)
    raise ValueError(f"unknown kind {kind!r}")


def _assemble(lens: np.ndarray, parts: list[tuple[np.ndarray, np.ndarray]]) -> np.ndarray:
    """Scatter per-kind flat values (doc index array, values) into doc order."""
    offsets = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    flat = np.empty(int(offsets[-1]), dtype=np.int32)
    for docs, vals in parts:
        if len(vals) == 0:
            continue
        dl = lens[docs]
        local = np.zeros(len(docs) + 1, dtype=np.int64)
        np.cumsum(dl, out=local[1:])
        pos = np.repeat(offsets[docs] - local[:-1], dl) + np.arange(len(vals))
        flat[pos] = vals
    return flat


def _table(doc_ids: list[str], lens: np.ndarray, flat: np.ndarray, source: pa.Array) -> pa.Table:
    offsets = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    if offsets[-1] > np.iinfo(np.int32).max:
        raise ValueError("input too large for int32 list offsets")
    tokens = pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32)), pa.array(flat))
    return pa.table(
        {
            "doc_id": pa.array(doc_ids, type=pa.string()),
            "tokens": tokens,
            "n_tok": pa.array(lens.astype(np.int32)),
            "source": source,
        }
    )


def _lognormal_quantiles(n: int) -> np.ndarray:
    """n lengths at the midpoint quantiles of lognormal(log 512, 1), clipped
    to [0, 16384]: the same length multiset for every seed."""
    from statistics import NormalDist

    z = np.array([NormalDist().inv_cdf((i + 0.5) / n) for i in range(n)])
    return np.clip(np.exp(np.log(512) + z), 0, 16_384).astype(np.int64)


def mixture_table(seed: int, n_docs: int) -> pa.Table:
    """FIXTURES.md §1 mixture.

    Kinds follow the shares exactly and each kind's lengths are the
    midpoint quantiles of a lognormal (median 512, clipped to [0, 16384]),
    shuffled: a stratified draw rather than i.i.d. per doc, so every seed
    holds the same amount of each kind of content.
    0.1% of docs (at least one), the last ones, form the long tail of
    100k-1M tokens. Their lengths sit at the midpoints of equal strata of
    that range, and each is made of one segment of every kind, sized by the
    kind's share, in an order the seed shuffles: a seed changes the values
    but not how much long-tail work of each kind a run holds. (One
    whole-doc kind per tail doc would let a benchmark-sized input's single
    tail doc swing the compressed size by 4x between seeds.) The edge
    docs are always present: empty, single token, a repeated max-vocab id and
    int32 extremes. The one-page and page-plus-one edge docs are left out:
    at the bench page size they are 1M tokens each, more than the rest of a
    benchmark-sized input.
    """
    rng = np.random.Generator(np.random.PCG64(seed))
    counts = np.floor(np.asarray(SHARES) * n_docs).astype(np.int64)
    counts[0] += n_docs - counts.sum()
    kind_of = rng.permutation(np.repeat(np.arange(len(KINDS)), counts))
    lens = np.empty(n_docs, dtype=np.int64)
    for k, c in enumerate(counts):
        lens[kind_of == k] = rng.permutation(_lognormal_quantiles(int(c)))

    edges = {
        0: np.empty(0, dtype=np.int32),
        1: np.array([7], dtype=np.int32),
        2: np.full(257, VOCAB - 1, dtype=np.int32),
        3: np.array([0, 2**31 - 1, 0, 2**31 - 1], dtype=np.int32),
    }
    n_edge = len(edges)
    n_tail = max(1, round(n_docs * TAIL_SHARE))
    if n_docs < n_edge + n_tail:
        raise ValueError(f"mixture needs at least {n_edge + n_tail} docs")
    # The tail docs are the last docs, for every seed. The planner puts a
    # giant doc's group on a task by the hash of its doc_id, so a
    # seed-chosen tail doc would make the encode wall jump between three
    # task placements from seed to seed. The last doc's group shares its task
    # with two regular groups at the benchmark's geometry: the straggler case.
    tail = np.arange(n_docs - n_tail, n_docs)
    lens[tail] = TAIL_MIN + ((np.arange(n_tail) + 0.5) * (TAIL_MAX - TAIL_MIN) / n_tail).astype(np.int64)
    for i, v in edges.items():
        lens[i] = len(v)

    fixed = np.zeros(n_docs, dtype=bool)
    fixed[: len(edges)] = True
    fixed[tail] = True
    parts = []
    for k, kind in enumerate(KINDS):
        docs = np.flatnonzero((kind_of == k) & ~fixed)
        parts.append((docs, _kind_values(rng, kind, lens[docs])))
    for i, v in edges.items():
        parts.append((np.array([i]), v))
    for doc in tail.tolist():
        seg = np.floor(np.asarray(SHARES) * lens[doc]).astype(np.int64)
        seg[0] += lens[doc] - seg.sum()
        vals = [_kind_values(rng, KINDS[k], seg[k : k + 1]) for k in rng.permutation(len(KINDS))]
        parts.append((np.array([doc]), np.concatenate(vals)))
    flat = _assemble(lens, parts)
    doc_ids = [f"doc_{i:012d}" for i in range(n_docs)]
    source = SOURCES.take(pa.array(rng.integers(0, len(SOURCES), n_docs)))
    return _table(doc_ids, lens, flat, source)


def short_docs_table(seed: int, n_docs: int) -> pa.Table:
    """Order-like records: 1-7 sorted part ids per doc (each length equally
    often), unique doc_ids."""
    rng = np.random.Generator(np.random.PCG64(seed))
    lens = rng.permutation(np.arange(n_docs) % 7 + 1).astype(np.int64)
    keys = np.sort(rng.choice(4 * n_docs, n_docs, replace=False))
    vals = rng.integers(1, 200_001, int(lens.sum())).astype(np.int32)
    doc_of = np.repeat(np.arange(n_docs), lens)
    flat = vals[np.lexsort((vals, doc_of))]
    doc_ids = [f"doc_{k:09d}" for k in keys.tolist()]
    source = pa.array(["lineitem"] * n_docs, type=pa.string())
    return _table(doc_ids, lens, flat, source)


# one cycle of the closed loop: a fresh encode, the same input encoded again
# into the same store (every group should resume from lineage), a decode
OPS = ("encode", "resume", "decode")


@dataclass(frozen=True)
class Workload:
    name: str
    make_input: object  # (seed) -> pa.Table
    preset: str  # EngineConfig preset: "ratio" or "throughput"
    geometry: dict = field(default_factory=lambda: dict(GEOMETRY))

    def config(self):
        from zopfli_spark import EngineConfig

        return getattr(EngineConfig, self.preset)(**self.geometry)


def workloads(scale: float = 1.0) -> dict[str, Workload]:
    """The benchmark's workloads; ``scale`` shrinks inputs for smoke tests.

    Two regimes that stress different layers: the search stages and the
    group dictionary on the mixture, per-row costs (range cost, doc-id
    strings, headers) on short docs. The mixture at ``EngineConfig()`` is
    not a workload of its own: its code paths are a subset of the ratio
    preset's, and within a fixed total benchmark time two workloads allow a
    run length whose medians are steady on a 4-vCPU host.

    The mixture runs the bench geometry scaled by 1/8 (group 256k values,
    page 128k, giant doc 128k), so its ~1M tokens make four regular groups
    plus the long-tail doc's own group, as the full geometry does at
    production size; in a single group the ratio search's page-geometry
    choices made encode CPU swing by up to 1.7x between seeds. Short docs
    keep the full geometry: one group for the whole input is the planner
    behaviour that workload exists to show.
    """
    ratio_docs = max(20, int(600 * scale))
    short_docs = max(50, int(100_000 * scale))
    return {
        "mixture_ratio": Workload(
            "mixture_ratio",
            lambda seed: mixture_table(seed, ratio_docs),
            "ratio",
            {k: v >> 3 for k, v in GEOMETRY.items()},
        ),
        "short_docs_tput": Workload(
            "short_docs_tput",
            lambda seed: short_docs_table(seed, short_docs),
            "throughput",
        ),
    }
