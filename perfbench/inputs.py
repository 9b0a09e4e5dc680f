"""Seeded input generation for the three benchmark workloads.

Everything here is NumPy only (no Spark), so the same seed gives the
same arrays on any host with the same NumPy, and the quick test can
check determinism without a JVM. ``write_*`` functions put the arrays
on disk in the form the program reads them from; the program never
sees the generator, only the files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes. Chosen so one measured pass takes a few seconds on a
# 4-slot local Spark: long enough to amortise per-pass noise, short
# enough that several warm passes fit in one run.
ER_VERTICES = 40_000
ER_EDGES = 200_000

SMALL_VERTICES = 120
SMALL_EDGES = 1_000
SMALL_USERS = 300
SMALL_ITEMS = 200
SMALL_RATINGS = 3_000
WALK_SOURCE_MOD = 10  # every 10th vertex id starts walks

STREAM_VERTICES = 4_000
STREAM_BASE_EDGES = 16_000
STREAM_BATCHES = 10  # batches per pass
# 1300 buffered rows per batch cross DynamicGraph's 20 %-of-base buffer
# threshold every third batch, so auto-compaction runs 3 times a pass
STREAM_ADDS = 800  # new edges per batch
STREAM_DELETES = 500  # base edges tombstoned per batch


def distinct_pairs(
    rng: np.random.Generator, n_vertices: int, n_edges: int, exclude=None
) -> tuple[np.ndarray, np.ndarray]:
    """``n_edges`` distinct directed pairs, no self loops, uniform over
    ``n_vertices`` ids (Erdős–Rényi G(n, m)), in random order. Pairs whose
    key ``src * n + dst`` is in ``exclude`` are never drawn."""
    taken = np.empty(0, dtype=np.int64) if exclude is None else exclude
    out = np.empty(0, dtype=np.int64)
    while len(out) < n_edges:
        need = int((n_edges - len(out)) * 1.2) + 16
        src = rng.integers(0, n_vertices, need, dtype=np.int64)
        dst = rng.integers(0, n_vertices, need, dtype=np.int64)
        key = (src * n_vertices + dst)[src != dst]
        key = key[~np.isin(key, taken) & ~np.isin(key, out)]
        _, first = np.unique(key, return_index=True)
        out = np.concatenate([out, key[np.sort(first)]])
    out = out[:n_edges]
    return out // n_vertices, out % n_vertices


@dataclass
class ErVolume:
    src: np.ndarray
    dst: np.ndarray


@dataclass
class SmallIterative:
    src: np.ndarray
    dst: np.ndarray
    weight: np.ndarray  # distinct integer weights, so the MSF is unique
    user: np.ndarray
    item: np.ndarray
    rating: np.ndarray


@dataclass
class StreamMutate:
    base_src: np.ndarray
    base_dst: np.ndarray
    # one row per stream event: batch index (1-based), op, src, dst
    batch: np.ndarray
    is_add: np.ndarray
    src: np.ndarray
    dst: np.ndarray


def er_volume(seed: int) -> ErVolume:
    rng = np.random.default_rng([seed, 1])
    return ErVolume(*distinct_pairs(rng, ER_VERTICES, ER_EDGES))


def small_iterative(seed: int) -> SmallIterative:
    rng = np.random.default_rng([seed, 2])
    src, dst = distinct_pairs(rng, SMALL_VERTICES, SMALL_EDGES)
    weight = rng.permutation(len(src)).astype(np.float64) + 1.0
    cells = rng.choice(SMALL_USERS * SMALL_ITEMS, SMALL_RATINGS, replace=False)
    rating = rng.integers(1, 6, SMALL_RATINGS).astype(np.float64)
    return SmallIterative(
        src, dst, weight, cells // SMALL_ITEMS, cells % SMALL_ITEMS, rating
    )


def stream_mutate(seed: int) -> StreamMutate:
    """Base graph plus ``STREAM_BATCHES`` batches. Adds are edges never
    seen before and deletes hit distinct base edges, so the visible edge
    set after batch b is base ∪ adds[≤b] − deletes[≤b] whatever the
    compaction schedule."""
    rng = np.random.default_rng([seed, 3])
    n = STREAM_VERTICES
    bs, bd = distinct_pairs(rng, n, STREAM_BASE_EDGES)
    as_, ad = distinct_pairs(rng, n, STREAM_ADDS * STREAM_BATCHES, bs * n + bd)
    victims = rng.choice(len(bs), STREAM_DELETES * STREAM_BATCHES, replace=False)
    batches = np.arange(1, STREAM_BATCHES + 1)
    batch = np.concatenate(
        [np.repeat(batches, STREAM_ADDS), np.repeat(batches, STREAM_DELETES)]
    )
    is_add = np.concatenate(
        [np.ones(len(as_), dtype=bool), np.zeros(len(victims), dtype=bool)]
    )
    return StreamMutate(
        bs,
        bd,
        batch,
        is_add,
        np.concatenate([as_, bs[victims]]),
        np.concatenate([ad, bd[victims]]),
    )


def generate(workload: str, seed: int):
    return {
        "er-volume": er_volume,
        "small-iterative": small_iterative,
        "stream-mutate": stream_mutate,
    }[workload](seed)


def write_edge_list(path: str, src: np.ndarray, dst: np.ndarray) -> None:
    """Text edge list ``src dst`` per line (sources.read_edge_list format)."""
    lines = np.char.add(np.char.add(src.astype(str), " "), dst.astype(str))
    with open(path, "w") as f:
        f.write("\n".join(lines.tolist()))
        f.write("\n")


def write_parquet(path: str, **columns: np.ndarray) -> None:
    pq.write_table(pa.table(columns), path)


def write_inputs(workload: str, data, out_dir: str) -> dict[str, str]:
    """Write ``data`` under ``out_dir``; returns {input name: path}."""
    os.makedirs(out_dir, exist_ok=True)
    paths: dict[str, str] = {}
    if workload == "er-volume":
        paths["edges"] = os.path.join(out_dir, "edges.txt")
        write_edge_list(paths["edges"], data.src, data.dst)
    elif workload == "small-iterative":
        paths["edges"] = os.path.join(out_dir, "edges.parquet")
        paths["ratings"] = os.path.join(out_dir, "ratings.parquet")
        write_parquet(
            paths["edges"], src=data.src, dst=data.dst, weight=data.weight
        )
        write_parquet(
            paths["ratings"], user=data.user, item=data.item, rating=data.rating
        )
    else:
        paths["base"] = os.path.join(out_dir, "base.parquet")
        paths["events"] = os.path.join(out_dir, "events.parquet")
        write_parquet(paths["base"], src=data.base_src, dst=data.base_dst)
        write_parquet(
            paths["events"],
            batch=data.batch,
            op=np.where(data.is_add, "add", "delete"),
            src=data.src,
            dst=data.dst,
        )
    return paths
