"""Output checks, run after the timed interval. They read the outputs with
pyarrow (independent of Spark) and compare them with what the generator
knows. Each returns a list of failure messages; empty means correct."""

from __future__ import annotations

import glob
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def read_parquet_in_order(path: str) -> pa.Table:
    """Every part file under ``path`` in part-number order, WITHOUT
    re-sorting: the order is under test."""
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    return pa.concat_tables(
        [pq.read_table(f) for f in files], promote_options="default"
    )


def _epoch_us(col: pa.ChunkedArray) -> np.ndarray:
    return pc.cast(pc.cast(col, pa.timestamp("us")), pa.int64()).to_numpy()


def check_series(table: pa.Table, truth, index: str = "time") -> list[str]:
    """A regularized series: one row per cadence slot, on the grid, with
    the expected survivor (or a fill) in every slot."""
    n = len(truth.ts_us)
    if table.num_rows != n:
        return [f"record count {table.num_rows} != n_buckets {n}"]
    errs = []
    is_fill = table.column("is_fill").to_numpy(zero_copy_only=False).astype(bool)
    if is_fill.sum() != truth.is_fill.sum():
        errs.append(f"fill count {is_fill.sum()} != empty slots {truth.is_fill.sum()}")
    if not np.array_equal(is_fill, truth.is_fill):
        errs.append("fill flags are on the wrong slots")
    ts = _epoch_us(table.column(index))
    if not (np.diff(ts) > 0).all():
        errs.append("timestamps are not strictly increasing")
    slot = (ts - truth.lo_us) // truth.step_us
    if not np.array_equal(slot, np.arange(n)):
        errs.append("timestamps are not one per grid slot")
    if not np.array_equal(ts, truth.ts_us):
        errs.append(f"{int((ts != truth.ts_us).sum())} timestamps differ from the survivors'")
    real = ~truth.is_fill
    for name, want in truth.values.items():
        col = table.column(name)
        if want.ndim == 2:  # fixed-width vector column
            got = np.full(want.shape, np.nan, want.dtype)
            vals = col.to_pylist()
            for i in np.flatnonzero(real):
                got[i] = vals[i]
        else:
            got = col.to_numpy(zero_copy_only=False)
        null = np.asarray(col.is_null().to_numpy(zero_copy_only=False))
        if not null[truth.is_fill].all():
            errs.append(f"{name}: fill rows carry values")
        g, w, nul = got[real], want[real], null[real]
        if w.ndim == 2:
            nul = nul[:, None]
        same = (g == w) | (np.isnan(w) & nul) if w.dtype.kind == "f" else g == w
        if same.ndim == 2:
            same = same.all(axis=1)
        if not same.all():
            errs.append(f"{name}: {int((~same).sum())} slots differ from the survivor's value")
    return errs


def check_nc4_day(out_dir: str, truth) -> list[str]:
    """The parquet side of the CLI run, then the .nc4 against it. The .nc4
    is decoded with the engine's own pure-Python reader: no independent
    HDF5 reader (h5py, netCDF4) is installed."""
    from ncagg_spark.sources.hdf5 import read_hdf5

    table = read_parquet_in_order(os.path.join(out_dir, "day_parquet"))
    errs = check_series(table, truth)
    with open(os.path.join(out_dir, "day_parquet", "_attributes.json")) as f:
        attrs = json.load(f)
    if attrs.get("input_count") != truth.n_files or not (
        str(attrs.get("time_coverage_start")).startswith("2024-01-02T00:00:00")
        and str(attrs.get("time_coverage_end")).startswith("2024-01-02T01:00:00")
    ):
        errs.append(f"attributes {attrs}")
    with open(os.path.join(out_dir, "day.nc4"), "rb") as f:
        nc = read_hdf5(f.read())
    t = np.asarray(nc.read("time"), dtype=np.float64)
    if len(t) != table.num_rows:
        errs.append(f"nc4 has {len(t)} records, parquet {table.num_rows}")
    elif np.abs(t * 1e6 - _epoch_us(table.column("time"))).max() > 1.0:
        errs.append("nc4 index differs from the parquet index")
    return errs


def union_find(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """node -> minimum id of its connected component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def true_pairs(simhash: dict[int, int], max_hamming: int) -> list[tuple[int, int]]:
    """Every pair of docs whose SimHashes differ in at most ``max_hamming``
    bits, by brute force over the generator's own signatures."""
    ids = np.fromiter(simhash, np.int64)
    sig = np.fromiter(simhash.values(), np.uint32, count=len(ids))
    ones = np.array([bin(b).count("1") for b in range(256)], np.uint8)
    pairs = []
    for i in range(len(ids) - 1):
        x = (sig[i] ^ sig[i + 1:]).view(np.uint8).reshape(-1, 4)
        near = np.flatnonzero(ones[x].sum(axis=1) <= max_hamming)
        pairs.extend((int(ids[i]), int(ids[i + 1 + j])) for j in near)
    return pairs


def check_docs(out_dir: str, truth) -> list[str]:
    """Survivors and cluster sizes equal a pure-Python union-find over the
    true near-duplicate pairs; every planted cluster is connected and has
    exactly one survivor."""
    from gen import MAX_HAMMING

    t = read_parquet_in_order(out_dir)
    got = dict(zip(t.column("doc_id").to_pylist(), t.column("n_members").to_pylist()))
    label = union_find(true_pairs(truth.simhash, MAX_HAMMING))
    sizes: dict[int, int] = {}
    for root in label.values():
        sizes[root] = sizes.get(root, 0) + 1
    want = {d: sizes.get(d, 1) for d in truth.simhash if label.get(d, d) == d}
    errs = []
    if len(got) != t.num_rows:
        errs.append("duplicate survivor ids")
    if got != want:
        errs.append(
            f"survivors differ from union-find: {len(set(got) ^ set(want))} ids, "
            f"{sum(1 for d in got if d in want and got[d] != want[d])} sizes"
        )
    for c in truth.clusters:
        if len({label.get(d, d) for d in c}) != 1:
            errs.append(f"planted cluster {c[:3]}... is not connected")
            break
        if sum(d in got for d in c) != 1:
            errs.append(f"planted cluster {c[:3]}... has not one survivor")
            break
    return errs
