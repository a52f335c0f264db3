"""Seeded input generators for the workloads.

Each generator writes the files the engine reads and returns a ``Truth``:
the input size plus everything the verifier needs to know what a correct
output holds. Nothing here imports the engine, so the inputs depend only on
the seed (the netCDF-4 granules go through the benchmark's own frozen
writer, ``h5write.py``).
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass, field
from datetime import datetime, timezone

import numpy as np

# nc4_day: one-minute GOES-style granules at 10 Hz over the day's first hour.
NC_START = datetime(2024, 1, 2, tzinfo=timezone.utc)
NC_GRANULES = 60
NC_HZ = 10
NC_BOUNDS = "202401020000:202401020059"  # CLI -b: [00:00, 01:00)
NC_UNITS = "seconds since 2000-01-01 12:00:00"
NC_EPOCH_US = int(datetime(2000, 1, 1, 12, tzinfo=timezone.utc).timestamp()) * 10**6
NC_TIME_FILL = -9999.0

# doc_near_dedup: random documents plus planted near-duplicate clusters.
DOC_COUNT = 1500
DOC_VOCAB = 4000
DOC_CHAINS = 20  # chains of docs, neighbours within hamming 3
# Rank of each chain position's id among the chain's ids: the two smallest
# sit at the two ends, so the minimum label has to cross the whole chain
# and every chain takes the worst-case number of label-propagation rounds
# for its length (3 for 4 docs). Random ids would make the round count,
# and with it the job count and warm_s, depend on the seed.
DOC_CHAIN_RANKS = (0, 2, 3, 1)
DOC_STARS = 40  # a base doc plus 1-4 token-order/whitespace variants
MAX_HAMMING = 3


@dataclass
class Truth:
    input_records: int
    input_bytes: int
    n_files: int = 1
    # aggregation workloads: expected output, one entry per cadence slot
    lo_us: int = 0
    step_us: int = 0
    ts_us: np.ndarray | None = None
    is_fill: np.ndarray | None = None
    values: dict[str, np.ndarray] = field(default_factory=dict)
    # doc_near_dedup: planted clusters (lists of doc ids) and the
    # generator's own 32-bit SimHash of every doc
    clusters: list[list[int]] = field(default_factory=list)
    simhash: dict[int, int] = field(default_factory=dict)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path)
        for f in fs
    )


def _survivors(bucket: np.ndarray, ts_us: np.ndarray, n_buckets: int):
    """Index of the earliest record in every occupied slot (the cadence
    dedup rule), plus the occupied slot ids. Callers pass only valid,
    in-bounds records; ties are identical rows by construction."""
    order = np.lexsort((ts_us, bucket))
    b_sorted = bucket[order]
    slots, first = np.unique(b_sorted, return_index=True)
    if slots.min() < 0 or slots.max() >= n_buckets:
        raise ValueError("survivor outside the cadence grid")
    return slots, order[first]


def gen_nc4_day(out_dir: str, seed: int) -> Truth:
    """1-minute netCDF-4 (zlib) granules at 10 Hz: CF time, a 3-vector, a
    float32 and an int32 flag, plus the user's JSON template. Defects: the
    last records of each granule repeat at the start of the next, one
    granule is missing, some timestamps hold the fill value, and the first
    and last granules spill past the aggregation bounds."""
    from h5write import write_hdf5

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    per = 60 * NC_HZ
    step_us = 10**6 // NC_HZ
    lo_us = int(NC_START.timestamp()) * 10**6
    n_buckets = NC_GRANULES * per
    missing = int(rng.integers(10, NC_GRANULES - 10))
    seam = 5
    spill = 20

    # the user's template: three global-attribute strategies
    with open(os.path.join(out_dir, "template.json"), "w") as f:
        json.dump({"aggregation": {"index_by": "time", "attribute_strategies": {
            "input_count": "input_count",
            "time_coverage_start": "time_coverage_start",
            "time_coverage_end": "time_coverage_end",
        }}}, f)

    all_ts, all_bucket, all_rows = [], [], []
    prev_tail = None
    n_records = 0
    for g in range(NC_GRANULES):
        k = np.arange(per) + g * per
        if g == 0:
            k = np.concatenate([np.arange(-spill, 0), k])
        if g == NC_GRANULES - 1:
            k = np.concatenate([k, n_buckets + np.arange(spill)])
        jitter_ms = rng.integers(0, 40, size=len(k))
        ms = (lo_us // 1000 - NC_EPOCH_US // 1000) + k * (step_us // 1000) + jitter_ms
        t = ms / 1000.0
        t[rng.random(len(k)) < 0.005] = NC_TIME_FILL
        pos = rng.normal(0, 1000, size=(len(k), 3)).astype("float32")
        temp = rng.normal(20, 5, size=len(k)).astype("float32")
        flag = rng.integers(0, 16, size=len(k)).astype("int32")
        if prev_tail is not None:
            t = np.concatenate([prev_tail[0], t])
            pos = np.concatenate([prev_tail[1], pos])
            temp = np.concatenate([prev_tail[2], temp])
            flag = np.concatenate([prev_tail[3], flag])
        prev_tail = (t[-seam:], pos[-seam:], temp[-seam:], flag[-seam:])
        if g == missing:
            continue
        write_hdf5(
            os.path.join(out_dir, f"OR_MAG-L1b_G16_s{g:04d}.nc4"),
            dims=[("time", 0), ("xyz", 3)],
            variables={
                "time": (["time"], t),
                "pos": (["time", "xyz"], pos),
                "temp": (["time"], temp),
                "flag": (["time"], flag),
            },
            attributes={"platform_ID": "G16", "granule": g},
            var_attributes={
                "time": {"units": NC_UNITS, "_FillValue": NC_TIME_FILL},
                "temp": {"units": "degC"},
            },
            compression=4,
        )
        n_records += len(t)
        # CF decode as the convention defines it: floor to microseconds
        valid = t != NC_TIME_FILL
        us = np.floor(np.float64(NC_EPOCH_US) + t[valid] * 1e6).astype(np.int64)
        inb = (us >= lo_us) & (us < lo_us + n_buckets * step_us)
        all_ts.append(us[inb])
        all_bucket.append((us[inb] - lo_us) // step_us)
        all_rows.append((pos[valid][inb], temp[valid][inb], flag[valid][inb]))

    ts = np.concatenate(all_ts)
    bucket = np.concatenate(all_bucket)
    pos = np.concatenate([r[0] for r in all_rows])
    temp = np.concatenate([r[1] for r in all_rows])
    flag = np.concatenate([r[2] for r in all_rows])
    slots, idx = _survivors(bucket, ts, n_buckets)

    is_fill = np.ones(n_buckets, bool)
    is_fill[slots] = False
    real_ts = np.zeros(n_buckets, np.int64)
    real_ts[slots] = ts[idx]
    e_temp = np.full(n_buckets, np.nan, "float32")
    e_temp[slots] = temp[idx]
    e_flag = np.zeros(n_buckets, "int32")
    e_flag[slots] = flag[idx]
    e_pos = np.full((n_buckets, 3), np.nan, "float32")
    e_pos[slots] = pos[idx]
    return Truth(
        input_records=n_records,
        input_bytes=_dir_bytes(out_dir),
        n_files=NC_GRANULES - 1,
        lo_us=lo_us,
        step_us=step_us,
        # a real slot keeps its record's time, a fill sits on its grid point
        ts_us=np.where(is_fill, lo_us + np.arange(n_buckets) * step_us, real_ts),
        is_fill=is_fill,
        values={"temp": e_temp, "flag": e_flag, "pos": e_pos},
    )


def _token_votes(vocab: list[str]) -> np.ndarray:
    """Per-token SimHash bit votes (+1/-1 per bit), from the md5 prefix
    hash the near-dedup stage documents (60-bit md5 prefix, 32 low bits)."""
    h = np.array(
        [int(hashlib.md5(w.encode()).hexdigest()[:15], 16) for w in vocab],
        dtype=np.int64,
    )
    bits = (h[:, None] >> np.arange(32)) & 1
    return (bits * 2 - 1).astype(np.int32)


def _sig(votes: np.ndarray) -> int:
    return int(((votes > 0).astype(np.int64) << np.arange(32)).sum())


def _ham(a: int, b: int) -> int:
    return bin(a ^ b).count("1")


def gen_docs(out_dir: str, seed: int) -> Truth:
    """Random documents plus planted near-duplicate clusters: chains whose
    neighbours are within hamming 3 while non-neighbours are not (so
    connected components must follow the chain), and stars of
    reordered / re-spaced copies (hamming 0). Every doc is more than
    hamming 3 away from every doc outside its own cluster, so the pair
    graph is exactly the planted one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    vocab = [f"w{i:04d}" for i in range(DOC_VOCAB)]
    votes = _token_votes(vocab)
    ones = np.array([bin(b).count("1") for b in range(256)], np.uint8)

    texts: list[str] = []
    sigs: list[int] = []
    clusters: list[list[int]] = []

    def random_doc() -> np.ndarray:
        return rng.integers(0, DOC_VOCAB, size=int(rng.integers(30, 61)))

    def sig_of(tokens: np.ndarray) -> int:
        return _sig(votes[tokens].sum(axis=0))

    def isolated(s: int, n: int) -> bool:
        """Whether ``s`` is more than MAX_HAMMING from the first n docs."""
        x = (np.uint32(s) ^ np.array(sigs[:n], np.uint32)).view(np.uint8)
        return bool((ones[x.reshape(-1, 4)].sum(axis=1) > MAX_HAMMING).all())

    def add(tokens: np.ndarray, sig: int, sep: str = " ") -> int:
        texts.append(sep.join(vocab[t] for t in tokens))
        sigs.append(sig)
        return len(texts) - 1

    def add_isolated_doc() -> tuple[int, np.ndarray]:
        while True:
            toks = random_doc()
            s = sig_of(toks)
            if isolated(s, len(sigs)):
                return add(toks, s), toks

    chain_len = len(DOC_CHAIN_RANKS)
    for _ in range(DOC_CHAINS):
        while True:  # retry until a full chain is found
            others = len(sigs)
            first, toks = add_isolated_doc()
            chain = [first]
            for _ in range(chain_len - 1):
                for _ in range(400):
                    cand = toks.copy()
                    cand[rng.integers(0, len(cand))] = rng.integers(0, DOC_VOCAB)
                    s = sig_of(cand)
                    if 1 <= _ham(s, sigs[-1]) <= MAX_HAMMING and isolated(
                        s, len(sigs) - 1
                    ):
                        chain.append(add(cand, s))
                        toks = cand
                        break
                else:
                    break
            if len(chain) == chain_len:
                break
            del texts[others:], sigs[others:]
        clusters.append(chain)
    for _ in range(DOC_STARS):
        base, toks = add_isolated_doc()
        members = [base]
        for _ in range(int(rng.integers(1, 5))):
            members.append(add(rng.permutation(toks), sigs[base], sep="  "))
        clusters.append(members)
    while len(texts) < DOC_COUNT:
        add_isolated_doc()

    # shuffle ids so a doc's id does not follow its place in the file,
    # then order each chain's ids by DOC_CHAIN_RANKS
    ids = rng.permutation(len(texts)).astype(np.int64)
    for chain in clusters[:DOC_CHAINS]:
        ranked = np.sort(ids[chain])
        ids[chain] = ranked[list(DOC_CHAIN_RANKS)]
    table = pa.table(
        {"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())}
    )
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    return Truth(
        input_records=len(texts),
        input_bytes=_dir_bytes(out_dir),
        clusters=[[int(ids[m]) for m in c] for c in clusters],
        simhash={int(ids[i]): s for i, s in enumerate(sigs)},
    )
