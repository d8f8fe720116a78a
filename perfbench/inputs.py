"""Seeded inputs for the workloads, cached per seed under the work dir.

Every generator here is a pure function of its seed: the same seed gives
the same tables and the same query mix.  Generation is cached on disk
(``<work>/inputs/<name>-<seed>``) because it is not part of anything
the benchmark measures.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# pages rows are generated in fixed chunks: sparc.fixtures.pages seeds
# its RNG per (seed, row_offset), so the chunk size is part of the data
PAGES_CHUNK = 6_000
LINEITEM_TILES = 8


@dataclass(frozen=True)
class Dataset:
    """A generated input: a directory of parquet files plus its facts."""

    path: str
    rows: int
    raw_bytes: int  # Arrow in-memory size of the whole table
    digest: str  # content_digest of the table, keyed as in KEYS


KEYS = {"pages": ["url"], "lineitem": ["l_orderkey", "l_linenumber"]}


# ---------------------------------------------------------------- pages


def _write_pages_chunks(jobs: list[list]) -> None:
    from sparc.fixtures import pages

    for seed, off, n, path in jobs:
        pq.write_table(pages.generate(n, seed=seed, row_offset=off), path, row_group_size=n)


def write_pages(path: str, n_rows: int, seed: int, root: str) -> None:
    """``n_rows`` of the sparc.fixtures.pages table, one file (and one row
    group) per chunk.  The fixture is Python-bound, so the chunks are
    generated by one child process per core (``python -m
    perfbench.inputs``), all waited for; this runs before Spark starts."""
    import subprocess
    import sys

    os.makedirs(path)
    jobs = [
        [seed, off, min(PAGES_CHUNK, n_rows - off), os.path.join(path, f"part-{i:04d}.parquet")]
        for i, off in enumerate(range(0, n_rows, PAGES_CHUNK))
    ]
    n_procs = min(len(jobs), os.cpu_count() or 1)
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p))
    procs = [
        subprocess.Popen([sys.executable, "-m", "perfbench.inputs", json.dumps(jobs[k::n_procs])],
                         cwd=root, env=env)
        for k in range(n_procs)
    ]
    codes = [p.wait() for p in procs]
    if any(codes):
        raise RuntimeError(f"pages generation failed: exit codes {codes}")


# ------------------------------------------------------------- lineitem


def lineitem_tile(n_rows: int, seed: int) -> pa.Table:
    """One TPC-H-shaped lineitem tile (the 11 columns of the sf0.1 table).

    Orders carry 1-7 lines; rows are shuffled the way the test-data table
    is, so l_orderkey is not sorted within a tile."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 0x11E]))
    lines = rng.integers(1, 8, n_rows)  # upper bound on lines per order
    order_of_row = np.repeat(np.arange(n_rows), lines)[:n_rows]
    starts = np.concatenate(([0], np.flatnonzero(np.diff(order_of_row)) + 1))
    linenumber = np.arange(n_rows) - np.repeat(starts, np.diff(np.append(starts, n_rows))) + 1
    # sparse keys, as in TPC-H: consecutive orders skip 0-3 keys
    orderkey = np.cumsum(rng.integers(1, 5, int(order_of_row[-1]) + 1))[order_of_row]
    quantity = rng.integers(1, 51, n_rows).astype(np.float64)
    partkey = rng.integers(1, 20_001, n_rows)
    price = np.round((90_000 + (partkey // 10) % 20_001 + 100 * (partkey % 1_000)) / 100.0, 2)
    shipdate = rng.integers(8_036, 10_560, n_rows)  # days: 1992-01-02 .. 1998-12-01
    returnflag = np.where(shipdate < 9_298, rng.choice(np.array(["A", "R"]), n_rows), "N")
    linestatus = np.where(shipdate > 9_298, "O", "F")
    perm = rng.permutation(n_rows)
    cols = {
        "l_orderkey": orderkey.astype(np.int64),
        "l_partkey": partkey.astype(np.int64),
        "l_suppkey": rng.integers(1, 1_001, n_rows).astype(np.int64),
        "l_linenumber": linenumber.astype(np.int32),
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * price, 2),
        "l_discount": rng.integers(0, 11, n_rows) / 100.0,
        "l_tax": rng.integers(0, 9, n_rows) / 100.0,
        "l_returnflag": returnflag,
        "l_linestatus": linestatus,
        "l_shipdate": shipdate.astype("datetime64[D]").astype("datetime64[us]"),
    }
    return pa.table({k: v[perm] for k, v in cols.items()})


def lineitem_tiles(tile: pa.Table, tiles: int = LINEITEM_TILES):
    """Yield ``tiles`` copies of ``tile``, l_orderkey offset per copy so
    keys stay distinct across tiles."""
    span = int(pc.max(tile["l_orderkey"]).as_py()) + 1
    idx = tile.schema.get_field_index("l_orderkey")
    for t in range(tiles):
        yield tile.set_column(idx, "l_orderkey", pc.add(tile["l_orderkey"], t * span))


def write_lineitem(path: str, n_rows: int, seed: int, row_group_rows: int) -> None:
    os.makedirs(path)
    tile = lineitem_tile(n_rows // LINEITEM_TILES, seed)
    for t, table in enumerate(lineitem_tiles(tile)):
        pq.write_table(table, os.path.join(path, f"part-{t:04d}.parquet"), row_group_size=row_group_rows)


# --------------------------------------------------------------- digest


def _update_column(h, arr: pa.Array) -> None:
    t = arr.type
    if pa.types.is_binary(t) or pa.types.is_string(t) or pa.types.is_large_binary(t) or pa.types.is_large_string(t):
        # lengths (-1 for null) then the value bytes, straight from the buffers
        h.update(pc.binary_length(arr).cast(pa.int64()).fill_null(-1).to_numpy().tobytes())
        wide = pa.types.is_large_binary(t) or pa.types.is_large_string(t)
        dtype = np.int64 if wide else np.int32
        offs = np.frombuffer(arr.buffers()[1], dtype, len(arr) + 1, arr.offset * dtype().itemsize)
        if arr.buffers()[2] is not None:
            h.update(memoryview(arr.buffers()[2])[int(offs[0]) : int(offs[-1])])
        return
    h.update(np.packbits(arr.is_valid().to_numpy(zero_copy_only=False)).tobytes())
    if pa.types.is_timestamp(t):
        arr = arr.cast(pa.timestamp("us")).cast(pa.int64())
    h.update(arr.fill_null(0).to_numpy(zero_copy_only=False).tobytes())


def content_digest(table: pa.Table, keys: list[str], columns: list[str] | None = None) -> str:
    """Order-independent sha256 of ``table``'s values: rows are sorted by
    ``keys`` first, so any row order and any chunking digest the same.
    Types are normalised (string/binary as bytes, timestamps as int64 us),
    so a decode that keeps the values keeps the digest."""
    columns = columns or table.column_names
    table = table.take(pc.sort_indices(table, [(k, "ascending") for k in keys]))
    h = hashlib.sha256()
    for name in columns:
        h.update(name.encode())
        _update_column(h, table[name].combine_chunks())
    return h.hexdigest()


# ---------------------------------------------------------------- cache


def dataset(work: str, root: str, kind: str, n_rows: int, seed: int, stripe_rows: int) -> Dataset:
    """Generate (or reuse) the ``kind`` table of ``n_rows`` for ``seed``."""
    path = os.path.join(work, "inputs", f"{kind}-{n_rows}-{seed}")
    meta_path = path + ".json"
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return Dataset(**json.load(f))
    shutil.rmtree(path, ignore_errors=True)
    if kind == "pages":
        write_pages(path, n_rows, seed, root)
    else:
        write_lineitem(path, n_rows, seed, row_group_rows=stripe_rows)
    table = pq.read_table(path)
    ds = Dataset(
        path=path,
        rows=table.num_rows,
        raw_bytes=table.nbytes,
        digest=content_digest(table, KEYS[kind]),
    )
    with open(meta_path + ".tmp", "w") as f:
        json.dump(ds.__dict__, f)
    os.replace(meta_path + ".tmp", meta_path)
    return ds


# ------------------------------------------------------------ query mix

QUERY_BLOCK = np.array([0, 2, 0, 1, 0])  # 0: present url, 1: absent url, 2: warc_ts range


def query_mix(urls: pa.Array, ts_us: np.ndarray, n: int, seed: int) -> list[tuple]:
    """``n`` lookups against a pages table: 60% url equality on a present
    key, 20% on an absent key and 20% ``warc_ts`` ranges of 0.5% of the
    span.  The kinds repeat in blocks of five, so any run of consecutive
    queries has the same mix and a short loop measures it, not luck.

    Absent keys keep an existing url's host and words but take a row
    number past the table's end, so they sort inside the stripes' url
    min/max and only the bloom filters can refute them."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 0x100C]))
    kinds = np.resize(QUERY_BLOCK, n)
    rows = rng.integers(0, len(urls), n)
    lo_ts, hi_ts = int(ts_us.min()), int(ts_us.max())
    width = max(1, (hi_ts - lo_ts) // 200)
    starts = rng.integers(lo_ts, max(lo_ts + 1, hi_ts - width), n)
    out = []
    for i, (k, r) in enumerate(zip(kinds.tolist(), rows.tolist())):
        if k == 0:
            out.append(("eq", urls[r].as_py()))
        elif k == 1:
            base = urls[r].as_py().rsplit("/p", 1)[0]
            out.append(("eq", f"{base}/p{len(urls) + 1 + i}"))
        else:
            out.append(("range", int(starts[i]), int(starts[i]) + width))
    return out


def expected_urls(query: tuple, urls: pa.Array, ts_us: np.ndarray) -> list[str]:
    """The urls pyarrow selects from the raw table for ``query``, sorted."""
    if query[0] == "eq":
        mask = pc.equal(urls, query[1])
    else:
        mask = pa.array((ts_us >= query[1]) & (ts_us <= query[2]))
    return sorted(pc.filter(urls, mask).to_pylist())


if __name__ == "__main__":
    import sys

    _write_pages_chunks(json.loads(sys.argv[1]))
