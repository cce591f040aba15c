"""Traced-run layer probes: one pass over every layer a workload's own
loop may not reach, so each per-layer metric is measured on every workload.

- zone-map and bloom pruning for a few url keys (2 present, 1 absent):
  prune time, share of block groups read, bloom false keeps;
- one count, frequency and top-k query;
- one ``encode_resumable`` of the workload's source plus ``read_blocks_at``
  (skipped on append_read, whose loop already does both);
- single-thread driver-side kernel calls on one block per column with the
  codec the engine chose for it.
"""

from __future__ import annotations

import json
import shutil
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench.workloads import N_UNITS, Lookups

PROBE_KEYS = 3
KERNEL_MIN_S = 0.05


def url_groups(ctx, blocks) -> dict[tuple, set]:
    """(file, part_id, block_id) -> the urls stored in that block group,
    decoded on the driver from the url blocks."""
    kern = ctx.mods["kernels"]
    rows = (blocks.filter(F.col("column") == "url")
            .select(F.col("_metadata.file_path").alias("f"), "part_id", "block_id",
                    "header", "payload").collect())
    return {(r["f"], r["part_id"], r["block_id"]):
            set(kern.decode_array(kern.EncodedBlock.from_parts(r["header"], bytes(r["payload"])))
                .to_pylist())
            for r in rows}


def prune_probe(ctx, wl, rng) -> dict:
    dec = ctx.mods["decode"]
    blocks = wl.blocks()
    groups = url_groups(ctx, blocks)
    urls = wl.table.column("url")
    keys = [urls[int(i)].as_py() for i in rng.integers(len(urls), size=PROBE_KEYS - 1)]
    keys.append(keys[0].rsplit("/", 1)[0] + "/absent.html")
    prune_s, read_frac, kept_n, false_keep = [], [], 0, 0
    for k, key in enumerate(keys):
        ctx.job_group(f"probe-prune-{k}")
        t0 = time.perf_counter()
        zoned = dec.prune_blocks(blocks, "url", "=", key)
        kept_df = dec.prune_blocks_bloom(zoned, "url", key)
        prune_s.append(time.perf_counter() - t0)
        kept = {(r["f"], r["part_id"], r["block_id"]) for r in
                kept_df.filter(F.col("column") == "url")
                .select(F.col("_metadata.file_path").alias("f"), "part_id", "block_id").collect()}
        read_frac.append(len(kept) / len(groups))
        kept_n += len(kept)
        false_keep += sum(key not in groups[g] for g in kept)
    return {"decode.prune_s": float(np.median(prune_s)),
            "decode.groups_read_frac": float(np.mean(read_frac)),
            "bloom.false_keep_frac": false_keep / kept_n if kept_n else 0.0}


def inspect_probe(ctx, wl, rng) -> list:
    lookups = Lookups(ctx, wl.table, rng)
    ops = []
    for kind in ("count", "freq", "topk"):
        ctx.job_group(f"probe-{kind}")
        ops.append(lookups.run(kind, wl.blocks))
    return ops


def checkpoint_probe(ctx, wl) -> tuple[bool, int]:
    ckpt = ctx.mods["checkpoint"]
    out = wl.base / "probe-table"
    shutil.rmtree(out, ignore_errors=True)
    ctx.job_group("probe-checkpoint")
    res = ckpt.encode_resumable(ctx.spark, str(wl.src), str(out))
    groups = ckpt.read_blocks_at(ctx.spark, str(out)).filter(F.col("column") == "url").count()
    n_snaps = len(ckpt.snapshots(str(out)))
    want = sum(pq.ParquetFile(f).num_row_groups for f in wl.src.glob("*.parquet"))
    return res["completed"] == N_UNITS and n_snaps == 1 and groups == want, n_snaps


def _codec_spec(header: dict, codec: str) -> str:
    if codec == "xref" or header.get("codec") == "xref":
        return f"xref:{header['params']['ref']}"
    return codec


def _rate(fn, nbytes: int) -> float:
    reps, t0 = 0, time.perf_counter()
    while True:
        fn()
        reps += 1
        dt = time.perf_counter() - t0
        if dt >= KERNEL_MIN_S:
            return nbytes * reps / dt / 1e6


def kernel_probe(ctx, wl) -> dict:
    """Encode and decode the first row group of the first unit, column by
    column, single-threaded on the driver, with the chosen codecs."""
    kern = ctx.mods["kernels"]
    blocks = wl.blocks()
    chosen = {r["column"]: _codec_spec(json.loads(r["header"]), r["codec"]) for r in
              blocks.select("column", "codec", "header").dropDuplicates(["column"]).collect()}
    first = pq.ParquetFile(wl.src / "unit-0000.parquet").read_row_group(0)
    arrs = {c: first.column(c).combine_chunks() for c in first.column_names}
    out = {}
    for c, arr in arrs.items():
        ref = kern.xref_ref_of(chosen[c])
        ref_arr = arrs[ref] if ref else None
        block = kern.encode_array(arr, chosen[c], ref_arr)
        if not kern.decode_array(block, ref_arr).equals(arr):
            raise AssertionError(f"kernel round trip of {c} with {chosen[c]} differs")
        out[f"kernels.encode_mbps.{c}"] = _rate(lambda: kern.encode_array(arr, chosen[c], ref_arr), arr.nbytes)
        out[f"kernels.decode_mbps.{c}"] = _rate(lambda: kern.decode_array(block, ref_arr), arr.nbytes)
        out[f"kernels.bytes_per_raw_byte.{c}"] = len(block.payload) / arr.nbytes
    return out
