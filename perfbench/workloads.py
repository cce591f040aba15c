"""The four workloads: inputs generated from the seed, one closed-loop op at
a time against the engine's public codec and pipeline API, and a check of
every output against what pyarrow computes from the source.

Sizing (every workload): 8 crawl units x 4096 rows of the synthetic web
table, 2048-row parquet row groups -> 16 block groups, about 26 MB raw
(Arrow buffer bytes). Sinks are local disk inside the run's work dir; block
files use the engine's default container compression (none), decoded
parquet its default (snappy). See WORKLOADS.md for the full record.
"""

from __future__ import annotations

import hashlib
import shutil
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

N_UNITS = 8
UNIT_ROWS = 4096
ROW_GROUP_ROWS = 2048
APPEND_ROWS = 1024
SUBSET = ["url", "lang"]
LOOKUP_COLS = ["url", "warc_ts", "lang"]
BLOOM_PREFIX = 24  # "https://www.host<h>.examp" still tells hosts apart
# one 14-op cycle of the point-lookup mix: url equality on 10 ops (8 present
# keys, 2 absent: 80/20) and one each of host prefix, count, top-k and
# frequency. Present-key lookups are a majority of every prefix of the cycle
# from 6 ops on, so a run's median op is one of them whatever its op count.
MIX = ("eq_hit", "eq_hit", "prefix", "eq_hit", "eq_miss", "eq_hit", "count", "eq_hit",
       "topk", "eq_hit", "eq_miss", "eq_hit", "freq", "eq_hit")
LOOKUP_KINDS = tuple(dict.fromkeys(MIX))
LOOKUPS_PER_APPEND = 2
GEN_REPS = 2


@dataclass
class Op:
    kind: str
    seconds: float
    raw_bytes: int = 0
    ok: bool | None = True  # None: checked when the workload finishes
    detail: str = ""
    group: str = ""  # Spark job group the op ran under
    traced: bool = False


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: Path
    seed: int
    mods: dict

    def job_group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)
        self.tracer.op = name


def engine_modules() -> dict:
    """The engine's modules, looked up by attribute at call time so that
    tracing wrappers installed later are honoured."""
    from nail_parquet_spark import synth
    from nail_parquet_spark.codec import decode, encode, inspect, kernels, select
    from nail_parquet_spark.pipeline import checkpoint

    return {"synth": synth, "encode": encode, "decode": decode, "inspect": inspect,
            "kernels": kernels, "select": select, "checkpoint": checkpoint}


# -- canonical forms and digests ------------------------------------------------


def canonical(t: pa.Table, schema: pa.Schema) -> pa.Table:
    """Columns cast to the source types (Spark hands timestamps back
    zone-tagged and strings possibly large) and rows sorted by url."""
    t = t.select(schema.names).cast(schema)
    return t.sort_by("url").combine_chunks()


def digest(t: pa.Table) -> str:
    """SHA-256 over every column's validity and values, independent of
    chunking, slicing offsets and spare validity buffers."""
    h = hashlib.sha256()
    for name, col in zip(t.column_names, t.columns):
        arr = col.combine_chunks()
        h.update(f"{name}:{arr.type}:{len(arr)}".encode())
        h.update(np.asarray(arr.is_valid(), dtype=np.bool_).tobytes())
        if pa.types.is_string(arr.type) or pa.types.is_binary(arr.type):
            filled = pc.fill_null(arr.cast(pa.binary()), b"")
            offs = np.frombuffer(filled.buffers()[1], dtype=np.int32)[
                filled.offset: filled.offset + len(filled) + 1]
            h.update(np.diff(offs).tobytes())
            data = filled.buffers()[2]
            if data is not None and offs[-1] > offs[0]:
                h.update(memoryview(data)[offs[0]:offs[-1]])
        else:
            h.update(np.asarray(pc.fill_null(arr.cast(pa.int64()), 0)).tobytes())
    return h.hexdigest()


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def decode_blocks_dir(kern, blocks_dir: Path) -> pa.Table:
    """Decode every block group of an encoded dir on the driver, one block
    at a time with the engine's public kernels (xref columns after the
    column they reference). Independent of the Spark decode path."""
    tables = []
    for f in sorted(blocks_dir.glob("*.parquet")):
        t = pq.read_table(f, columns=["part_id", "block_id", "column", "header", "payload"])
        groups: dict[tuple, dict] = {}
        for pid, bid, col, hdr, pay in zip(*(c.to_pylist() for c in t.columns)):
            groups.setdefault((pid, bid), {})[col] = kern.EncodedBlock.from_parts(hdr, pay)
        for blks in groups.values():
            arrs: dict[str, pa.Array] = {}
            for c, b in sorted(blks.items(), key=lambda kv: kv[1].header["codec"] == "xref"):
                ref = b.header["params"]["ref"] if b.header["codec"] == "xref" else None
                arrs[c] = kern.decode_array(b, arrs[ref] if ref else None)
            tables.append(pa.table(arrs))
    return pa.concat_tables(tables)


# -- inputs ---------------------------------------------------------------------


def write_unit(ctx: Ctx, src: Path, index: int, start: int, rows: int) -> pa.Table:
    synth = ctx.mods["synth"]
    t = pa.Table.from_batches([synth.make_webpages_batch(ctx.seed, start, rows)])
    pq.write_table(t, src / f"unit-{index:04d}.parquet", row_group_size=ROW_GROUP_ROWS)
    return t


def generate_source(ctx: Ctx, src: Path) -> tuple[pa.Table, list[float]]:
    """Write the crawl units GEN_REPS times (same seed, same bytes) and
    return the table with each repetition's wall time."""
    times = []
    for _ in range(GEN_REPS):
        shutil.rmtree(src, ignore_errors=True)
        src.mkdir(parents=True)
        t0 = time.perf_counter()
        with ctx.tracer.span("synth", "make_webpages_batch"):
            parts = [write_unit(ctx, src, u, u * UNIT_ROWS, UNIT_ROWS) for u in range(N_UNITS)]
        times.append(time.perf_counter() - t0)
    return pa.concat_tables(parts).combine_chunks(), times


# -- the lookup mix ---------------------------------------------------------------


class Lookups:
    """Draws queries of the point-lookup mix from a seeded RNG, runs them
    against a blocks DataFrame and checks each answer against pyarrow over
    the source rows."""

    def __init__(self, ctx: Ctx, table: pa.Table, rng: np.random.Generator) -> None:
        self.ctx, self.rng = ctx, rng
        self.schema = table.schema
        self.set_table(table)

    def set_table(self, table: pa.Table) -> None:
        self.table = table
        self.urls = table.column("url")

    def _present_url(self) -> str:
        # a uniformly drawn row: its host follows the table's Zipf skew
        return self.urls[int(self.rng.integers(len(self.urls)))].as_py()

    def draw(self, kind: str):
        if kind == "eq_hit":
            return self._present_url()
        if kind == "eq_miss":  # same host as a present row, unused row id
            return self._present_url().rsplit("/", 1)[0] + f"/{10**9 + int(self.rng.integers(10**6))}.html"
        if kind == "prefix":
            return self._present_url().split(".example.com/")[0] + ".example.com/"
        if kind == "count":
            lang = self.table.column("lang")[int(self.rng.integers(len(self.urls)))].as_py()
            return lang or "en"
        if kind == "topk":
            return int(self.rng.integers(5, 50))
        return None

    def run(self, kind: str, blocks_fn) -> Op:
        arg = self.draw(kind)
        dec, insp = self.ctx.mods["decode"], self.ctx.mods["inspect"]
        span = self.ctx.tracer.span
        t0 = time.perf_counter()
        blocks = blocks_fn()
        if kind in ("eq_hit", "eq_miss", "prefix"):
            op = "prefix" if kind == "prefix" else "="
            with span("codec.decode", "decode_table_where", kind=kind):
                got = dec.decode_table_where(blocks, "url", op, arg, columns=LOOKUP_COLS).toArrow()
        elif kind == "count":
            with span("codec.inspect", "count_where_pushdown", kind=kind):
                got = insp.count_where_pushdown(blocks, "lang", "=", arg)["count"]
        elif kind == "freq":
            with span("codec.inspect", "frequency_pushdown", kind=kind):
                got = insp.frequency_pushdown(blocks, "lang").toArrow()
        else:
            with span("codec.decode", "decode_topk", kind=kind):
                got = dec.decode_topk(blocks, "url", arg, columns=SUBSET).toArrow()
        dt = time.perf_counter() - t0
        return Op(kind, dt, ok=self.check(kind, arg, got), detail=repr(arg))

    def _rows(self, mask, cols) -> pa.Table:
        return canonical(self.table.filter(mask).select(cols), self.schema_of(cols))

    def schema_of(self, cols) -> pa.Schema:
        return pa.schema([self.schema.field(c) for c in cols])

    def check(self, kind: str, arg, got) -> bool:
        url = self.urls
        if kind in ("eq_hit", "eq_miss", "prefix"):
            mask = pc.starts_with(url, arg) if kind == "prefix" else pc.equal(url, arg)
            want = self._rows(mask, LOOKUP_COLS)
            return digest(canonical(got, self.schema_of(LOOKUP_COLS))) == digest(want)
        if kind == "count":
            return got == int(pc.sum(pc.equal(self.table.column("lang"), arg)).as_py() or 0)
        if kind == "freq":
            want = self.table.group_by("lang").aggregate([([], "count_all")])
            w = dict(zip(want.column("lang").to_pylist(), want.column("count_all").to_pylist()))
            g = dict(zip(got.column(0).to_pylist(), got.column(1).to_pylist()))
            return g == w and len(g) == got.num_rows
        idx = pc.sort_indices(self.table, sort_keys=[("url", "descending")])[:arg]
        want = canonical(self.table.take(idx).select(SUBSET), self.schema_of(SUBSET))
        return got.num_rows == arg and digest(canonical(got, self.schema_of(SUBSET))) == digest(want)


# -- workloads ----------------------------------------------------------------------


class Workload:
    name = ""
    cycle = 1  # ops in one cycle of op kinds; a run holds whole cycles

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.base = ctx.work / self.name
        shutil.rmtree(self.base, ignore_errors=True)
        self.base.mkdir(parents=True)
        self.src = self.base / "src"

    def generate(self) -> float:
        self.table, times = generate_source(self.ctx, self.src)
        self.raw = self.table.nbytes
        return float(np.median(times))

    def encode(self, out: Path, **kw) -> float:
        enc = self.ctx.mods["encode"]
        t0 = time.perf_counter()
        enc.encode_parquet_dir(self.ctx.spark, str(self.src), str(out), **kw).collect()
        return time.perf_counter() - t0

    def setup(self) -> dict:
        """Build the inputs; returns the wall time of each setup part."""
        raise NotImplementedError

    def warmup(self) -> None:
        """Untimed preparation before the warm-up ops."""

    def kind(self, i: int) -> str:
        """The kind of op number i (fixed by i, so runs are comparable)."""
        raise NotImplementedError

    def op(self, i: int) -> Op:
        raise NotImplementedError

    def finish(self) -> int:
        """Check deferred outputs; returns the number of failed ops."""
        return 0

    def blocks(self):
        raise NotImplementedError

    def stored_ratio(self) -> float:
        raise NotImplementedError

    def describe(self) -> dict:
        return {"rows": self.table.num_rows, "raw_mb": round(self.raw / 1e6, 2),
                "units": N_UNITS, "block_groups": N_UNITS * UNIT_ROWS // ROW_GROUP_ROWS,
                "keys": "url unique per row, hosts Zipf(1.2) over 1000",
                "sink": "block files uncompressed, decoded parquet snappy"}


class BulkEncode(Workload):
    name = "bulk_encode"

    def setup(self) -> dict:
        self.outs: list[Path] = []
        return {"synth.gen_s": self.generate()}

    def kind(self, i: int) -> str:
        return "encode"

    def op(self, i: int) -> Op:
        out = self.base / "out" / f"op-{i:04d}"
        dt = self.encode(out)
        self.outs.append(out)
        return Op("encode", dt, self.raw, ok=None)

    def finish(self) -> int:
        """Decode every op's output on the driver with the engine's kernels
        and compare it with the source."""
        want = digest(canonical(self.table, self.table.schema))
        kern = self.ctx.mods["kernels"]
        failed = 0
        for out in self.outs:
            try:
                failed += digest(canonical(decode_blocks_dir(kern, out), self.table.schema)) != want
            except Exception:
                traceback.print_exc()
                failed += 1
        return failed

    def blocks(self):
        return self.ctx.spark.read.parquet(str(self.outs[-1]))

    def stored_ratio(self) -> float:
        return float(np.mean([dir_bytes(o) for o in self.outs])) / self.raw


class ScanDecode(Workload):
    name = "scan_decode"
    cycle = 2

    def setup(self) -> dict:
        gen = self.generate()
        self.enc = self.base / "enc"
        pre = self.encode(self.enc)
        return {"synth.gen_s": gen, "preencode_s": pre}

    def warmup(self) -> None:
        sub = pa.schema([self.table.schema.field(c) for c in SUBSET])
        self.want = {None: digest(canonical(self.table, self.table.schema)),
                     tuple(SUBSET): digest(canonical(self.table.select(SUBSET), sub))}
        self.schemas = {None: self.table.schema, tuple(SUBSET): sub}
        self.raw_of = {None: self.raw, tuple(SUBSET): self.table.select(SUBSET).nbytes}

    def kind(self, i: int) -> str:
        return "decode_all" if i % 2 == 0 else "decode_subset"

    def op(self, i: int) -> Op:
        cols = None if self.kind(i) == "decode_all" else SUBSET
        key = None if cols is None else tuple(cols)
        dec = self.ctx.mods["decode"]
        out = self.base / "dec" / f"op-{i}"
        t0 = time.perf_counter()
        with self.ctx.tracer.span("codec.decode", "decode_parquet_dir"):
            dec.decode_parquet_dir(self.ctx.spark, str(self.enc), str(out), columns=cols).collect()
        dt = time.perf_counter() - t0
        ok = digest(canonical(pq.read_table(out), self.schemas[key])) == self.want[key]
        shutil.rmtree(out, ignore_errors=True)
        return Op(self.kind(i), dt, self.raw_of[key], ok)

    def blocks(self):
        return self.ctx.spark.read.parquet(str(self.enc))

    def stored_ratio(self) -> float:
        return dir_bytes(self.enc) / self.raw


class PointLookup(Workload):
    name = "point_lookup"

    def setup(self) -> dict:
        gen = self.generate()
        self.enc = self.base / "enc"
        pre = self.encode(self.enc, bloom_columns=[f"url:{BLOOM_PREFIX}"])
        return {"synth.gen_s": gen, "preencode_s": pre}

    def warmup(self) -> None:
        self.lookups = Lookups(self.ctx, self.table, np.random.default_rng((self.ctx.seed, 1)))
        self._blocks = self.ctx.spark.read.parquet(str(self.enc))
        for kind in LOOKUP_KINDS:
            self.lookups.run(kind, self.blocks)

    def kind(self, i: int) -> str:
        return MIX[i % len(MIX)]

    def op(self, i: int) -> Op:
        return self.lookups.run(self.kind(i), self.blocks)

    def blocks(self):
        return self._blocks

    def stored_ratio(self) -> float:
        return dir_bytes(self.enc) / self.raw


class AppendRead(Workload):
    """Steps of one ``encode_resumable`` append (one new crawl unit, one
    snapshot) followed by LOOKUPS_PER_APPEND lookups on the latest
    snapshot."""

    name = "append_read"
    cycle = LOOKUPS_PER_APPEND + 1

    def setup(self) -> dict:
        gen = self.generate()
        self.out = self.base / "table"
        ckpt = self.ctx.mods["checkpoint"]
        t0 = time.perf_counter()
        ckpt.encode_resumable(self.ctx.spark, str(self.src), str(self.out))
        return {"synth.gen_s": gen, "preencode_s": time.perf_counter() - t0}

    def warmup(self) -> None:
        self.lookups = Lookups(self.ctx, self.table, np.random.default_rng((self.ctx.seed, 1)))
        self.appended = 0
        for kind in LOOKUP_KINDS:
            self.lookups.run(kind, self.blocks)

    def kind(self, i: int) -> str:
        step, pos = divmod(i, LOOKUPS_PER_APPEND + 1)
        return "append" if pos == 0 else MIX[(step * LOOKUPS_PER_APPEND + pos - 1) % len(MIX)]

    def op(self, i: int) -> Op:
        kind = self.kind(i)
        return self.append() if kind == "append" else self.lookups.run(kind, self.blocks)

    def append(self) -> Op:
        ckpt = self.ctx.mods["checkpoint"]
        start = N_UNITS * UNIT_ROWS + self.appended * APPEND_ROWS
        unit = write_unit(self.ctx, self.src, N_UNITS + self.appended, start, APPEND_ROWS)
        before = len(ckpt.snapshots(str(self.out)))
        t0 = time.perf_counter()
        res = ckpt.encode_resumable(self.ctx.spark, str(self.src), str(self.out))
        dt = time.perf_counter() - t0
        self.appended += 1
        self.table = pa.concat_tables([self.table, unit]).combine_chunks()
        self.raw += unit.nbytes
        self.lookups.set_table(self.table)
        ok = res["completed"] == 1 and len(ckpt.snapshots(str(self.out))) == before + 1
        return Op("append", dt, unit.nbytes, ok)

    def blocks(self):
        return self.ctx.mods["checkpoint"].read_blocks_at(self.ctx.spark, str(self.out))

    def stored_ratio(self) -> float:
        return dir_bytes(self.out) / self.raw


WORKLOADS = {w.name: w for w in (BulkEncode, ScanDecode, PointLookup, AppendRead)}
