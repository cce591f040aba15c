"""Distributed encode stage: DataFrame -> encoded-blocks DataFrame.

One output row per (partition, block, column) — the Spark-native analogue of
a parquet column chunk plus its footer metadata entry (what `nail metadata
--column-chunks` dumps, /root/reference/src/commands/metadata.rs:217-273),
except blocks are first-class queryable data.

All encoding happens inside ``mapInArrow`` (Arrow batches end-to-end, no
per-row Python). Codec choice is made once per job, on the driver, from a
sampled prefix (``select.choose_codecs``) and shipped to every encoder task,
or forced via the ``codecs`` override — the analogue of `nail optimize
--compression/--dictionary` knobs (/root/reference/src/commands/optimize.rs:34-40).
"""

from __future__ import annotations

import datetime as _dt_mod
import re as _re_mod

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

from nail_parquet_spark.codec.bloom import parse_bloom_spec as _parse_bloom
from nail_parquet_spark.codec.kernels import encode_array, kind_of, xref_ref_of
from nail_parquet_spark.codec.select import choose_codecs, raw_bytes_of
# perfbench/trace.py wraps these two names on this module
from nail_parquet_spark.codec.select import choose_codec, xref_upgrade  # noqa: F401

# canonical block-table columns; the DDL derives from this list so callers
# (compaction, tests) never string-parse the schema
BLOCKS_COLUMNS = [
    ("part_id", "int"), ("block_id", "bigint"), ("column", "string"),
    ("codec", "string"), ("n_rows", "bigint"), ("raw_bytes", "bigint"),
    ("enc_bytes", "bigint"), ("null_count", "bigint"), ("min_val", "string"),
    ("max_val", "string"), ("distinct_est", "bigint"), ("header", "string"),
    ("payload", "binary"), ("bloom", "binary"),
]
BLOCKS_SCHEMA = ", ".join(f"{n} {t}" for n, t in BLOCKS_COLUMNS)


def _stat_strings(arr: pa.Array) -> tuple[str | None, str | None, int]:
    kind = kind_of(arr.type)
    sample = arr.slice(0, 8192)
    try:
        distinct = int(pc.count_distinct(sample).as_py() or 0)
    except Exception:
        distinct = -1
    if kind in ("bin", "list") or len(arr) == arr.null_count:
        return None, None, distinct
    try:
        mm = pc.min_max(arr)
        mn_v, mx_v = mm["min"].as_py(), mm["max"].as_py()
        if kind == "float":
            nan_mask = pc.is_nan(arr)
            if pc.any(nan_mask).as_py():
                # arrow min_max skips NaN, but Spark/DuckDB order NaN
                # LARGEST: the exact max of a NaN-bearing block is NaN, and
                # the exact min is the non-NaN min — or NaN when every
                # non-null value is NaN (arrow then reports the +inf/-inf
                # identity elements, not the data). try_cast('nan' AS
                # double) parses back, so zone pruning and stats pushdown
                # stay exact.
                mx_v = float("nan")
                n_real = len(arr) - arr.null_count - pc.sum(nan_mask).as_py()
                if n_real == 0:
                    mn_v = float("nan")
        if mn_v is None or mx_v is None:
            return None, None, distinct
        return (
            str(mn_v)[:64],
            str(mx_v)[:64],
            distinct,
        )
    except Exception:
        return None, None, distinct


def _sum_string(arr: pa.Array) -> "str | None":
    """Exact per-block SUM stamped into the block header (key ``zsum``) so
    SUM/AVG join count/min/max in the no-payload-scan aggregate pushdown
    (codec/inspect.column_stats_pushdown ``with_sum``).

    Integers sum in arbitrary precision: the int64 values split into
    high/low 32-bit halves whose numpy partial sums cannot overflow for
    any block under 2^30 rows, then recombine as Python ints — the stored
    decimal string is the true sum, never a wrapped one. Floats carry
    arrow's pairwise sum (deterministic for the block's content; merged
    float sums are summation-order-defined, documented at the read side).
    Non-numeric kinds return None; all-null blocks store the SUM identity
    (0), which is correct because the reader nulls the global sum when the
    non-null count is zero."""
    t = arr.type
    if pa.types.is_integer(t):
        v = np.asarray(arr.drop_null(), dtype=np.int64)
        if v.size == 0:
            return "0"
        hi = int((v >> 32).sum(dtype=np.int64))
        lo = int((v & 0xFFFFFFFF).sum(dtype=np.int64))
        return str((hi << 32) + lo)
    if pa.types.is_floating(t):
        s = pc.sum(arr).as_py()
        return repr(float(s)) if s is not None else "0.0"
    return None


def choose_codecs_for_df(
    df: DataFrame, columns: list[str], policy: str = "balanced",
    sample_rows: int = 8192, min_mbps: float = 40.0,
    pinned: dict[str, str] | None = None,
) -> dict[str, str]:
    """One driver-side sampled selection pass -> codec decision table,
    broadcast to all encoder tasks (SURVEY.md §4.3 'codec auto-selector').

    Selecting once per job (not once per partition) keeps trial-encode cost
    out of the hot path — at 1000 executors the alternative is 1000
    redundant trial encodes per column.

    ``pinned`` columns keep their caller-forced codec but ARE sampled (only
    the str/bin ones — other kinds can't be references) so the xref upgrade
    may reference them. Returns choices for ``columns`` only."""
    pinned = dict(pinned or {})
    ref_candidates = [
        c for c, t in df.select(*pinned).dtypes
        if t in ("string", "binary")
    ] if pinned else []
    allc = list(columns) + [c for c in ref_candidates if c not in columns]
    sample = df.select(*allc).limit(sample_rows).toArrow()
    arrs = {c: sample.column(c).combine_chunks() for c in allc}
    out = choose_codecs(arrs, columns, {c: pinned[c] for c in ref_candidates},
                        policy=policy, min_mbps=min_mbps)
    return {c: out[c] for c in columns}


def _validate_codecs(chosen: dict[str, str], cols: list[str]) -> None:
    """xref codecs must reference another encoded, non-xref column (the
    reference must decode independently — no chains, no cycles)."""
    for c, codec in chosen.items():
        ref = xref_ref_of(codec)
        if ref is None:
            continue
        if ref not in cols:
            raise ValueError(
                f"column {c!r} uses codec {codec!r} but reference column "
                f"{ref!r} is not among the encoded columns {sorted(cols)}"
            )
        if xref_ref_of(chosen.get(ref, "plain")):
            raise ValueError(
                f"xref chain: {c!r} references {ref!r} which is itself "
                f"xref-encoded ({chosen[ref]!r}) — references must use an "
                "independent codec"
            )


def encode_table(
    df: DataFrame,
    columns: list[str] | None = None,
    codecs: dict[str, str] | None = None,
    policy: str = "balanced",
    sample_rows: int = 8192,
    block_rows: int = 65536,
    with_stats: bool = True,
    bloom_columns: "list[str] | None" = None,
) -> DataFrame:
    """Encode selected columns of ``df`` into a blocks DataFrame.

    ``bloom_columns``: opt-in per-block bloom bitmaps for equality
    pushdown (codec/bloom.py); str/int columns only. "col:<P>" entries
    (or a {col: P} dict) also insert P-byte prefix keys for string-prefix
    pushdown."""
    cols = columns or df.columns
    bloom_cols = _parse_bloom(bloom_columns)
    bad = [c for c in bloom_cols if c not in cols]
    if bad:
        raise ValueError(f"bloom_columns not among encoded columns: {bad}")
    chosen = dict(codecs or {})
    missing = [c for c in cols if c not in chosen]
    if missing:
        chosen.update(choose_codecs_for_df(
            df, missing, policy, sample_rows,
            pinned={c: v for c, v in chosen.items() if c in cols},
        ))
    _validate_codecs(chosen, cols)
    proj = df.select(*cols)

    def enc(batches):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        block_id = 0

        def chunks():
            # coalesce small scan batches into full blocks, slice big ones
            pending: list[pa.RecordBatch] = []
            n_pending = 0
            for batch in batches:
                pending.append(batch)
                n_pending += batch.num_rows
                if n_pending >= block_rows:
                    tbl = pa.Table.from_batches(pending).combine_chunks()
                    for off in range(0, tbl.num_rows - block_rows + 1, block_rows):
                        yield tbl.slice(off, block_rows)
                    rem = tbl.num_rows % block_rows
                    if rem:
                        tail = tbl.slice(tbl.num_rows - rem)
                        pending = tail.to_batches()
                        n_pending = rem
                    else:
                        pending, n_pending = [], 0
            if n_pending:
                yield pa.Table.from_batches(pending).combine_chunks()

        for chunk in chunks():
            yield _encode_chunk(chunk, cols, chosen, with_stats, pid, block_id,
                                bloom_cols=bloom_cols)
            block_id += 1

    return proj.mapInArrow(enc, schema=BLOCKS_SCHEMA)


def _encode_chunk(chunk, cols, chosen, with_stats, pid, block_id,
                  executor=None, bloom_cols=()) -> pa.RecordBatch:
    """Encode one row chunk (pa.Table or RecordBatch) into block rows.

    ``executor`` (a ThreadPoolExecutor) overlaps per-column encodes —
    pyarrow's zstd releases the GIL, measured ~1.9x on the web table's
    html+text pair. Only pass one when the task owns >1 core
    (spark.task.cpus); with 1-core tasks threads oversubscribe the executor.

    ``bloom_cols``: columns that get a per-block bloom bitmap (equality
    pushdown, codec/bloom.py) — opt-in, str/int columns only.
    """
    out = {k: [] for k in (
        "part_id", "block_id", "column", "codec", "n_rows",
        "raw_bytes", "enc_bytes", "null_count", "min_val",
        "max_val", "distinct_est", "header", "payload", "bloom")}

    def _arr_of(cname):
        arr = chunk.column(chunk.schema.get_field_index(cname))
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        return arr

    arrs = {c: _arr_of(c) for c in cols}

    def _enc_one(c):
        ref = xref_ref_of(chosen[c])
        if ref is None:
            return encode_array(arrs[c], chosen[c])
        return encode_array(arrs[c], chosen[c], ref_arr=arrs[ref])

    if executor is not None:
        blks = dict(zip(cols, executor.map(_enc_one, cols)))
    else:
        blks = None
    for cname in cols:
        arr = arrs[cname]
        blk = blks[cname] if blks is not None else _enc_one(cname)
        if with_stats:
            mn, mx, dist = _stat_strings(arr)
            zs = _sum_string(arr)
            if zs is not None:
                blk.header["zsum"] = zs  # before header_json below
        else:
            mn = mx = None
            dist = -1
        out["part_id"].append(pid)
        out["block_id"].append(block_id)
        out["column"].append(cname)
        out["codec"].append(blk.header["codec"])
        out["n_rows"].append(chunk.num_rows)
        out["raw_bytes"].append(raw_bytes_of(arr))
        out["enc_bytes"].append(len(blk.payload) + len(blk.header_json()))
        out["null_count"].append(arr.null_count)
        out["min_val"].append(mn)
        out["max_val"].append(mx)
        out["distinct_est"].append(dist)
        out["header"].append(blk.header_json())
        out["payload"].append(blk.payload)
        if cname in bloom_cols:
            from nail_parquet_spark.codec.bloom import bloom_build

            plen, nlen = _parse_bloom(bloom_cols).get(cname) or (None, None)
            out["bloom"].append(
                bloom_build(arr, prefix_len=plen, ngram_len=nlen))
        else:
            out["bloom"].append(None)
    return pa.record_batch(
        [
            pa.array(out["part_id"], pa.int32()),
            pa.array(out["block_id"], pa.int64()),
            pa.array(out["column"], pa.string()),
            pa.array(out["codec"], pa.string()),
            pa.array(out["n_rows"], pa.int64()),
            pa.array(out["raw_bytes"], pa.int64()),
            pa.array(out["enc_bytes"], pa.int64()),
            pa.array(out["null_count"], pa.int64()),
            pa.array(out["min_val"], pa.string()),
            pa.array(out["max_val"], pa.string()),
            pa.array(out["distinct_est"], pa.int64()),
            pa.array(out["header"], pa.string()),
            pa.array(out["payload"], pa.binary()),
            pa.array(out["bloom"], pa.binary()),
        ],
        names=list(out.keys()),
    )


def _hive_partition_values(rel_dir: str) -> dict[str, "str | None"]:
    """Parse ``key=value`` directory segments the way spark.read.parquet
    does: URL-decoding values and mapping the __HIVE_DEFAULT_PARTITION__
    sentinel to NULL. Hidden/_-prefixed segments are never partitions."""
    import os as _os
    from urllib.parse import unquote as _unquote

    out: dict[str, str | None] = {}
    for seg in rel_dir.split(_os.sep):
        if "=" in seg and not seg.startswith((".", "_")):
            k, v = seg.split("=", 1)
            out[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else _unquote(v)
    return out


_PART_LONG_RE = _re_mod.compile(r"^[+-]?\d+$")
_PART_DOUBLE_RE = _re_mod.compile(r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$")
_PART_DATE_RE = _re_mod.compile(r"^\d{4}-\d{2}-\d{2}$")


def _infer_partition_type(values) -> str:
    """Spark-parity partition value type inference over ALL of a key's
    directory values (PartitioningUtils' long -> decimal -> double -> date
    chain, Spark-parity tested vs spark.read.parquet): every literal must
    match a STRICT pinned regex — Python's looser ``int()``/``float()``
    would accept underscores ('1_5' -> 15), whitespace and 'inf'/'nan',
    silently rewriting directory strings (ADVICE r4). Integer literals
    overflowing int64 become decimal(p,0) with p = max digit count, exactly
    as Spark does; >38 digits falls to string (never a lossy double).
    Returns 'long' | 'decimal(p,0)' | 'double' | 'date' | 'string'.

    Pinned divergences from Spark (both lossless fall-to-string or
    stricter): 'Infinity'/'NaN' literals type string here (Spark: double);
    scientific-notation integers like '1E5' type double here (Spark:
    decimal via BigDecimal scale rules); timestamps fall to string.
    All-NULL keys stay string."""
    vals = [v for v in values if v is not None]
    if not vals:
        return "string"
    if all(_PART_LONG_RE.match(v) for v in vals):
        if all(-(2**63) <= int(v) < 2**63 for v in vals):
            return "long"
        digits = max(len(v.lstrip("+-").lstrip("0") or "0") for v in vals)
        return f"decimal({digits},0)" if digits <= 38 else "string"
    if all(_PART_DOUBLE_RE.match(v) for v in vals):
        return "double"
    if all(_PART_DATE_RE.match(v) for v in vals):
        try:
            for v in vals:
                _dt_mod.date.fromisoformat(v)
            return "date"
        except ValueError:
            return "string"
    return "string"


def _plan_parquet_encode(spark, path, columns, codecs, policy, sample_rows,
                         num_partitions):
    """Shared planning for the scan-side encode paths: enumerate
    (file, row-group) work items, pick codecs from one sampled row group,
    and build the work-items DataFrame.

    Hive-partitioned layouts (``key=value`` directory segments between the
    input root and the files) are MATERIALIZED: each partition column
    becomes a per-file constant column in the encode, matching
    spark.read.parquet's behavior (ADVICE r3 — the footer-based reader
    would otherwise silently drop them), typed by directory-wide value
    inference (long/double/string — see ``_infer_partition_type``; Spark's
    decimal/date branches fall through to string). Inference looks at the
    key=value directories actually listed in THIS call, so passing an
    explicit file subset (e.g. one resume batch) never parses partitions
    at all — only dir inputs do.

    Returns (items_df, all_cols, chosen, part_info) where part_info is
    (part_cols, {file_path: {key: value}}, {key: type}), empty for flat
    layouts."""
    import os as _os

    import pyarrow.parquet as _pq

    from nail_parquet_spark.sources.io import list_parquet_files

    paths = []
    part_vals: dict[str, dict[str, str | None]] = {}
    part_keys: set[str] = set()
    for p in [path] if isinstance(path, str) else list(path):
        if _os.path.isdir(p):
            # recursive, matching decode/autodetect conventions;
            # hidden/_-prefixed segments (_temporary leftovers, _manifests)
            # are skipped the way Spark's own reader skips them
            root = _os.path.abspath(p)
            for f in list_parquet_files(p):
                paths.append(f)
                rel_dir = _os.path.dirname(_os.path.relpath(_os.path.abspath(f), root))
                vals = _hive_partition_values(rel_dir)
                if vals:
                    part_vals[f] = vals
                    part_keys.update(vals)
        else:
            paths.append(p)
    if not paths:
        raise ValueError(f"no parquet files under {path}")
    part_cols = sorted(part_keys)

    # work items: one per row group (bounded task size regardless of file size)
    items = []
    for p in paths:
        md = _pq.ParquetFile(p).metadata
        for rg in range(md.num_row_groups):
            items.append((p, rg))

    first = _pq.ParquetFile(paths[0])
    if columns:
        all_cols = list(columns)
        part_cols = [c for c in part_cols if c in all_cols]
    else:
        all_cols = [
            first.schema_arrow.field(i).name for i in range(len(first.schema_arrow))
        ] + part_cols
    part_types = {
        k: _infer_partition_type([kv.get(k) for kv in part_vals.values()])
        for k in part_cols
    }
    empty_input = not items  # legal: a fully-filtered corpus writes a
    # 0-row-group parquet file; encode then produces an empty block table
    # (no sampling possible, codec choice moot — pin the generic fallback)
    chosen = dict(codecs or {})
    for c in part_cols:
        # per-file constants: rle is optimal and needs no sampling (float
        # kind has no rle kernel — zstd over the constant runs instead;
        # decimal has no typed kernel at all and rides the ipc_zstd
        # fallback, for which any requested codec is a no-op)
        chosen.setdefault(c, "zstd" if part_types[c] == "double" else "rle")
    missing = [c for c in all_cols if c not in chosen]
    if missing and empty_input:
        for c in missing:
            chosen[c] = "zstd"
        missing = []
    if missing:
        # sample the unpinned columns plus any str/bin PINNED columns (the
        # xref upgrade may reference a pinned column as its
        # decode-independent ref; other kinds can never be references, so
        # reading them would be wasted planning I/O)
        schema = first.schema_arrow
        pinned_refs = [
            c for c in all_cols
            if c not in missing and c not in part_cols and (
                pa.types.is_string(schema.field(c).type)
                or pa.types.is_large_string(schema.field(c).type)
                or pa.types.is_binary(schema.field(c).type)
                or pa.types.is_large_binary(schema.field(c).type)
            )
        ]
        sample_cols = missing + pinned_refs
        sample = first.read_row_group(0, columns=sample_cols)
        arrs = {
            c: sample.column(c).combine_chunks().slice(0, sample_rows)
            for c in sample_cols
        }
        chosen = choose_codecs(arrs, missing, chosen, policy=policy)
    _validate_codecs(chosen, all_cols)

    # num_partitions pins job parallelism (concurrent tasks) independently of
    # the session master — the scaling bench uses it to run the same job at
    # two parallelism levels inside one JVM. Round-robin the items across
    # slices via parallelize (no repartition = no extra shuffle stage; a
    # fixed per-job stage taxes the high-parallelism level relatively more).
    if empty_input:
        items_df = spark.createDataFrame([], "path string, rg int")
    else:
        n_parts = num_partitions or min(len(items), spark.sparkContext.defaultParallelism * 4)
        slices = [items[i::n_parts] for i in range(min(n_parts, len(items)))]
        rdd = spark.sparkContext.parallelize(slices, len(slices)).flatMap(lambda s: s)
        items_df = spark.createDataFrame(rdd, "path string, rg int")
    # keep only the (file -> value) entries for materialized columns so the
    # task closure stays O(files x partition depth)
    part_info = (part_cols,
                 {f: {k: v for k, v in kv.items() if k in part_cols}
                  for f, kv in part_vals.items()} if part_cols else {},
                 {k: t for k, t in part_types.items() if k in part_cols})
    return items_df, all_cols, chosen, part_info


def _with_partition_columns(tbl: "pa.Table", file_path: str,
                            part_info) -> "pa.Table":
    """Append the file's Hive partition values as constant columns typed by
    the directory-wide inference (long/decimal/double/date/string, matching
    spark.read.parquet's partitionColumnTypeInference; NULL for files that
    lack a key — mixed layouts)."""
    part_cols, part_vals, part_types = part_info
    if not part_cols:
        return tbl
    vals = part_vals.get(file_path, {})
    n = tbl.num_rows
    for k in part_cols:
        v = vals.get(k)
        t = part_types.get(k, "string")
        if t == "long":
            arr = pa.array([None if v is None else int(v)] * n, pa.int64())
        elif t == "double":
            arr = pa.array([None if v is None else float(v)] * n, pa.float64())
        elif t.startswith("decimal("):
            prec = int(t[len("decimal("):-1].split(",")[0])
            arr = pa.array([None if v is None else int(v)] * n,
                           pa.decimal128(prec, 0))
        elif t == "date":
            d = None if v is None else _dt_mod.date.fromisoformat(v)
            arr = pa.array([d] * n, pa.date32())
        else:
            arr = pa.array([v] * n, pa.string())
        tbl = tbl.append_column(k, arr)
    return tbl


def encode_parquet_files(
    spark,
    path: str | list[str],
    columns: list[str] | None = None,
    codecs: dict[str, str] | None = None,
    policy: str = "balanced",
    sample_rows: int = 8192,
    block_rows: int = 65536,
    with_stats: bool = True,
    num_partitions: int | None = None,
    encode_threads: int = 1,
    bloom_columns: "list[str] | None" = None,
) -> DataFrame:
    """Scan-side encode: tasks read parquet ROW GROUPS directly with the
    pyarrow C++ reader and encode in place.

    Why this exists: ``encode_table`` pays the JVM columnar->Arrow->socket
    conversion for every raw byte (measured ~5 MB/s/core on binary-heavy
    columns — the pandas-UDF tax). For the encode pipeline the kernels
    consume Arrow natively, so shipping raw data through the JVM buys
    nothing. Here Spark schedules (path, row-group) work items (locality,
    retries, speculation still apply); only the compact encoded blocks cross
    the JVM boundary. This is the same pattern Petastorm/Ray datasets use,
    and it's how the pipeline would front an Iceberg table at 100 TB: the
    work items come from the table's file manifest.
    """
    items_df, all_cols, chosen, part_info = _plan_parquet_encode(
        spark, path, columns, codecs, policy, sample_rows, num_partitions
    )
    file_cols = [c for c in all_cols if c not in part_info[0]]
    import pyarrow.parquet as _pq

    def enc(batches):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        block_id = 0
        pool = None
        if encode_threads > 1:
            from concurrent.futures import ThreadPoolExecutor

            pool = ThreadPoolExecutor(encode_threads)
        try:
            for batch in batches:
                for p, rg in zip(batch.column(0).to_pylist(), batch.column(1).to_pylist()):
                    # use_threads=False: a Spark task owns ONE core;
                    # pyarrow's default pool would oversubscribe the executor
                    # (and fake the 1-task baseline in scaling measurements)
                    tbl = _pq.ParquetFile(p).read_row_group(
                        rg, columns=file_cols, use_threads=False
                    )
                    tbl = _with_partition_columns(tbl, p, part_info)
                    for off in range(0, tbl.num_rows, block_rows):
                        chunk = tbl.slice(off, min(block_rows, tbl.num_rows - off))
                        yield _encode_chunk(chunk, all_cols, chosen, with_stats, pid, block_id,
                                            executor=pool, bloom_cols=_parse_bloom(bloom_columns))
                        block_id += 1
        finally:
            if pool is not None:
                pool.shutdown(wait=False)

    return items_df.mapInArrow(enc, schema=BLOCKS_SCHEMA)


MANIFEST_SCHEMA = (
    "file string, part_id int, n_blocks bigint, n_rows bigint, "
    "raw_bytes bigint, enc_bytes bigint, columns string, "
    "wall_s double, mbps double, ratio double"
)


def encode_parquet_dir(
    spark,
    path: str | list[str],
    out_dir: str,
    columns: list[str] | None = None,
    codecs: dict[str, str] | None = None,
    policy: str = "balanced",
    sample_rows: int = 8192,
    block_rows: int = 65536,
    with_stats: bool = True,
    num_partitions: int | None = None,
    compression: str = "none",
    encode_threads: int = 1,
    bloom_columns: "list[str] | None" = None,
) -> DataFrame:
    """Scan-side encode with a PYTHON-side parquet sink, all in ONE task
    function: each task reads its (file, row-group) work items with the C++
    reader, encodes, and writes the block rows straight to its own parquet
    file — the mirror of ``decode_parquet_dir``. Zero shuffle and zero raw
    OR encoded bytes crossing the Python->JVM boundary: only a per-task
    lineage manifest row (file, rows, bytes) returns. This is the production
    sink path for the 100-TB pipeline; the per-task manifests are the
    Iceberg-commit-shaped lineage records, and group-complete block files
    feed the shuffle-free ``decode_parquet_dir``.

    Container ``compression`` defaults to none: payloads are already
    codec-compressed, so a container codec only burns CPU re-compressing
    incompressible bytes."""
    import os as _os

    import pyarrow.parquet as _pq

    items_df, all_cols, chosen, part_info = _plan_parquet_encode(
        spark, path, columns, codecs, policy, sample_rows, num_partitions
    )
    file_cols = [c for c in all_cols if c not in part_info[0]]
    _os.makedirs(out_dir, exist_ok=True)

    def enc_sink(batches):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        tid = ctx.partitionId() if ctx is not None else 0
        att = ctx.attemptNumber() if ctx is not None else 0
        out_path = _os.path.join(out_dir, f"blocks-{tid:05d}.parquet")
        # write to an attempt-unique temp name, rename on success: Spark's
        # task-commit protocol doesn't cover files we write ourselves, so a
        # speculative/zombie duplicate attempt must never interleave writes
        # into the final file (os.replace is atomic; duplicate attempts
        # produce identical content, last rename wins)
        tmp_path = _os.path.join(out_dir, f".blocks-{tid:05d}.attempt-{att}.inprogress")
        # clean temps left by STRICTLY OLDER attempts of this partition:
        # a concurrent duplicate attempt (speculation/zombie) must never have
        # its live temp unlinked by this one, and a late-waking zombie
        # (lower attempt number) must never unlink the tracked retry's file
        import glob as _glob2
        import re as _re2

        for stale in _glob2.glob(_os.path.join(out_dir, f".blocks-{tid:05d}.attempt-*.inprogress")):
            m = _re2.search(r"attempt-(\d+)\.inprogress$", stale)
            if m and int(m.group(1)) < att:
                try:
                    _os.remove(stale)
                except OSError:
                    pass
        import time as _time

        t0 = _time.time()
        pool = None
        if encode_threads > 1:
            from concurrent.futures import ThreadPoolExecutor

            pool = ThreadPoolExecutor(encode_threads)
        writer = None
        block_id = 0
        n_blocks = n_rows = raw = enc_b = 0
        try:
            for batch in batches:
                for p, rg in zip(batch.column(0).to_pylist(), batch.column(1).to_pylist()):
                    tbl = _pq.ParquetFile(p).read_row_group(
                        rg, columns=file_cols, use_threads=False
                    )
                    tbl = _with_partition_columns(tbl, p, part_info)
                    for off in range(0, tbl.num_rows, block_rows):
                        chunk = tbl.slice(off, min(block_rows, tbl.num_rows - off))
                        rb = _encode_chunk(chunk, all_cols, chosen, with_stats, tid, block_id,
                                           executor=pool, bloom_cols=_parse_bloom(bloom_columns))
                        block_id += 1
                        if writer is None:
                            writer = _pq.ParquetWriter(tmp_path, rb.schema, compression=compression)
                        writer.write_batch(rb)
                        n_blocks += rb.num_rows
                        n_rows += chunk.num_rows
                        raw += sum(rb.column("raw_bytes").to_pylist())
                        enc_b += sum(rb.column("enc_bytes").to_pylist())
        finally:
            if pool is not None:
                pool.shutdown(wait=False)
        if writer is not None:
            writer.close()
            _os.replace(tmp_path, out_path)
            wall = _time.time() - t0
            yield pa.record_batch(
                [
                    pa.array([out_path]),
                    pa.array([tid], pa.int32()),
                    pa.array([n_blocks], pa.int64()),
                    pa.array([n_rows], pa.int64()),
                    pa.array([raw], pa.int64()),
                    pa.array([enc_b], pa.int64()),
                    pa.array([",".join(sorted(all_cols))]),
                    pa.array([round(wall, 3)], pa.float64()),
                    pa.array([round(raw / wall / 1e6, 2) if wall else 0.0], pa.float64()),
                    pa.array([round(raw / enc_b, 4) if enc_b else 0.0], pa.float64()),
                ],
                names=["file", "part_id", "n_blocks", "n_rows", "raw_bytes",
                       "enc_bytes", "columns", "wall_s", "mbps", "ratio"],
            )

    return items_df.mapInArrow(enc_sink, schema=MANIFEST_SCHEMA)
