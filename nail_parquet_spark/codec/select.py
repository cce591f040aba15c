"""Per-column codec auto-selection from sampled statistics + trial encodes.

Selection runs once per job, serially, on the driver, over a sampled
prefix of each column; the resulting ``{column: codec}`` table ships to
the encoder tasks with their closure. Two stages:
  1. cheap sampled stats (cardinality ratio, avg run length, byte entropy,
     sortedness) prune the candidate list per column kind;
  2. the surviving candidates trial-encode the sample; the winner minimizes
     encoded size, subject to the policy's throughput floor.

This replaces the reference's parquet writer-properties knobs
(/root/reference/src/commands/optimize.rs:126-135,185-198 — which it never
even applies, see :253-257) with measured, per-column decisions.

Policies:
  ratio    — smallest sample encoding wins, full stop
  balanced — smallest among candidates whose static speed class
             (``CODEC_SPEED_MBPS``) is >= the floor (default 40 MB/s/core).
             Only those candidates are trial-encoded; the slower ones are
             trialled, and the smallest of them wins, only if every
             floor-passing trial raised
  speed    — fastest candidate within 1.3x of the smallest
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from nail_parquet_spark.codec.kernels import encode_array, kind_of


@dataclass
class ColumnStats:
    n: int
    null_frac: float
    distinct_ratio: float
    avg_run_len: float
    byte_entropy: float  # bits/byte over value bytes (strings) or packed ints
    sorted_frac: float  # fraction of non-decreasing adjacent pairs (ints)
    avg_len: float  # strings/binary


def column_stats(arr: pa.Array) -> ColumnStats:
    n = len(arr)
    if n == 0:
        return ColumnStats(0, 0.0, 1.0, 1.0, 8.0, 0.0, 0.0)
    null_frac = arr.null_count / n
    kind = kind_of(arr.type)
    if kind == "list":
        # stats over the flattened child drive codec choice (the lens
        # stream is a few bits/row regardless of codec); avg_len is
        # re-based to bytes per TOP-LEVEL row so the trial-encode byte
        # budget slices the right number of list rows
        child = arr.flatten()
        st = column_stats(child.slice(0, 1 << 16))
        return ColumnStats(
            n=n,
            null_frac=null_frac,
            distinct_ratio=st.distinct_ratio,
            avg_run_len=st.avg_run_len,
            byte_entropy=st.byte_entropy,
            sorted_frac=st.sorted_frac,
            avg_len=raw_bytes_of(child) / n,
        )
    distinct = pc.count_distinct(arr).as_py() or 1
    distinct_ratio = distinct / n

    if kind == "int":
        from nail_parquet_spark.codec.kernels import _ints_of

        v, _ = _ints_of(arr)  # zero-filled int64; handles date32/bool views
        runs = 1 + int((v[1:] != v[:-1]).sum()) if n > 1 else 1
        sorted_frac = float((v[1:] >= v[:-1]).mean()) if n > 1 else 1.0
        byts = v.view(np.uint8)
        avg_len = 8.0
    elif kind == "float":
        v = np.asarray(arr.fill_null(0.0))
        runs = 1 + int((v[1:] != v[:-1]).sum()) if n > 1 else 1
        sorted_frac = 0.0
        byts = v.view(np.uint8)
        avg_len = v.itemsize
    else:
        from nail_parquet_spark.codec.kernels import _strbin_of

        offsets, data, _ = _strbin_of(arr)
        byts = np.frombuffer(data, dtype=np.uint8)
        avg_len = len(byts) / max(n, 1)
        # run length over value identity via offsets+hash of content: cheap
        # proxy — runs of equal consecutive string lengths AND bytes is rare
        # to fake; use arrow equality on shifted slice for exactness
        if n > 1:
            eq = pc.equal(arr.slice(0, n - 1), arr.slice(1, n - 1))
            neq = pc.fill_null(pc.invert(eq), True)
            runs = 1 + int(pc.sum(neq.cast(pa.int8())).as_py() or 0)
            # byte-lexicographic sortedness gates the front-coding (fc)
            # candidate: adjacent rows in a sorted/zordered url column
            # share long prefixes
            le = pc.fill_null(
                pc.less_equal(arr.slice(0, n - 1), arr.slice(1, n - 1)), False)
            sorted_frac = float(pc.mean(le.cast(pa.int8())).as_py() or 0.0)
        else:
            runs = 1
            sorted_frac = 1.0

    # byte entropy on a bounded slice
    bs = byts[: 1 << 16]
    if len(bs):
        counts = np.bincount(bs, minlength=256).astype(np.float64)
        p = counts[counts > 0] / len(bs)
        entropy = float(-(p * np.log2(p)).sum())
    else:
        entropy = 0.0

    return ColumnStats(
        n=n,
        null_frac=null_frac,
        distinct_ratio=distinct_ratio,
        avg_run_len=n / max(runs, 1),
        byte_entropy=entropy,
        sorted_frac=sorted_frac,
        avg_len=avg_len,
    )


def candidate_codecs(kind: str, st: ColumnStats) -> list[str]:
    cands: list[str] = []
    if kind == "int":
        if st.null_frac >= 0.5:
            # null-suppressed FOR: mostly-null columns stop paying width
            # bits per null slot (trial arbitrates vs rle/dict as usual)
            cands.append("sparse_for")
        if st.avg_run_len >= 3:
            cands.append("rle")
        if st.distinct_ratio <= 0.2:
            cands.append("dict")
        if st.sorted_frac >= 0.9:
            cands.append("delta_bitpack")
            # delta-of-delta: the trial keeps it only when second
            # differences genuinely pack tighter (near-regular steps)
            cands.append("dod_bitpack")
        cands.append("for_bitpack")
        cands.append("zstd")
    elif kind == "float":
        # ALP decimal transform first: wins big on business decimals
        # (prices, scores); the trial rejects it when the data is truly
        # high-entropy (exception list ~= plain + overhead)
        cands.append("alp")
        if st.distinct_ratio <= 0.2:
            cands.append("dict")  # bit-pattern dict: bit-exact (kernels.py)
        cands.append("bss")  # byte-plane split: wins where alp excepts out
        cands.append("zstd")
        if st.byte_entropy > 7.5:
            cands.append("plain")
    else:  # str/bin
        if st.avg_run_len >= 3:
            cands.append("rle")
        if st.distinct_ratio <= 0.5:
            cands.append("dict")
        if st.byte_entropy <= 6.5 and st.avg_len >= 4:
            cands.append("fsst")
        if st.avg_len >= 16:
            # word-dictionary coding: wins on natural-language text (small
            # token vocabulary); the trial rejects it when vocab explodes
            cands.append("wdict")
        if st.sorted_frac >= 0.7 and st.avg_len >= 8:
            # front coding: sorted-ish medium-width values (urls after a
            # sort/zorder layout) share long neighbor prefixes; the trial
            # rejects it when shared prefixes don't pay for the plens stream
            cands.append("fc")
        cands.append("lz4")     # ultra-speed tier: ~2x ratio at 250-700 MB/s
        cands.append("zstd:1")  # speed tier: ~2x zstd:3 for a few % size
        cands.append("zstd")
        cands.append("zstd:6")  # the reference's configured level (optimize.rs:22)
        cands.append("zstd:9")
        # max-ratio tier (reference compression menu, optimize.rs:47-108):
        # beats zstd:6 ~8% on web text at 3-15 MB/s encode — the balanced
        # policy's speed floor excludes it; 'ratio' policy and pinning reach it
        cands.append("brotli:9")
        if st.byte_entropy > 7.9:
            cands.append("plain")
    return cands


def raw_bytes_of(arr: pa.Array) -> int:
    kind = kind_of(arr.type)
    if kind == "int":
        return 8 * len(arr)
    if kind == "float":
        return arr.type.bit_width // 8 * len(arr)
    if kind == "list":  # child payload + 4-byte offsets (arrow list layout)
        return raw_bytes_of(arr.flatten()) + 4 * (len(arr) + 1)
    if kind == "other":  # fixed-width exotic (decimal128, ...): buffer size
        return int(arr.nbytes)
    tot = pc.sum(
        pc.binary_length(arr.fill_null("" if kind == "str" else b""))
    ).as_py()
    return int(tot or 0)


# deterministic per-codec encode-speed classes (MB/s/core, measured on this
# repo's kernels over web-text workloads; see BENCH/BASELINE.md). Used for
# the balanced/speed policy floors so codec choice never flaps with host
# noise — sizes (the other input) are already deterministic.
CODEC_SPEED_MBPS = {
    "plain": 500.0,
    "zstd:1": 180.0,
    "zstd": 110.0,
    "zstd:6": 45.0,
    "zstd:9": 25.0,
    "lz4": 300.0,
    "brotli:2": 60.0,
    "brotli": 25.0,      # level 5 default
    "brotli:9": 6.0,
    "gzip": 20.0,
    "dict": 80.0,
    "rle": 60.0,
    "for_bitpack": 130.0,
    "delta_bitpack": 130.0,
    "dod_bitpack": 125.0,
    "sparse_for": 140.0,
    "alp": 150.0,
    "bss": 160.0,  # byte transpose + zstd over mostly-skewed planes
    "fsst": 5.0,
    "wdict": 70.0,
    "fc": 45.0,  # measured on 128k-row sorted-url blocks (gathers dominate)
    # xref: C memmem match + zstd over the (much smaller) residual — the
    # effective rate is over the RAW value bytes, most of which are covered
    # by the reference and never touch the compressor
    "xref": 200.0,
}


def codec_speed(codec: str) -> float:
    if codec.startswith("xref"):
        return CODEC_SPEED_MBPS["xref"]
    if codec in CODEC_SPEED_MBPS:
        return CODEC_SPEED_MBPS[codec]
    # unlisted level variant ("brotli:5") -> the base codec's class
    return CODEC_SPEED_MBPS.get(codec.split(":", 1)[0], 50.0)


def choose_codec(
    sample: pa.Array, policy: str = "balanced", min_mbps: float = 40.0,
    trial_byte_budget: int = 1 << 21,
) -> tuple[str, ColumnStats]:
    """Pick a codec for a column given a sample of it."""
    kind = kind_of(sample.type)
    st = column_stats(sample)
    if st.n == 0:
        return "plain", st
    # cap trial-encode cost: slow codecs (fsst) on wide columns (html) would
    # otherwise dominate job setup
    if st.avg_len and st.n * st.avg_len > trial_byte_budget:
        sample = sample.slice(0, max(256, int(trial_byte_budget / st.avg_len)))
    if kind == "list":
        # candidates come from the LEAF element kind: the list kernel is
        # lens + the flattened child under the same codec name, so "alp"
        # on array<float> trials ALP over the embedded floats, etc.
        leaf = sample.type.value_type
        while kind_of(leaf) == "list":
            leaf = leaf.value_type
        lkind = kind_of(leaf)
        if lkind == "other":  # struct/decimal elements ride ipc_zstd anyway
            return "zstd", st
        cands = candidate_codecs(lkind, st)
    else:
        cands = candidate_codecs(kind, st)

    if policy in ("ratio", "speed"):
        # both compare against the globally smallest encoding
        results = _trial(sample, cands)
    else:
        # balanced: a speed class is static, so a below-floor candidate can
        # only win when no floor-passing one encodes — trial it only then
        results = (_trial(sample, [c for c in cands if codec_speed(c) >= min_mbps])
                   or _trial(sample, [c for c in cands if codec_speed(c) < min_mbps]))
    if not results:
        return "plain", st

    if policy == "speed":
        floor_size = min(r[1] for r in results) * 1.3
        ok = [r for r in results if r[1] <= floor_size]
        return max(ok, key=lambda r: r[2])[0], st
    # smallest wins; min() keeps the first of equal sizes (candidate order)
    return min(results, key=lambda r: r[1])[0], st


def _trial(sample: pa.Array, cands: list[str]) -> list[tuple[str, int, float]]:
    """(codec, encoded bytes, speed class) of each candidate that encodes."""
    results = []
    for c in cands:
        try:
            blk = encode_array(sample, c)
        except Exception:
            continue
        results.append((c, len(blk.payload), codec_speed(c)))
    return results


def _containment_frac(va: pa.Array, vb: pa.Array, probe: int = 64) -> float:
    """Fraction of probed rows where vb's bytes occur verbatim inside va's."""
    from nail_parquet_spark.codec.kernels import XREF_MIN_REF

    m = min(len(va), probe)
    hit = tot = 0
    for i in range(m):
        x = va[i].as_py()
        y = vb[i].as_py()
        if x is None or y is None:
            continue
        if isinstance(x, str):
            x = x.encode("utf-8")
        if isinstance(y, str):
            y = y.encode("utf-8")
        tot += 1
        if XREF_MIN_REF <= len(y) <= len(x) and x.find(y) >= 0:
            hit += 1
    return hit / tot if tot else 0.0


def xref_upgrade(
    arrs: dict[str, pa.Array],
    chosen: dict[str, str],
    policy: str = "balanced",
    upgradable: list[str] | None = None,
    trial_byte_budget: int = 1 << 21,
    min_containment: float = 0.5,
    min_mbps: float = 40.0,
) -> dict[str, str]:
    """Cross-column pass over an independent per-column selection: where a
    wide str/bin column embeds another column's bytes verbatim (web-archive
    shape: html embeds the extracted text), try ``xref:<ref>`` and keep it if
    the trial encoding is smaller than the chosen single-column codec.

    References must themselves stay non-xref (no chains) so any column
    subset decodes with at most one dependency hop. Only columns listed in
    ``upgradable`` (default: all) are rewritten — pinned codecs stay."""
    from nail_parquet_spark.codec.kernels import encode_array as _enc, xref_ref_of

    kinds = {c: kind_of(a.type) for c, a in arrs.items()}
    strbin = [c for c in arrs if kinds[c] in ("str", "bin") and len(arrs[c])]
    stats = {c: column_stats(arrs[c]) for c in strbin}
    candidates = upgradable if upgradable is not None else list(chosen)
    # columns already serving as someone's reference must stay non-xref —
    # upgrading one later (html→xref:text, then text→xref:title) would form
    # a chain the encoder rejects
    used_as_ref = {r for cd in chosen.values() if (r := xref_ref_of(cd))}
    for a in candidates:
        if (a not in strbin or chosen.get(a, "").startswith("xref")
                or a in used_as_ref):
            continue
        refs = [
            b for b in strbin
            if b != a
            and not chosen.get(b, "plain").startswith("xref")
            and stats[b].avg_len >= 8
            and stats[a].avg_len > stats[b].avg_len
        ]
        if not refs:
            continue
        ns = len(arrs[a])
        if stats[a].avg_len and ns * stats[a].avg_len > trial_byte_budget:
            ns = max(256, int(trial_byte_budget / stats[a].avg_len))
        sa = arrs[a].slice(0, ns)
        try:
            base_size = len(_enc(sa, chosen[a]).payload)
        except Exception:
            continue
        best = (chosen[a], base_size)
        # the residual is mostly template (compresses at any level) plus
        # incompressible noise — level barely moves size, so take the fast
        # level whenever the caller's floor rules out zstd:6-class speeds
        level = 1 if policy == "speed" or min_mbps > 45.0 else 6
        for b in refs:
            sb = arrs[b].slice(0, ns)
            if _containment_frac(sa, sb) < min_containment:
                continue
            cand = f"xref:{b}:{level}"
            try:
                blk = _enc(sa, cand, ref_arr=sb)
            except Exception:
                continue
            if blk.header["params"]["n_matched"] < min_containment * len(sa):
                continue
            if len(blk.payload) < best[1]:
                best = (cand, len(blk.payload))
        chosen[a] = best[0]
        ref = xref_ref_of(best[0])
        if ref:
            used_as_ref.add(ref)
    return chosen


def choose_codecs(
    arrs: dict[str, pa.Array],
    missing: list[str],
    pinned: dict[str, str],
    policy: str = "balanced",
    min_mbps: float = 40.0,
) -> dict[str, str]:
    """The per-job selection pass: ``choose_codec`` for every ``missing``
    column's sample in ``arrs``, then ``xref_upgrade`` over those choices.

    ``pinned`` codecs are kept as given; pinned str/bin columns whose
    samples are in ``arrs`` may serve as xref references. Returns the pinned
    codecs plus one codec per missing column."""
    chosen = dict(pinned)
    for c in missing:
        chosen[c] = choose_codec(arrs[c], policy=policy, min_mbps=min_mbps)[0]
    return xref_upgrade(arrs, chosen, policy=policy, min_mbps=min_mbps,
                        upgradable=list(missing))
