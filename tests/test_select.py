"""Codec auto-selection: the balanced policy trials only the candidates its
speed floor admits, and still picks exactly what an exhaustive trial of
every candidate would."""
import numpy as np
import pyarrow as pa
import pytest

from nail_parquet_spark.codec import select
from nail_parquet_spark.codec.kernels import encode_array, kind_of
from nail_parquet_spark.codec.select import (candidate_codecs, choose_codec,
                                             choose_codecs, codec_speed,
                                             column_stats)
from nail_parquet_spark.synth import make_webpages_batch

SEEDS = (3, 7, 11)


def exhaustive_balanced(sample, min_mbps=40.0, trial_byte_budget=1 << 21):
    """Reference rule: trial-encode every candidate, then keep the smallest
    one whose speed class passes the floor, else the smallest of all."""
    st = column_stats(sample)
    if st.n == 0:
        return "plain"
    if st.avg_len and st.n * st.avg_len > trial_byte_budget:
        sample = sample.slice(0, max(256, int(trial_byte_budget / st.avg_len)))
    results = []
    for c in candidate_codecs(kind_of(sample.type), st):
        try:
            blk = select.encode_array(sample, c)
        except Exception:
            continue
        results.append((c, len(blk.payload), codec_speed(c)))
    if not results:
        return "plain"
    by_size = sorted(results, key=lambda r: r[1])
    fast = [r for r in by_size if r[2] >= min_mbps]
    return (fast or by_size)[0][0]


@pytest.fixture(scope="module")
def web_batches():
    return {s: make_webpages_batch(s, 0, 2048) for s in SEEDS}


@pytest.fixture
def trials(monkeypatch):
    """Codecs trial-encoded through ``select.encode_array``, in call order."""
    seen = []
    real = select.encode_array

    def counting(arr, codec, *a, **kw):
        seen.append(codec)
        return real(arr, codec, *a, **kw)

    monkeypatch.setattr(select, "encode_array", counting)
    return seen


def _low_entropy_strings(n=2048):
    rng = np.random.default_rng(5)
    words = ["alpha", "beta", "gamma", "delta", "omega", "sigma"]
    return pa.array([" ".join(rng.choice(words, 6)) + f" #{i}" for i in range(n)])


@pytest.mark.parametrize("seed", SEEDS)
def test_balanced_matches_exhaustive_on_web_table(web_batches, seed):
    b = web_batches[seed]
    for name in b.schema.names:
        col = b.column(name)
        assert choose_codec(col, policy="balanced")[0] == exhaustive_balanced(col), name


@pytest.mark.parametrize("min_mbps", [40.0, 4.0, 1000.0])
def test_balanced_matches_exhaustive_with_fsst_candidate(min_mbps):
    arr = _low_entropy_strings()
    assert "fsst" in candidate_codecs("str", column_stats(arr))
    got = choose_codec(arr, policy="balanced", min_mbps=min_mbps)[0]
    assert got == exhaustive_balanced(arr, min_mbps=min_mbps)


def test_balanced_falls_back_to_smallest_slow_codec(monkeypatch):
    arr = _low_entropy_strings()
    cands = candidate_codecs("str", column_stats(arr))
    slow = [c for c in cands if codec_speed(c) < 40.0]
    assert slow and len(slow) < len(cands)
    sizes = {c: len(encode_array(arr, c).payload) for c in slow}

    def fast_ones_raise(a, codec, *args, **kw):
        if codec_speed(codec) >= 40.0:
            raise ValueError(f"{codec} refused")
        return encode_array(a, codec, *args, **kw)

    monkeypatch.setattr(select, "encode_array", fast_ones_raise)
    got = choose_codec(arr, policy="balanced")[0]
    assert got == min(slow, key=lambda c: sizes[c])
    assert got == exhaustive_balanced(arr)


def test_balanced_trials_no_below_floor_codec(web_batches, trials):
    b = web_batches[7]
    for name in ("html", "text"):
        trials.clear()
        choose_codec(b.column(name), policy="balanced", min_mbps=40.0)
        assert trials, name
        assert all(codec_speed(c) >= 40.0 for c in trials), (name, trials)


def test_ratio_still_trials_every_candidate(web_batches, trials):
    b = web_batches[7]
    for name in ("html", "text"):
        trials.clear()
        choose_codec(b.column(name), policy="ratio")
        assert {"brotli:9", "fsst"} <= set(trials), (name, trials)


def test_choose_codecs_keeps_pins_and_upgrades_xref(web_batches):
    b = web_batches[7]
    arrs = {n: b.column(n) for n in b.schema.names}
    missing = ["url", "warc_ts", "html", "lang"]
    out = choose_codecs(arrs, missing, {"text": "zstd:6"})
    assert out["text"] == "zstd:6"
    assert set(out) == set(missing) | {"text"}
    assert out["html"].startswith("xref:text")
    for c in ("url", "warc_ts", "lang"):
        assert out[c] == choose_codec(arrs[c])[0]
