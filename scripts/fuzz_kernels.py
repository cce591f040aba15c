"""Quick round-trip fuzz for codec kernels (dev loop; pytest mirrors this)."""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import numpy as np
import pyarrow as pa

from nail_parquet_spark.codec import VALID_CODECS, decode_array, encode_array

rng = np.random.default_rng(7)


def arrays():
    out = []
    # ints
    base = [
        np.arange(1000, dtype=np.int64),
        rng.integers(-(2**62), 2**62, 500),
        np.repeat(rng.integers(0, 5, 50), rng.integers(1, 40, 50)),
        np.zeros(100, dtype=np.int64),
        np.array([], dtype=np.int64),
        np.array([7], dtype=np.int64),
        np.array([-(2**63), 2**63 - 1, 0, -1], dtype=np.int64),
    ]
    for v in base:
        out.append(("int64", pa.array(v, type=pa.int64())))
        if len(v):
            mask = rng.random(len(v)) < 0.2
            out.append(("int64+null", pa.array(v, type=pa.int64(), mask=mask)))
    out.append(("ts", pa.array(rng.integers(1e15, 2e15, 300), type=pa.int64()).cast(pa.timestamp("us"))))
    out.append(("bool", pa.array(rng.random(200) < 0.5)))
    out.append(("date32", pa.array(rng.integers(0, 20000, 100), type=pa.int32()).cast(pa.date32())))
    # floats
    fv = rng.normal(size=400)
    fv[::17] = np.nan
    out.append(("f64", pa.array(fv)))
    out.append(("f64+null", pa.array(fv, mask=rng.random(400) < 0.1)))
    out.append(("f32", pa.array(fv.astype(np.float32), type=pa.float32())))
    # strings
    words = ["the", "quick", "brown", "https://example.com/", "日本語テキスト", "émoji 🎉", ""]
    sv = ["".join(rng.choice(words, rng.integers(0, 12))) for _ in range(500)]
    out.append(("str", pa.array(sv, type=pa.string())))
    out.append(("str+null", pa.array([None if rng.random() < 0.15 else s for s in sv], type=pa.string())))
    out.append(("str empty", pa.array([], type=pa.string())))
    out.append(("str all-empty", pa.array(["", "", ""], type=pa.string())))
    out.append(("str one", pa.array(["x" * 10000], type=pa.string())))
    out.append(("str runs", pa.array(np.repeat(["en", "de", "fr"], 100).tolist())))
    out.append(("large_string", pa.array(sv[:50], type=pa.large_string())))
    # binary incl. non-utf8 and 0xff escape stress
    bv = [bytes(rng.integers(0, 256, rng.integers(0, 300), dtype=np.uint8).tolist()) for _ in range(120)]
    bv += [b"\xff" * 9, b"\xff\x00\xff", b"", b"\xfe\xff" * 50]
    out.append(("bin", pa.array(bv, type=pa.binary())))
    out.append(("bin+null", pa.array([None if rng.random() < 0.2 else b for b in bv], type=pa.binary())))
    return out


fails = 0
for name, arr in arrays():
    from nail_parquet_spark.codec.kernels import kind_of

    kind = kind_of(arr.type)
    for codec in VALID_CODECS.get(kind, []):
        try:
            import pyarrow.compute as pc

            blk = encode_array(arr, codec)
            blk2 = type(blk).from_parts(blk.header_json(), blk.payload)
            dec = decode_array(blk2)
            ok = dec.type == arr.type and pc.is_null(dec).equals(pc.is_null(arr))
            if ok:
                if pa.types.is_floating(arr.type):
                    # bitwise: NaN payloads and -0.0 must survive exactly
                    u = f"u{arr.type.bit_width // 8}"
                    ok = np.array_equal(
                        np.asarray(arr.fill_null(0.0)).view(u),
                        np.asarray(dec.fill_null(0.0)).view(u),
                    )
                else:
                    ok = dec.equals(arr)
            if not ok:
                print(f"FAIL value {name} {codec}")
                fails += 1
        except Exception as e:
            print(f"FAIL exc   {name} {codec}: {type(e).__name__}: {e}")
            fails += 1

# xref needs a paired reference array: random mix of embedded / absent /
# null / short refs over str and bin value kinds
for trial in range(40):
    n = int(rng.integers(0, 120))
    refs, vals = [], []
    for _ in range(n):
        r = rng.integers(0, 5)
        ref = None if r == 0 else "w" * int(rng.integers(0, 30)) + str(rng.integers(0, 9))
        pre = rng.integers(0, 256, int(rng.integers(0, 20)), dtype=np.uint8).tobytes()
        post = rng.integers(0, 256, int(rng.integers(0, 20)), dtype=np.uint8).tobytes()
        if ref is not None and rng.random() < 0.6:
            vals.append(pre + ref.encode() + post)
        elif rng.random() < 0.1:
            vals.append(None)
        else:
            vals.append(pre + post)
        refs.append(ref)
    ra = pa.array(refs, pa.string())
    for typ in (pa.binary(), pa.large_binary()):
        va = pa.array(vals, typ)
        try:
            blk = encode_array(va, f"xref:r:{int(rng.integers(1, 7))}", ref_arr=ra)
            blk2 = type(blk).from_parts(blk.header_json(), blk.payload)
            dec = decode_array(blk2, ref_arr=ra)
            if not (dec.type == va.type and dec.to_pylist() == va.to_pylist()):
                print(f"FAIL xref trial {trial} {typ}")
                fails += 1
        except Exception as e:
            print(f"FAIL exc xref trial {trial} {typ}: {type(e).__name__}: {e}")
            fails += 1

print("fails:", fails)
sys.exit(1 if fails else 0)
