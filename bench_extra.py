"""Round-6 optimization measurement harness (bench.py is FROZEN for the
driver; this file owns the extra measurements the optimization round needs:
isolated per-query reps with the noop sink, and .explain("formatted") dumps
for plans/r06/).

Usage:
  python bench_extra.py time q1,q2,...      [reps]   # isolated best/median
  python bench_extra.py plan q1,q2,... before|after  # dump plans/r06 files
  python bench_extra.py all [reps]                   # whole bench suite once
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent
sys.path.insert(0, str(ROOT))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _force(df):
    df.write.format("noop").mode("overwrite").save()


def _session():
    import __spark_entry__ as entry
    from nail_parquet_spark.session import get_spark

    spark = get_spark("bench-extra", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS)
    qs = entry.queries()
    # same untimed warmup as bench.py
    _force(qs["q1_pricing_summary"](spark, SF_DIR))
    _force(qs["multimodal_meta"](spark, SF_DIR))
    return spark, qs


def cmd_time(names: list[str], reps: int) -> None:
    spark, qs = _session()
    out: dict[str, dict] = {}
    for name in names:
        walls = []
        for _ in range(reps):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            _force(qs[name](spark, SF_DIR))
            walls.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        walls_sorted = sorted(walls)
        out[name] = {"min": walls_sorted[0],
                     "med": walls_sorted[len(walls_sorted) // 2],
                     "walls": walls}
        print(json.dumps({name: out[name]}), flush=True)
    print("RESULT " + json.dumps(out))
    spark.stop()


def cmd_plan(names: list[str], tag: str) -> None:
    from nail_parquet_spark.plans.explain import plan_text

    spark, qs = _session()
    os.makedirs(ROOT / "plans" / "r06", exist_ok=True)
    for name in names:
        df = qs[name](spark, SF_DIR)
        txt = plan_text(df, "formatted")
        p = ROOT / "plans" / "r06" / f"{name}_{tag}.txt"
        with open(p, "w") as f:
            f.write(txt)
        print(f"wrote {p} ({len(txt)} bytes)")
    spark.stop()


def cmd_all(reps: int) -> None:
    import bench

    names = list(bench.BENCH_QUERIES)
    cmd_time(names, reps)


if __name__ == "__main__":
    mode = sys.argv[1]
    if mode == "all":
        cmd_all(int(sys.argv[2]) if len(sys.argv) > 2 else 1)
    elif mode == "time":
        cmd_time(sys.argv[2].split(","), int(sys.argv[3]) if len(sys.argv) > 3 else 3)
    elif mode == "plan":
        cmd_plan(sys.argv[2].split(","), sys.argv[3] if len(sys.argv) > 3 else "before")
    else:
        raise SystemExit(f"unknown mode {mode!r}")
