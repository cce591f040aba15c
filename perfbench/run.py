#!/usr/bin/env python3
"""Benchmark of the nail_parquet_spark codec engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (bulk_encode, scan_decode, point_lookup, append_read) as
a closed loop with a single client on ``local[k]``, k = min(2, nproc - 1),
checks every output against pyarrow over the generated source, prints one
``metric <workload> <name> <value> <unit>`` line per metric and, last, a
JSON line: end-to-end metrics with ``--trace 0``, per-layer metrics (from
spans taken around calls into the engine's public functions, Spark's event
log and its status tracker) with ``--trace 1``. ``--seconds`` is the op
time measured; in a traced run every second op of each kind is traced and
the traced/untraced difference is reported as ``trace.overhead_frac``.

The engine is imported from the checkout this file sits in, on the driver
and in the Python workers. All data, Spark scratch space and spans go to
``.perfbench_work/`` in that checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench_work"
# two task slots: on a 4-core box shared with other load, encode and decode
# ops of this input size were fastest at local[2] (local[3] was 25-30% slower,
# local[1] up to 10%), and the fewer cores a run needs, the less it measures
# what else the host is running
CORES = max(1, min(2, (os.cpu_count() or 1) - 1))
START = time.perf_counter()
DRIVER_MEM = "2g"  # far below a small host's RAM; get_spark's own default is 48g
# untimed op time after the first, cold cycle of op kinds and before the
# measured loop: op times kept falling for about ten ops after the first of
# each kind, while the JVM compiled the hot paths
WARM_S = 8.0


def closed_loop(ctx, wl, budget_s: float, traced: bool, first: int = 0) -> list:
    """Issue ops one at a time until their summed time reaches budget_s
    and the last cycle of op kinds is complete, so every run holds whole
    cycles (at least one). In a traced run every second op of each kind is traced, so
    traced and untraced ops interleave and their difference is the tracing
    overhead."""
    from perfbench.workloads import Op

    ops, busy, seen = [], 0.0, {}
    while busy < budget_s or len(ops) % wl.cycle or not ops:
        i = first + len(ops)
        kind = wl.kind(i)
        seen[kind] = seen.get(kind, 0) + 1
        ctx.tracer.enabled = traced and seen[kind] % 2 == 0
        ctx.job_group(f"op-{i}")
        t0 = time.perf_counter()
        try:
            op = wl.op(i)
        except Exception:
            traceback.print_exc()
            op = Op(kind, time.perf_counter() - t0, ok=False)
        op.group, op.traced = f"op-{i}", ctx.tracer.enabled
        if op.ok is False:
            print(f"failed op {i} {op.kind} {op.detail}", file=sys.stderr)
        busy += op.seconds
        ops.append(op)
    ctx.tracer.enabled = traced
    return ops


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def end_to_end(ops: list, cycle: int, setup_s: float, stored: float, peak_rss: int,
               failed: int) -> tuple[dict, dict]:
    """(contract metrics, every end-to-end metric of this workload).
    ops_per_s is the op rate at the median time of a whole cycle of op
    kinds: one slow op, from a stall on a shared host, moves it no more than
    it moves op_p50_s."""
    from perfbench.workloads import LOOKUP_KINDS

    cycles = [sum(o.seconds for o in ops[i:i + cycle]) for i in range(0, len(ops), cycle)]
    by = lambda *kinds: [o for o in ops if o.kind in kinds]  # noqa: E731
    mbps = lambda sel: sum(o.raw_bytes for o in sel) / sum(o.seconds for o in sel) / 1e6  # noqa: E731
    lookups = by(*LOOKUP_KINDS)
    common = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (cycle / median(cycles), "1/s"),
        "op_p50_s": (median([o.seconds for o in ops]), "s"),
        "stored_bytes_per_raw_byte": (stored, "ratio"),
        "peak_rss_mb": (peak_rss / 1e6, "MB"),
    }
    extra = {"error_rate": (failed / len(ops), "ratio")}
    if by("encode"):
        extra["encode_mbps"] = (mbps(by("encode")), "MB/s")
    if by("decode_all"):
        extra["decode_mbps"] = (mbps(by("decode_all")), "MB/s")
    if by("decode_subset"):
        extra["subset_decode_mbps"] = (mbps(by("decode_subset")), "MB/s")
    if lookups:
        lat = sorted(o.seconds for o in lookups)
        extra["lookup_p50_s"] = (median(lat), "s")
        # p90 needs 100 samples for 10 beyond it; state the count instead
        extra["lookup_p90_s"] = (lat[min(len(lat) - 1, int(0.9 * len(lat)))], "s")
        extra["lookup_count"] = (len(lat), "count")
    if by("append"):
        extra["append_p50_s"] = (median([o.seconds for o in by("append")]), "s")
    return common, {**common, **extra}


def status_counts(spark, ops: list) -> tuple[list, list]:
    """Jobs and completed tasks per op, from the live status tracker."""
    st = spark.sparkContext.statusTracker()
    jobs, tasks = [], []
    for o in ops:
        ids = st.getJobIdsForGroup(o.group)
        n = 0
        for j in ids:
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                si = st.getStageInfo(sid)
                n += si.numCompletedTasks if si else 0
        jobs.append(len(ids))
        tasks.append(n)
    return jobs, tasks


def per_layer(sp, events: dict, counts: tuple, setup: dict, session_s: float,
              untraced: list, traced: list, probes: dict) -> dict:
    dur = sp.duration

    def top_select(rec):
        sel = [s for s in sp.descendants(rec) if s["layer"] == "codec.select"]
        ids = {s["id"] for s in sel}
        trials = [s for s in sp.descendants(rec) if s["name"] == "encode_array"]
        return sum(dur(s) for s in sel if s["parent"] not in ids), len(trials)

    resumable = sp.find("pipeline.checkpoint", "encode_resumable")
    inside = {d["id"] for r in resumable for d in sp.descendants(r)}
    direct = [s for s in sp.find("codec.encode", "encode_parquet_dir") if s["id"] not in inside]
    selects = [top_select(r) for r in resumable + direct]
    tasks = []
    for s in sp.find("codec.encode", "encode_parquet_dir"):
        walls = sorted(r["wall_s"] for r in s.get("rows", []))
        if walls:
            tasks.append((median(walls), walls[-1], dur(s) - walls[-1]))
    decode_tasks = []
    for s in sp.find("codec.decode"):
        g = events.get(s["op"])
        if s["name"] in ("decode_parquet_dir", "decode_table_where", "decode_topk") and g and g["task_s"]:
            decode_tasks.append((max(g["task_s"]), dur(s) - max(g["task_s"])))
    op_groups = [events.get(o.group, {}) for o in traced]
    run_ms = sum(g.get("run_ms", 0) for g in op_groups)

    def kinds_median(ops):
        out = {}
        for o in ops:
            out.setdefault(o.kind, []).append(o.seconds)
        return {k: median(v) for k, v in out.items()}
    mu, mt = kinds_median(untraced), kinds_median(traced)
    common_kinds = [k for k in mt if k in mu]
    named = lambda layer, name: [dur(s) for s in sp.find(layer, name)]  # noqa: E731
    m = {
        "session.start_s": (session_s, "s"),
        "synth.gen_s": (setup["synth.gen_s"], "s"),
        "select.choose_s": (median([s for s, _ in selects]), "s"),
        "select.trial_encodes": (median([n for _, n in selects]), "count"),
        **probes["kernels"],
        "encode.task_s_p50": (median([t[0] for t in tasks]), "s"),
        "encode.task_s_max": (median([t[1] for t in tasks]), "s"),
        "encode.task_skew": (median([t[1] / t[0] for t in tasks]), "ratio"),
        "encode.overhead_s": (median([t[2] for t in tasks]), "s"),
        "decode.task_s_max": (median([t[0] for t in decode_tasks]), "s"),
        "decode.overhead_s": (median([t[1] for t in decode_tasks]), "s"),
        **probes["prune"],
        "inspect.count_where_s": (median(named("codec.inspect", "count_where_pushdown")), "s"),
        "inspect.frequency_s": (median(named("codec.inspect", "frequency_pushdown")), "s"),
        "inspect.topk_s": (median(named("codec.decode", "decode_topk")), "s"),
        "checkpoint.select_s": (median([top_select(r)[0] for r in resumable]), "s"),
        "checkpoint.encode_s": (median([sum(dur(c) for c in sp.children(r)
                                            if c["name"] == "encode_parquet_dir")
                                        for r in resumable]), "s"),
        "checkpoint.commit_s": (median([sp.self_time(r) for r in resumable]), "s"),
        "checkpoint.read_at_s": (median(named("pipeline.checkpoint", "read_blocks_at")), "s"),
        "checkpoint.snapshots": (probes["snapshots"], "count"),
        "spark.jobs_per_op": (median(counts[0]), "count"),
        "spark.tasks_per_op": (median(counts[1]), "count"),
        "spark.shuffle_bytes_per_op": (median([g.get("shuffle_bytes", 0) for g in op_groups]), "B"),
        "spark.gc_frac": (sum(g.get("gc_ms", 0) for g in op_groups) / run_ms if run_ms else 0.0, "ratio"),
        "trace.overhead_frac": (statistics.mean(mt[k] / mu[k] - 1 for k in common_kinds)
                                if common_kinds else 0.0, "ratio"),
    }
    self_s = sp.layer_self_s()
    for layer in ("codec.select", "codec.kernels", "codec.encode", "codec.decode",
                  "codec.bloom", "codec.inspect", "pipeline.checkpoint"):
        m[f"{layer.split('.')[-1]}.self_s"] = (self_s[layer], "s")
    return {k: (v if isinstance(v, tuple) else (v, _unit(k))) for k, v in m.items()}


def _unit(name: str) -> str:
    if "mbps" in name:
        return "MB/s"
    if name.endswith("_s"):
        return "s"
    return "ratio"


def run(args) -> int:
    from perfbench import probe, sparkenv
    from perfbench.trace import Tracer, install_layer_wrappers
    from perfbench.workloads import WORKLOADS, Ctx, Op, engine_modules

    traced = bool(args.trace)
    rundir = WORK / "run"
    shutil.rmtree(rundir, ignore_errors=True)
    sparkenv.pin_environment(ROOT, rundir, CORES, DRIVER_MEM)
    from nail_parquet_spark.session import get_spark

    tracer = Tracer()
    marks = [("start", START)]

    def mark(name: str) -> None:
        marks.append((name, time.perf_counter()))

    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES,
                      extra_conf=sparkenv.spark_conf(rundir, CORES, traced))
    session_s = time.perf_counter() - t0
    try:
        mark("session")
        iso = sparkenv.check_isolation(spark, ROOT)
        mark("isolation")
        print("env", json.dumps({**sparkenv.environment_record(spark, CORES, DRIVER_MEM),
                                 "engine": iso["driver"]}))
        ctx = Ctx(spark, tracer, rundir, args.seed, engine_modules())
        if traced:
            install_layer_wrappers(tracer, spark)
        wl = WORKLOADS[args.workload](ctx)
        with sparkenv.RssSampler(sparkenv.jvm_pid(spark)) as rss:
            tracer.enabled = traced
            ctx.job_group("setup")
            setup = wl.setup()
            setup_s = session_s + sum(setup.values())
            mark("setup")
            tracer.enabled = False
            ctx.job_group("warmup")
            wl.warmup()
            warm = closed_loop(ctx, wl, 0.0, False)
            warm += closed_loop(ctx, wl, WARM_S, False, first=len(warm))
            mark("warmup")
            cpu0 = sparkenv.cpu_times()
            ops = closed_loop(ctx, wl, args.seconds, traced, first=len(warm))
            steal = sparkenv.steal_frac(cpu0, sparkenv.cpu_times())
            measured = [o for o in ops if o.traced]
            mark("loop")
            deferred_failed = wl.finish()
            stored = wl.stored_ratio()
            mark("finish")
            probes: dict = {}
            if traced:
                import numpy as np

                rng = np.random.default_rng((args.seed, 2))
                probes["prune"] = probe.prune_probe(ctx, wl, rng)
                probe_ops = probe.inspect_probe(ctx, wl, rng)
                if args.workload == "append_read":
                    probes["snapshots"] = len(ctx.mods["checkpoint"].snapshots(str(wl.out)))
                else:
                    ok, probes["snapshots"] = probe.checkpoint_probe(ctx, wl)
                    probe_ops.append(Op("probe_checkpoint", 0.0, ok=ok))
                tracer.enabled = False
                probes["kernels"] = probe.kernel_probe(ctx, wl)
                ops_checked = warm + ops + probe_ops
                mark("probe")
            else:
                ops_checked = warm + ops
            counts = status_counts(spark, measured) if traced else None
    finally:
        tracer.uninstall()
        sparkenv.stop_spark(spark)
    events = sparkenv.parse_event_log(rundir) if traced else {}
    shutil.rmtree(rundir, ignore_errors=True)
    mark("teardown")

    failed = sum(o.ok is False for o in ops_checked) + deferred_failed
    common, full = end_to_end(ops, wl.cycle, setup_s, stored, rss.peak,
                              sum(o.ok is False for o in ops) + deferred_failed)
    for name, value in setup.items():
        print(f"metric {args.workload} {name} {value:.6g} s")
    for name, (value, unit) in full.items():
        print(f"metric {args.workload} {name} {value:.6g} {unit}")
    print("workload", args.workload, json.dumps({
        **wl.describe(), "sink_fs": sparkenv.fs_type(WORK), "loop_steal_frac": round(steal, 4),
        "warm_ops": [f"{o.kind}:{o.seconds:.3f}" for o in warm],
        "ops": [f"{o.kind}:{o.seconds:.3f}" for o in ops]}))
    metrics = common
    if traced:
        untraced = [o for o in ops if not o.traced]
        metrics = per_layer(tracer, events, counts, setup, session_s, untraced, measured, probes)
        for name, (value, unit) in metrics.items():
            print(f"metric {args.workload} {name} {value:.6g} {unit}")
        (WORK / "traces").mkdir(parents=True, exist_ok=True)
        tracer.dump(str(WORK / "traces" / f"{args.workload}-seed{args.seed}.json"))
    print("phases_s", json.dumps({b[0]: round(b[1] - a[1], 2) for a, b in zip(marks, marks[1:])}))
    bad = [k for k, (v, _) in metrics.items() if not math.isfinite(v)]
    if bad:
        raise RuntimeError(f"metrics without a measurement: {bad}")
    result = {"correct": failed == 0, "attempted": len(ops_checked), "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    print(json.dumps(result))
    return 0 if failed == 0 else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["bulk_encode", "scan_decode", "point_lookup", "append_read"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not (ROOT / "nail_parquet_spark" / "__init__.py").is_file():
        print(f"no nail_parquet_spark package in {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2
    sys.path[0] = str(ROOT)  # not perfbench/: its module names must not shadow others
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
