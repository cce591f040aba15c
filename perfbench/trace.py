"""Driver-side spans around calls into the engine's public functions.

Spans live in memory and are written out when the run ends. A span records
its layer, the function it wraps, the op it belongs to and its parent span;
a layer's self time is its spans' durations minus the durations of their
direct child spans. Nothing here edits the engine: calls made *inside* the
engine to its own public functions are seen by replacing the module
attribute the caller looks up at call time, and only while tracing is on.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager

LAYERS = (
    "session", "synth", "codec.select", "codec.kernels", "codec.encode",
    "codec.decode", "codec.bloom", "codec.inspect", "pipeline.checkpoint",
)


class Tracer:
    """Span recorder for one single-threaded client. ``enabled`` gates both
    explicit spans and the installed wrappers, so one run can measure an
    untraced and a traced window with identical code paths."""

    def __init__(self) -> None:
        self.enabled = False
        self.op: str | None = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._restore: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, layer: str, name: str, **extra):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "parent": self._stack[-1]["id"] if self._stack else None,
               "op": self.op, "layer": layer, "name": name,
               "t0": time.perf_counter(), "t1": None, **extra}
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, module, attr: str, layer: str, eager_df=None) -> None:
        """Replace ``module.attr`` by a spanning wrapper. ``eager_df`` turns a
        lazily evaluated DataFrame result into collected rows inside the span
        (and hands the caller an equivalent local DataFrame), so a caller
        that collects later is still timed inside this layer."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            with self.span(layer, attr) as rec:
                out = orig(*args, **kwargs)
                if eager_df is not None:
                    rows = out.collect()
                    rec["rows"] = [r.asDict() for r in rows]
                    out = eager_df(out, rows)
            return out

        setattr(module, attr, wrapper)
        self._restore.append((module, attr, orig))

    def uninstall(self) -> None:
        for module, attr, orig in reversed(self._restore):
            setattr(module, attr, orig)
        self._restore.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, default=str)

    # -- analysis ---------------------------------------------------------

    @staticmethod
    def duration(rec: dict) -> float:
        return rec["t1"] - rec["t0"]

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def self_time(self, rec: dict) -> float:
        return self.duration(rec) - sum(self.duration(c) for c in self.children(rec))

    def layer_self_s(self) -> dict[str, float]:
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            if s["t1"] is not None and s["layer"] in out:
                out[s["layer"]] += self.self_time(s)
        return out

    def find(self, layer: str | None = None, name: str | None = None) -> list[dict]:
        return [s for s in self.spans if s["t1"] is not None
                and (layer is None or s["layer"] == layer)
                and (name is None or s["name"] == name)]

    def descendants(self, rec: dict) -> list[dict]:
        out, todo = [], [rec["id"]]
        while todo:
            pid = todo.pop()
            kids = [s for s in self.spans if s["parent"] == pid]
            out.extend(kids)
            todo.extend(k["id"] for k in kids)
        return out


def install_layer_wrappers(tracer: Tracer, spark) -> None:
    """Wrap the public functions the engine calls on the driver between
    layers: codec selection (and its trial encodes), the encode sink as
    called by the checkpoint pipeline, zone-map and bloom pruning, and the
    bloom probe builders."""
    from nail_parquet_spark.codec import bloom, decode, encode, kernels, select
    from nail_parquet_spark.pipeline import checkpoint

    def local_manifest(df, rows):
        return spark.createDataFrame(rows, df.schema)

    for attr in ("choose_codec", "xref_upgrade", "choose_codecs_for_df"):
        tracer.wrap(encode, attr, "codec.select")
    tracer.wrap(encode, "encode_parquet_dir", "codec.encode", eager_df=local_manifest)
    # trial encodes: select binds encode_array at import, xref_upgrade
    # imports it from kernels at call time
    tracer.wrap(select, "encode_array", "codec.kernels")
    tracer.wrap(kernels, "encode_array", "codec.kernels")
    tracer.wrap(decode, "prune_blocks", "codec.decode")
    tracer.wrap(decode, "prune_blocks_bloom", "codec.decode")
    for attr in ("bloom_probe_sql", "bloom_prefix_probe_sql"):
        tracer.wrap(bloom, attr, "codec.bloom")
    tracer.wrap(checkpoint, "encode_resumable", "pipeline.checkpoint")
    tracer.wrap(checkpoint, "read_blocks_at", "pipeline.checkpoint")
