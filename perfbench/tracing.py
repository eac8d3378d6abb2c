"""Span tracing around kgforge's layer boundaries, installed from outside.

The tracer replaces a layer's public function on the module attribute its
caller resolves at call time (``kgforge.api`` binds ``anonymize_triples``,
``flat_json_output`` and the ingest codecs by name; ``kgforge.kg.pipeline``
binds ``explode_spans``, ``detect_mentions``, ``link_mentions``,
``lsh_candidate_pairs``, ``jaccard_filter`` and ``connected_components`` by
name), so no program file changes.  Each wrapped call becomes a span with its
layer name, start, end, parent span and operation id.  A layer that returns a
lazy DataFrame is persisted and counted inside its span, so its work is
charged to it; Spark jobs are counted per span through a job group and the
status tracker.  Spans stay in memory until the run writes them out.
"""

from __future__ import annotations

import contextlib
import importlib
import itertools
import os
import time
from dataclasses import dataclass, field

# layer -> [(module, attribute)], the call-time binding each caller uses
LAYERS: dict[str, list[tuple[str, str]]] = {
    "kg.synth": [("kgforge.kg.pipeline", "explode_spans")],
    "kg.mentions": [("kgforge.kg.pipeline", "detect_mentions")],
    "kg.linking": [("kgforge.kg.pipeline", "link_mentions")],
    "kg.lsh": [("kgforge.kg.pipeline", "lsh_candidate_pairs"),
               ("kgforge.kg.pipeline", "jaccard_filter")],
    # union_find_components is imported inside the driver canonicalization
    # path at call time, so the module attribute is the one it resolves
    "kg.components": [("kgforge.kg.pipeline", "connected_components"),
                      ("kgforge.kg.components", "union_find_components")],
    "kg.pipeline": [("kgforge.kg.pipeline", "build_kg")],
    "kg.io": [("kgforge.kg.io", "write_graph")],
    "ingest": [("kgforge.api", "flat_rows_to_triples"),
               ("kgforge.api", "jsonld_to_triples"),
               ("kgforge.ingest", "jsonld_lines_to_triples")],
    "anonymize.engine": [("kgforge.api", "anonymize_triples")],
    "anonymize.ops": [("kgforge.anonymize.ops", "mask"),
                      ("kgforge.anonymize.ops", "generalize"),
                      ("kgforge.anonymize.ops", "generalize_object"),
                      ("kgforge.anonymize.ops", "randomize")],
    "anonymize.kpi": [("kgforge.anonymize.kpi", "k_anonymity")],
    # ops binds with_global_rank by name; k_anonymity imports the running
    # sum from kgforge.rank inside the function
    "rank": [("kgforge.anonymize.ops", "with_global_rank"),
             ("kgforge.rank", "with_global_running_sum")],
    "anonymize.flat_output": [("kgforge.api", "flat_json_output")],
    # anonymize_jsonld_response imports serialize_jsonld at call time
    "jsonld_out": [("kgforge.jsonld_out", "serialize_jsonld")],
    "api": [("kgforge.api", "anonymize_flat_json"),
            ("kgforge.api", "anonymize_jsonld_response")],
}

OPS = ("mask", "generalize", "generalize_object", "randomize")
# unit by the metric name's last part; everything else is a count
UNITS = {"busy_frac": "fraction", "bytes_written": "bytes",
         "bytes_per_triple": "bytes", "overhead_s": "s",
         "overhead_frac": "fraction", "linked_per_mention": "ratio",
         "verified_per_candidate": "ratio"}
KPI_MODES = ("pairs", "ranges", "grid", "grouped", "sliced")
ENDPOINTS = {"anonymize_flat_json": "flat", "anonymize_jsonld_response": "jsonld"}


@dataclass
class Span:
    sid: int
    layer: str
    func: str
    op_id: int | None
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0  # Spark jobs run under this span's own job group
    error: str | None = None
    extra: dict = field(default_factory=dict)


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover (union
    of the child intervals clipped to the span, so overlaps count once)."""
    ivs = sorted(
        (max(c.start, span.start), min(c.end, span.end)) for c in children
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span.end - span.start) - covered


def _dataframe_of(result):
    from pyspark.sql import DataFrame

    if isinstance(result, DataFrame):
        return result
    if isinstance(result, tuple) and result and isinstance(result[0], DataFrame):
        return result[0]
    return None


class Tracer:
    """Records spans for wrapped layer calls.  ``install`` patches the module
    attributes in ``LAYERS``; ``uninstall`` restores the originals."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.op_id: int | None = None
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._saved: list[tuple[object, str, object]] = []
        self._persisted: list = []
        self._suspended = False

    # -- installation ------------------------------------------------------
    def install(self) -> None:
        for layer, targets in LAYERS.items():
            for mod_name, attr in targets:
                mod = importlib.import_module(mod_name)
                orig = getattr(mod, attr)
                self._saved.append((mod, attr, orig))
                setattr(mod, attr, self._wrap(layer, attr, orig))

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._saved):
            setattr(mod, attr, orig)
        self._saved.clear()

    @contextlib.contextmanager
    def suspended(self):
        """Calls made inside (the benchmark's own output checks) run
        untraced."""
        self._suspended = True
        try:
            yield
        finally:
            self._suspended = False

    def release(self) -> None:
        """Unpersist what the tracer materialized during the last operation."""
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    # -- spans -------------------------------------------------------------
    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"perfbench-span-{span.sid}", span.layer)

    def _wrap(self, layer: str, func: str, orig):
        tracer = self

        def traced(*args, **kwargs):
            if tracer._suspended:
                return orig(*args, **kwargs)
            pre = tracer._pre_extra(layer, args)
            parent = tracer._stack[-1] if tracer._stack else None
            span = Span(next(tracer._ids), layer, func, tracer.op_id,
                        parent.sid if parent else None, time.perf_counter())
            span.extra.update(pre)
            tracer._stack.append(span)
            tracer._set_group(span)
            try:
                result = orig(*args, **kwargs)
                df = _dataframe_of(result)
                if df is not None:
                    df = df.persist()
                    tracer._persisted.append(df)
                    span.extra["rows_out"] = df.count()
                    if result is not df and isinstance(result, tuple):
                        result = (df,) + tuple(result[1:])
                    else:
                        result = df
                tracer._post_extra(span, result, args, kwargs)
                return result
            except Exception as exc:
                span.error = f"{type(exc).__name__}: {exc}"
                raise
            finally:
                span.end = time.perf_counter()
                span.jobs = len(tracer.sc.statusTracker().getJobIdsForGroup(
                    f"perfbench-span-{span.sid}"))
                tracer._stack.pop()
                tracer._set_group(tracer._stack[-1] if tracer._stack else None)
                tracer.spans.append(span)

        traced.__wrapped__ = orig
        return traced

    def _pre_extra(self, layer: str, args) -> dict:
        # counted before the span opens, on input the producing layer's span
        # already persisted, so the layer's own time excludes the count
        if layer in ("kg.mentions", "kg.linking") and args:
            return {"rows_in": args[0].count()}
        return {}

    def _post_extra(self, span: Span, result, args, kwargs) -> None:
        if span.layer == "kg.components":
            if isinstance(result, dict):
                span.extra["components"] = len(set(result.values()))
            else:
                span.extra["components"] = (
                    result.select("comp").distinct().count()
                )
        elif span.layer == "anonymize.kpi":
            from kgforge.anonymize import kpi

            span.extra["mode"] = kpi._last_mode
        elif span.layer == "kg.io":
            span.extra["rows"] = int(result["rows"])
            path = kwargs["path"] if "path" in kwargs else args[1]
            span.extra["bytes_written"] = sum(
                os.path.getsize(os.path.join(root, f))
                for root, _dirs, files in os.walk(path) for f in files)


# ---------------------------------------------------------------- summary

def unit_of(metric: str) -> str:
    return UNITS.get(metric.rsplit(".", 1)[1], "count")


def layer_metrics(spans: list[Span], traced_wall: float):
    """Per-layer metrics from a run's spans, and each layer's self time in
    seconds.  ``traced_wall`` is the wall time of the traced operations;
    ``busy_frac`` is self time over it.  Every layer in ``LAYERS`` is
    reported, with zeros where it never ran."""
    by_parent: dict[int | None, list[Span]] = {}
    for s in spans:
        by_parent.setdefault(s.parent, []).append(s)

    def subtree_jobs(s: Span) -> int:
        return s.jobs + sum(subtree_jobs(c) for c in by_parent.get(s.sid, []))

    out: dict[str, float] = {}
    busy: dict[str, float] = {}
    for layer in LAYERS:
        mine = [s for s in spans if s.layer == layer]
        b = sum(self_time(s, by_parent.get(s.sid, [])) for s in mine)
        busy[layer] = b
        out[f"{layer}.busy_frac"] = b / traced_wall if traced_wall > 0 else 0.0
        out[f"{layer}.calls"] = len(mine)
        out[f"{layer}.spark_jobs"] = sum(s.jobs for s in mine)
        out[f"{layer}.errors"] = sum(1 for s in mine if s.error)

    def total(layer: str, key: str) -> int:
        return sum(s.extra.get(key, 0) for s in spans if s.layer == layer)

    def ratio(a: float, b: float) -> float:
        return a / b if b else 0.0

    lsh = [s for s in spans if s.layer == "kg.lsh"]
    cand = sum(s.extra.get("rows_out", 0) for s in lsh
               if s.func == "lsh_candidate_pairs")
    ver = sum(s.extra.get("rows_out", 0) for s in lsh
              if s.func == "jaccard_filter")
    io_rows, io_bytes = total("kg.io", "rows"), total("kg.io", "bytes_written")
    out.update({
        "kg.synth.rows_out": total("kg.synth", "rows_out"),
        "kg.mentions.rows_in": total("kg.mentions", "rows_in"),
        "kg.mentions.rows_out": total("kg.mentions", "rows_out"),
        "kg.linking.rows_out": total("kg.linking", "rows_out"),
        "kg.linking.linked_per_mention": ratio(
            total("kg.linking", "rows_out"), total("kg.linking", "rows_in")),
        "kg.lsh.candidate_pairs": cand,
        "kg.lsh.verified_pairs": ver,
        "kg.lsh.verified_per_candidate": ratio(ver, cand),
        "kg.components.components": total("kg.components", "components"),
        "kg.pipeline.triples_out": total("kg.pipeline", "rows_out"),
        "kg.io.rows": io_rows,
        "kg.io.bytes_written": io_bytes,
        "kg.io.bytes_per_triple": ratio(io_bytes, io_rows),
        "ingest.triples_out": total("ingest", "rows_out"),
        "anonymize.ops.rows_out": total("anonymize.ops", "rows_out"),
    })
    engine = [s for s in spans if s.layer == "anonymize.engine"]
    out["anonymize.engine.spark_jobs_per_call"] = ratio(
        sum(subtree_jobs(s) for s in engine), len(engine))
    for op in OPS:
        op_spans = [s for s in spans if s.layer == "anonymize.ops" and s.func == op]
        out[f"anonymize.ops.{op}.busy_frac"] = ratio(
            sum(self_time(s, by_parent.get(s.sid, [])) for s in op_spans),
            traced_wall)
    for mode in KPI_MODES:
        out[f"anonymize.kpi.mode_{mode}"] = sum(
            1 for s in spans
            if s.layer == "anonymize.kpi" and s.extra.get("mode") == mode)
    api = [s for s in spans if s.layer == "api"]
    out["api.spark_jobs_per_request"] = ratio(
        sum(subtree_jobs(s) for s in api), len(api))
    for func, short in ENDPOINTS.items():
        reqs = [s for s in api if s.func == func]
        out[f"api.{short}.spark_jobs_per_request"] = ratio(
            sum(subtree_jobs(s) for s in reqs), len(reqs))
    return out, busy
