"""Per-layer metrics of the traced run, named by the engine module each
one measures, and the end-to-end metric each should move.

A layer a workload does not exercise reports 0 on it: that layer did
no work, which is itself the "stays flat" prediction.
"""

from __future__ import annotations

import os

from perfbench.harness import median
from perfbench.spans import PY_RETURNED, PY_SENT, PY_TIME, AGG_BUILD

# the workload-specific names the end-to-end metrics go by
NAMED = {
    "rollup_batch": {"points_per_s": "rollup_points_per_s",
                     "latency_p50_s": "refresh_latency_p50_s",
                     "latency_tail_s": "refresh_latency_tail_s"},
    "discovery": {"points_per_s": "profiled_points_per_s",
                  "latency_p50_s": "discovery_latency_p50_s",
                  "latency_tail_s": "discovery_latency_tail_s"},
    "boundary": {"points_per_s": "segment_points_per_s",
                 "latency_p50_s": "discovery_latency_p50_s",
                 "latency_tail_s": "discovery_latency_tail_s"},
    "compress_dedup": {"points_per_s": "segment_points_per_s",
                       "latency_p50_s": "batch_latency_p50_s",
                       "latency_tail_s": "batch_latency_tail_s"},
}

SELF_LAYERS = ("op", "input", "series", "rollup", "sink", "profile", "salted",
               "segments", "dedup")

# (name, unit, better)
PER_LAYER = [
    ("input.scan_s", "s", "lower"), ("input.bytes_read", "B", "lower"),
    ("input.rows_read", "count", "lower"),
    ("series.s", "s", "lower"), ("series.points_out", "count", "higher"),
    ("series.shuffle_write_bytes", "B", "lower"),
    ("rollup.cascade_s", "s", "lower"), ("rollup.refresh_s", "s", "lower"),
    ("rollup.tier_rows.1m", "count", "lower"), ("rollup.tier_rows.1h", "count", "lower"),
    ("rollup.tier_rows.1d", "count", "lower"),
    ("rollup.shuffle_read_bytes", "B", "lower"), ("rollup.shuffle_write_bytes", "B", "lower"),
    ("rollup.spill_bytes", "B", "lower"), ("rollup.agg_build_s", "s", "lower"),
    ("rollup.exchanges", "count", "lower"), ("rollup.reused_exchanges", "count", "higher"),
    ("refresh.recomputed_frac", "ratio", "lower"),
    ("sink.write_s", "s", "lower"), ("sink.bytes_written", "B", "lower"),
    ("sink.files", "count", "lower"),
    ("profile.pack_s", "s", "lower"), ("profile.arrow_bytes_sent", "B", "lower"),
    ("profile.arrow_bytes_returned", "B", "lower"), ("profile.python_s", "s", "lower"),
    ("profile.tasks", "count", "lower"), ("profile.task_skew", "ratio", "lower"),
    ("kernels.mpx_s", "s", "lower"), ("kernels.cells", "count", "lower"),
    ("kernels.cells_per_s", "1/s", "higher"), ("kernels.discover_s", "s", "lower"),
    ("kernels.native", "bool", "higher"),
    ("salted.s", "s", "lower"), ("salted.partial_tasks", "count", "lower"),
    ("salted.band_skew", "ratio", "lower"), ("salted.arrow_bytes_sent", "B", "lower"),
    ("segments.encode_s", "s", "lower"), ("segments.decode_s", "s", "lower"),
    ("segments.python_s", "s", "lower"), ("segments.arrow_bytes_sent", "B", "lower"),
    ("segments.bytes_per_point.idx", "B", "lower"),
    ("segments.bytes_per_point.ts", "B", "lower"),
    ("segments.bytes_per_point.val", "B", "lower"),
    ("dedup.s", "s", "lower"), ("dedup.candidate_pairs", "count", "lower"),
    ("dedup.confirmed_pairs", "count", "higher"), ("dedup.useful_ratio", "ratio", "higher"),
    ("dedup.max_bucket", "count", "lower"), ("dedup.shuffle_write_bytes", "B", "lower"),
    ("spark.jobs", "count", "lower"), ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"), ("spark.gc_s", "s", "lower"),
    ("spark.spill_bytes", "B", "lower"), ("spark.shuffle_read_bytes", "B", "lower"),
    ("spark.shuffle_write_bytes", "B", "lower"),
    *[(f"self_s.{layer}", "s", "lower") for layer in SELF_LAYERS],
    ("trace.wall_s", "s", "lower"), ("trace.untraced_wall_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"), ("host.alu_s", "s", "lower"),
]
PER_LAYER = [{"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER]


def skew(durations) -> float:
    """max ÷ median task time (0 when the layer ran no task)."""
    return max(durations) / max(median(durations), 1) if durations else 0.0


def layer_metrics(tracer, evlog, exact: dict) -> dict:
    """Every per-layer metric: span self times, event-log task metrics of
    the spans of each layer, and the counts the workload measured."""
    spans, self_t = tracer.spans, tracer.self_times()

    def ids(prefix):
        return [s["id"] for s in spans
                if s["name"] == prefix or s["name"].startswith(prefix + ".")]

    def self_s(prefix):
        return sum(self_t[i] for i in ids(prefix))

    def log(prefix):
        return evlog.select(ids(prefix))

    rollup_log, profile_log = log("rollup"), log("profile")
    salted_log, seg_log = log("salted"), log("segments")
    ex, reused = rollup_log.exchanges()
    partial = [t["duration_ms"] for t in salted_log.udf_tasks("partial_fn")]
    prof_py = profile_log.python_tasks()
    sink_files = [os.path.join(dp, f) for s in spans if s["name"] == "sink"
                  for dp, _, fs in os.walk(s["path"]) for f in fs
                  if f.startswith("part-")]
    layer_self = tracer.layer_self_s()
    out = {m["name"]: 0.0 for m in PER_LAYER}
    out.update({
        "input.scan_s": self_s("input"),
        "input.bytes_read": log("input").total("input_bytes"),
        "input.rows_read": log("input").total("input_rows"),
        "series.s": self_s("series"),
        "series.shuffle_write_bytes": log("series").total("shuffle_write_bytes"),
        "rollup.cascade_s": self_s("rollup.cascade"),
        "rollup.refresh_s": self_s("rollup.refresh"),
        "rollup.shuffle_read_bytes": rollup_log.total("shuffle_read_bytes"),
        "rollup.shuffle_write_bytes": rollup_log.total("shuffle_write_bytes"),
        "rollup.spill_bytes": rollup_log.total("spill_bytes"),
        "rollup.agg_build_s": rollup_log.total(AGG_BUILD) / 1e3,
        "rollup.exchanges": ex, "rollup.reused_exchanges": reused,
        "sink.write_s": self_s("sink"),
        "sink.bytes_written": sum(os.path.getsize(f) for f in sink_files),
        "sink.files": len(sink_files),
        "profile.pack_s": self_s("profile.pack"),
        "profile.arrow_bytes_sent": profile_log.total(PY_SENT),
        "profile.arrow_bytes_returned": profile_log.total(PY_RETURNED),
        "profile.python_s": profile_log.total(PY_TIME) / 1e3,
        "profile.tasks": len(prof_py),
        "profile.task_skew": skew([t["duration_ms"] for t in prof_py]),
        "salted.s": self_s("salted"),
        "salted.partial_tasks": len(partial),
        "salted.band_skew": skew(partial),
        "salted.arrow_bytes_sent": salted_log.total(PY_SENT),
        "segments.encode_s": self_s("segments.encode"),
        "segments.decode_s": self_s("segments.decode"),
        "segments.python_s": seg_log.total(PY_TIME) / 1e3,
        "segments.arrow_bytes_sent": seg_log.total(PY_SENT),
        "dedup.s": self_s("dedup"),
        "dedup.shuffle_write_bytes": log("dedup").total("shuffle_write_bytes"),
        **{f"spark.{k}": v for k, v in
           evlog.select([s["id"] for s in spans]).summary().items()},
        **{f"self_s.{layer}": layer_self.get(layer, 0.0) for layer in SELF_LAYERS},
    })
    out.update(exact)
    unknown = set(out) - {m["name"] for m in PER_LAYER}
    if unknown:
        raise KeyError(f"metrics not declared in PER_LAYER: {sorted(unknown)}")
    return out
