"""boundary: the Python boundary, two ways, in one session.

Each cycle is one cycle of ``discovery`` (analyst requests: a few large
float arrays through the kernels, one hot request through the salted
path) followed by one cycle of ``compress_dedup`` (segment encode →
store → decode and MinHash-LSH dedup: many small groups, binary and
string payloads, writes beside reads). A boundary change tuned for the
requests shows on the batches, and the other way round:

- ``latency_p50_s`` and ``latency_tail_s`` are per request, as in
  ``discovery``;
- ``points_per_s`` is segment points encoded plus decoded per second,
  as in ``compress_dedup``.

Both halves share one JVM, so a run pays for one cold start and one
warm-up and measures both for longer than two separate runs could in
the same time.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from perfbench import compress_dedup as C
from perfbench import discovery as D

LATENCY_KIND = D.LATENCY_KIND
CYCLE = D.CYCLE + C.CYCLE
WARM_CYCLES = 1


@dataclass
class State:
    d: D.State
    c: C.State


def setup(run, d: str) -> State:
    return State(D.setup(run, os.path.join(d, "discovery")),
                 C.setup(run, os.path.join(d, "compress_dedup")))


def gate(run, st: State) -> None:
    D.gate(run, st.d)
    C.gate(run, st.c)


def ops(run, st: State):
    requests, batches = D.ops(run, st.d), C.ops(run, st.c)
    while True:
        for _ in range(D.CYCLE):
            yield next(requests)
        for _ in range(C.CYCLE):
            yield next(batches)


def summarize(st: State, samples) -> tuple[float, dict]:
    """Segment points per second; the requests' profiled points per
    second and the batches' extras ride along."""
    seg_per_s, extra = C.summarize(st.c, [s for s in samples if s["kind"] == C.LATENCY_KIND])
    profiled, _ = D.summarize(st.d, samples)
    return seg_per_s, {"profiled_points_per_s": (profiled, "1/s"), **extra}


def traced(run, st: State, tracer) -> dict:
    return {**D.traced(run, st.d, tracer), **C.traced(run, st.c, tracer)}


def trace_ops(run, st: State) -> list:
    return D.trace_ops(run, st.d) + C.trace_ops(run, st.c)
