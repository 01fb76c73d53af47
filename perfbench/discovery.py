"""discovery: analyst requests over a long-series table.

Each request runs ``pack_series`` → ``mpx_profiles`` → ``with_discoveries``
→ collect for one series at a seed-chosen window. Every fourth request
goes to a hot series above the salting threshold through
``salted_mpx_profiles``; those set the latency tail. The kernels and the
Arrow boundary do the work here; ``operators.rollup`` does none.
"""

from __future__ import annotations

import math
import os
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from perfbench.harness import Op
from perfbench.inputs import duck, load_transcripts, write_parquet
from perfbench.oracle import ORACLE_CONVS, compare, oracle_frames

LATENCY_KIND = "request"
N_COLD, N_HOT = 40, 2
COLD_LEN = 600                  # points per cold series
HOT_LEN = 5000
HOT_THRESHOLD = 4096            # salting threshold on series length
BANDS = 8
WINDOWS = (16, 24, 32)
HOT_EVERY = 1 + len(WINDOWS)    # a cycle: one hot request, then a cold one per window
CYCLE = HOT_EVERY               # a run measures whole cycles
WARM_CYCLES = 1                 # untimed cycles before measuring


@dataclass
class State:
    path: str
    values: dict                          # conv_id -> np.ndarray
    cold: list
    hot: list
    expected: dict = field(default_factory=dict)   # (key, w) -> discoveries


def make_series(seed: int) -> pd.DataFrame:
    """Random walks with a planted repeated shape and one spike per
    series, so every profile has a clear motif pair and discord."""
    rng = np.random.default_rng(seed)
    frames = []
    for i in range(N_COLD + N_HOT):
        n = HOT_LEN if i < N_HOT else COLD_LEN
        v = np.cumsum(rng.standard_normal(n))
        shape = 4.0 * np.sin(np.linspace(0, 3 * np.pi, 24))
        for at in rng.choice(n - 24, size=3, replace=False):
            v[at:at + 24] += shape
        v[int(rng.integers(0, n))] += 25.0
        frames.append(pd.DataFrame({
            "conv_id": f"{'hot' if i < N_HOT else 'cold'}-{i:04d}",
            "metric": "value", "idx": np.arange(n, dtype=np.int64),
            "ts_epoch": 1_600_000_000 + 60 * np.arange(n, dtype=np.int64),
            "value": np.round(v, 3)}))
    return pd.concat(frames, ignore_index=True)


def setup(run, d: str) -> State:
    import pyarrow as pa

    pdf = make_series(run.seed)
    path = os.path.join(d, "long_series")
    write_parquet(pa.Table.from_pandas(pdf, preserve_index=False), path)
    values = {k: g.sort_values("idx")["value"].to_numpy(np.float64)
              for k, g in pdf.groupby("conv_id")}
    return State(path=path, values=values,
                 cold=sorted(k for k in values if k.startswith("cold")),
                 hot=sorted(k for k in values if k.startswith("hot")))


# the mpx_w16 oracle's fixture: the token_count series of the 5 smallest
# conversation ids with 64..400 turns among the pinned 500
FIXTURE_SQL = """
WITH sizes AS (SELECT conv_id, count(*) AS n FROM transcripts GROUP BY 1),
chosen AS (SELECT conv_id FROM sizes WHERE n BETWEEN 64 AND 400 ORDER BY conv_id LIMIT 5)
SELECT conv_id, 'token_count' AS metric, CAST(turn_idx AS BIGINT) AS idx, ts_epoch,
       CAST(length(text) AS DOUBLE) AS value
FROM transcripts JOIN chosen USING (conv_id)
"""


def gate(run, st: State) -> None:
    """On the oracle's own fixture, in one pass: mpx_profiles against
    the mpx_w16 oracle; salted_mpx_profiles, with every series hot,
    bit-equal to mpx_profiles; and both bit-equal to the same kernel
    run in this process."""
    from pyspark.sql import functions as F

    from matrixprofile_spark.kernels import workflows as W
    from matrixprofile_spark.operators import profile as P
    from matrixprofile_spark.operators.salted import salted_mpx_profiles

    want = oracle_frames(["mpx_w16"], run.cores, os.environ["TMPDIR"])["mpx_w16"]
    with duck(run) as con:
        load_transcripts(con, ORACLE_CONVS)
        fixture = con.execute(FIXTURE_SQL).df()
    chosen = P.pack_series(run.spark.createDataFrame(fixture)).localCheckpoint(eager=True)
    prof = P.mpx_profiles(chosen, 16, packed=True, n_groups=5).localCheckpoint(eager=True)
    got = (prof.select("conv_id", F.posexplode("mp").alias("idx", "dist"))
           .select("conv_id", F.col("idx").cast("bigint").alias("idx"),
                   F.round("dist", 2).alias("dist_r2")).toPandas())
    run.check("oracle mpx_w16", compare(got, want))
    values = {k: g.sort_values("idx")["value"].to_numpy(np.float64)
              for k, g in fixture.groupby("conv_id")}
    plain = {r["conv_id"]: r for r in prof.collect()}
    salted = {r["conv_id"]: r for r in salted_mpx_profiles(
        chosen, 16, hot_threshold=64, bands=BANDS, packed=True, checkpoint=False,
        n_groups=5).collect()}
    errs = []
    for k, v in values.items():
        ref = W.mpx_profile(v, 16)
        for name, got in (("mpx_profiles", plain.get(k)), ("salted", salted.get(k))):
            if got is None or not (np.array_equal(np.asarray(got["mp"]), ref["mp"])
                                   and np.array_equal(np.asarray(got["pi"]), ref["pi"])):
                errs.append(f"{name} profile of {k} != in-process mpx")
    run.check("salted == mpx_profiles == in-process mpx", errs)


def reference(st: State, key: str, w: int) -> dict:
    """Discoveries from the same kernels run in this process, cached per (key, w)."""
    if (key, w) not in st.expected:
        from matrixprofile_spark.kernels import discover as D
        from matrixprofile_spark.kernels import workflows as W

        values = st.values[key]
        prof = W.mpx_profile(values, w)
        st.expected[(key, w)] = {**discover(values, prof["mp"], prof["pi"], w, D),
                                 "mp": prof["mp"], "pi": prof["pi"]}
    return st.expected[(key, w)]


def discover(values, mp, pi, w, D) -> dict:
    """with_discoveries' per-row kernel calls, with its defaults."""
    ez = int(np.ceil(w / 4.0))
    mot = D.top_k_motifs(values, mp, pi, w, ez=ez, k=3, max_neighbors=10, radius=3)
    cac = D.fluss(pi, w)
    return {
        "discords": [int(x) for x in D.top_k_discords(mp, w, ez=ez, k=3)],
        "motif_pairs": [[int(x) for x in m["motifs"]] for m in mot],
        "motif_neighbors": [[int(x) for x in m["neighbors"]] for m in mot],
        "regimes": ([int(x) for x in D.extract_regimes(cac, w)]
                    if len(cac) > 10 * w else []),
    }


def request_chain(run, st: State, key: str, w: int, hot: bool):
    """pack → (salted) mpx → with_discoveries, unforced."""
    from pyspark.sql import functions as F

    from matrixprofile_spark.operators import profile as P
    from matrixprofile_spark.operators.salted import salted_mpx_profiles

    packed = P.pack_series(run.spark.read.parquet(st.path).where(F.col("conv_id") == key))
    if hot:
        prof = salted_mpx_profiles(packed, w, hot_threshold=HOT_THRESHOLD, bands=BANDS,
                                   packed=True, n_groups=1)
    else:
        prof = P.mpx_profiles(packed, w, packed=True, n_groups=1)
    return P.with_discoveries(prof, packed, packed=True, n_groups=1)


def request_op(run, st: State, key: str, w: int, hot: bool) -> Op:
    def fn():
        return request_chain(run, st, key, w, hot).collect()

    def check(rows):
        want = reference(st, key, w)
        info = {"points": len(st.values[key]), "hot": hot}
        if len(rows) != 1:
            return [f"{key} w={w}: {len(rows)} discovery rows"], info
        r = rows[0]
        got = {"discords": [int(x) for x in r["discords"]],
               "motif_pairs": [[int(x) for x in m] for m in r["motif_pairs"]],
               "motif_neighbors": [[int(x) for x in m] for m in r["motif_neighbors"]],
               "regimes": [int(x) for x in r["regimes"]]}
        return [f"{key} w={w}: {k} {got[k]} != {want[k]}" for k in got if got[k] != want[k]], info

    return Op(LATENCY_KIND, fn, check)


def request_plan(seed: int, st: State):
    """Seeded requests, a cycle at a time: one hot request at a seeded
    window, then the cold ones with the windows in a seeded order, so
    every cycle profiles the same mix of window lengths."""
    rng = np.random.default_rng(seed)
    while True:
        yield str(rng.choice(st.hot)), int(rng.choice(WINDOWS)), True
        for w in rng.permutation(WINDOWS):
            yield str(rng.choice(st.cold)), int(w), False


def ops(run, st: State):
    for key, w, hot in request_plan(run.seed, st):
        yield request_op(run, st, key, w, hot)


def summarize(st: State, samples) -> tuple[float, dict]:
    """Series points profiled per request second, over the run."""
    req = [s for s in samples if s["kind"] == LATENCY_KIND]
    return (sum(s["points"] for s in req) / sum(s["seconds"] for s in req), {})


def diagonal_cells(n: int, w: int) -> int:
    """Cells the MPX self-join evaluates: diagonals minlag+1 .. pl-1,
    diagonal d holding pl-d cells."""
    pl, minlag = n - w + 1, int(math.ceil(w / 4.0))
    m = max(0, pl - minlag - 1)
    return m * (m + 1) // 2


def traced(run, st: State, tracer) -> dict:
    """The first cold and first hot request, every layer forced, then
    the same kernels replayed in this process for kernel-only time."""
    from pyspark.sql import functions as F

    from matrixprofile_spark.kernels import _native
    from matrixprofile_spark.kernels import discover as D
    from matrixprofile_spark.kernels import workflows as W
    from matrixprofile_spark.operators import profile as P
    from matrixprofile_spark.operators.salted import salted_mpx_profiles

    plan = traced_requests(run.seed, st)
    for key, w, hot in plan:
        with tracer.span("op.request"):
            with tracer.span("input"):
                sub = (run.spark.read.parquet(st.path).where(F.col("conv_id") == key)
                       .localCheckpoint(eager=True))
            with tracer.span("profile.pack"):
                packed = P.pack_series(sub).localCheckpoint(eager=True)
            if hot:
                with tracer.span("salted"):
                    prof = salted_mpx_profiles(
                        packed, w, hot_threshold=HOT_THRESHOLD, bands=BANDS,
                        packed=True, n_groups=1).localCheckpoint(eager=True)
            else:
                with tracer.span("profile.mpx"):
                    prof = P.mpx_profiles(packed, w, packed=True,
                                          n_groups=1).localCheckpoint(eager=True)
            with tracer.span("profile.discover"):
                P.with_discoveries(prof, packed, packed=True, n_groups=1).collect()
    mpx_s = disc_s = 0.0
    cells = 0
    for key, w, _ in plan:
        values = st.values[key]
        t0 = time.perf_counter()
        prof = W.mpx_profile(values, w)
        t1 = time.perf_counter()
        discover(values, prof["mp"], prof["pi"], w, D)
        disc_s += time.perf_counter() - t1
        mpx_s += t1 - t0
        cells += diagonal_cells(len(values), w)
    return {"kernels.mpx_s": mpx_s, "kernels.cells": cells,
            "kernels.cells_per_s": cells / mpx_s, "kernels.discover_s": disc_s,
            "kernels.native": int(_native.available())}


def traced_requests(seed: int, st: State) -> list:
    plan, seen = [], set()
    for key, w, hot in request_plan(seed, st):
        if hot not in seen:
            seen.add(hot)
            plan.append((key, w, hot))
        if len(seen) == 2:
            return plan


def trace_ops(run, st: State) -> list[Op]:
    """The traced pass's work as ordinary operations, unforced."""
    return [request_op(run, st, key, w, hot) for key, w, hot in traced_requests(run.seed, st)]
