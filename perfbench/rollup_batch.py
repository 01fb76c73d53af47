"""rollup_batch: the write path.

Transcripts go through ``project_series`` → ``materialize_cascade``
(parquet tiers raw→1m→1h→1d), and late-data batches go through
``refresh_rollup`` against the 1m tier the on-time points produce.
JVM aggregate, exchange and sink work only: no Python boundary, so a
kernel or Arrow change must leave this workload flat.

The input is the oracle's pinned 500 synthetic conversations, so the
``rollup_1m/1h/1d`` oracle text gives every cascade's expected tiers.
The seed picks which points arrive late. Late batches are disjoint by
conversation, so the 1m tier a refresh must produce is known exactly
without recomputing it: the on-time rows of every other conversation
plus the oracle's rows for the batch's conversations.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

from perfbench.harness import Op, digest_by, median, row_digest, wrap_sum
from perfbench.inputs import FILES, SERIES_SQL, duck, load_transcripts, write_parquet
from perfbench.oracle import ORACLE_CONVS, compare, oracle_frames

LATENCY_KIND = "refresh"
LATE_GROUPS = 25            # conversations hash into this many groups ...
LATE_BATCHES = 8            # ... the first 8 of which each form a late batch
LATE_PCT = 25               # share of a late conversation's points that are late
CYCLE_REFRESHES = 2         # refreshes between two cascades
CYCLE = CYCLE_REFRESHES + 1  # a run measures whole cycles of refreshes and a cascade
WARM_CYCLES = 1             # untimed cycles before measuring (the gate ran a cascade already)
TIER_COLS = ["conv_id", "metric", "bucket_epoch", "cnt", "vsum", "vmin",
             "vmax", "sum_sq", "vfirst", "vlast"]


@dataclass
class State:
    transcripts: str
    series: str                  # series points, partitioned by late_batch
    base_1m: str                 # 1m tier of the on-time points
    seed: int
    on_time_digest: dict         # conv_id -> digest of its on-time 1m rows
    late_convs: dict             # batch -> its conversations
    touched: dict                # batch -> buckets the batch invalidates
    base_rows: int
    # references from the oracle, filled by gate()
    points: int = 0              # non-null raw points (from the oracle)
    tier_digest: dict = None     # tier -> digest of the oracle's tier
    expected_refresh: dict = None  # batch -> digest of the refreshed 1m
    n_out: int = 0


def late_batch_sql(seed: int) -> str:
    """Late batch of each series point, or -1 for on-time points: a
    seeded hash picks LATE_BATCHES of LATE_GROUPS conversation groups,
    then LATE_PCT% of each picked conversation's points."""
    group = f"hash(conv_id || '|' || {int(seed)}) % {LATE_GROUPS}"
    pick = f"hash(conv_id || '|' || metric || '|' || idx || '|' || {int(seed)}) % 100"
    return (f"CASE WHEN {group} < {LATE_BATCHES} AND {pick} < {LATE_PCT} "
            f"THEN CAST({group} AS INTEGER) ELSE -1 END")


ROLLUP_1M_SQL = """
SELECT conv_id, metric, CAST(FLOOR(ts_epoch / 60.0) * 60 AS BIGINT) AS bucket_epoch,
       count(value) AS cnt, sum(value) AS vsum, min(value) AS vmin, max(value) AS vmax,
       sum(value * value) AS sum_sq, min_by(value, ts_epoch) AS vfirst,
       max_by(value, ts_epoch) AS vlast
FROM series WHERE value IS NOT NULL AND late_batch = -1
GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


def setup(run, d: str) -> State:
    """The pinned transcripts; their series points, on-time and in late
    batches (one directory per ``late_batch``); and the on-time 1m tier
    the refreshes start from. Built by DuckDB, so the DuckDB frames are
    also the references the refresh checks use."""
    tpath, spath, bpath = (os.path.join(d, x) for x in ("transcripts", "series", "base_1m"))
    with duck(run) as con:
        load_transcripts(con, ORACLE_CONVS)
        write_parquet(con.execute("SELECT * FROM transcripts").arrow(), tpath)
        con.execute(f"CREATE TABLE series AS SELECT *, {late_batch_sql(run.seed)} AS late_batch "
                    f"FROM ({SERIES_SQL}) ORDER BY conv_id, metric, idx")
        for (b,) in con.execute("SELECT DISTINCT late_batch FROM series").fetchall():
            write_parquet(con.execute(
                "SELECT conv_id, metric, idx, ts_epoch, value FROM series "
                f"WHERE late_batch = {b}").arrow(),
                os.path.join(spath, f"late_batch={b}"), files=FILES if b < 0 else 1)
        on_time = con.execute(ROLLUP_1M_SQL).arrow()
        write_parquet(on_time, bpath)
        convs = con.execute("SELECT late_batch, list(DISTINCT conv_id) FROM series "
                            "WHERE late_batch >= 0 GROUP BY 1").fetchall()
        touched = con.execute(
            "SELECT late_batch, count(*) FROM (SELECT DISTINCT late_batch, conv_id, metric, "
            "FLOOR(ts_epoch / 60.0) FROM series WHERE late_batch >= 0 AND value IS NOT NULL) "
            "GROUP BY 1").fetchall()
    return State(
        transcripts=tpath, series=spath, base_1m=bpath, seed=run.seed,
        on_time_digest=digest_by(on_time.to_pandas(), TIER_COLS, "conv_id"),
        late_convs={int(b): set(c) for b, c in convs},
        touched={int(b): n for b, n in touched}, base_rows=on_time.num_rows)


def gate(run, st: State) -> None:
    """One cascade against the rollup_1m/1h/1d oracles, compared column by
    column; the oracle frames then give every later check its reference
    (``rollup_refresh_1m``'s oracle is the same text as ``rollup_1m``)."""
    want = oracle_frames(["rollup_1m", "rollup_1h", "rollup_1d"],
                         run.cores, os.environ["TMPDIR"])
    st.points = int(want["rollup_1m"]["cnt"].sum())
    st.tier_digest = {t: row_digest(want[f"rollup_{t}"], TIER_COLS)
                      for t in ("1m", "1h", "1d")}
    full = digest_by(want["rollup_1m"], TIER_COLS, "conv_id")
    st.expected_refresh = {
        b: wrap_sum([v for c, v in st.on_time_digest.items() if c not in convs]
                    + [full[c] for c in convs])
        for b, convs in st.late_convs.items()}
    op = cascade_op(run, st)
    op.fn()
    got = read_tiers(op.path)
    run.check("oracle rollup_1m/1h/1d", [
        f"rollup_{t}: {e}" for t in ("1m", "1h", "1d")
        for e in (compare(got[t][TIER_COLS], want[f"rollup_{t}"]) if t in got
                  else ["tier missing"])])


def read_tiers(path: str) -> dict:
    t = pq.read_table(path).to_pandas()
    t["tier"] = t["tier"].astype(str)
    return {name: part.drop(columns="tier") for name, part in t.groupby("tier")}


def _out(run, st: State, name: str) -> str:
    st.n_out += 1
    return run.path("out", f"{st.n_out:05d}-{name}")


def cascade_op(run, st: State) -> Op:
    from matrixprofile_spark.operators import rollup
    from matrixprofile_spark.operators import series as S

    path = _out(run, st, "tiers")

    def fn():
        ser = S.project_series(run.spark.read.parquet(st.transcripts))
        return rollup.materialize_cascade(ser, path)

    def check(_):
        tiers = read_tiers(path)
        errs = [] if sorted(tiers) == ["1d", "1h", "1m"] else [f"tiers {sorted(tiers)}"]
        for name, part in tiers.items():
            if row_digest(part, TIER_COLS) != st.tier_digest[name]:
                errs.append(f"tier {name} differs from the oracle's")
            if int(part["cnt"].sum()) != st.points:
                errs.append(f"tier {name} cnt sum {int(part['cnt'].sum())} "
                            f"!= {st.points} raw non-null points")
        return errs, {"points": st.points}

    op = Op("cascade", fn, check)
    op.path = path
    return op


def refresh_op(run, st: State, batch: int) -> Op:
    from matrixprofile_spark.operators import rollup

    path = _out(run, st, f"refresh{batch}")

    def fn():
        spark = run.spark
        base = spark.read.parquet(st.base_1m)
        raw = spark.read.parquet(os.path.join(st.series, "late_batch=-1"))
        late = spark.read.parquet(os.path.join(st.series, f"late_batch={batch}"))
        rollup.refresh_rollup(base, raw, late, 60).write.parquet(path)

    def check(_):
        got = row_digest(pq.read_table(path).to_pandas(), TIER_COLS)
        errs = [] if got == st.expected_refresh[batch] else [
            f"refreshed 1m (batch {batch}) differs from the from-scratch 1m"]
        return errs, {}

    return Op("refresh", fn, check)


def ops(run, st: State):
    """Closed loop: the late batches in a seeded order, a cascade after
    every CYCLE_REFRESHES of them."""
    rng = np.random.default_rng(run.seed)
    while True:
        for i, b in enumerate(rng.permutation(LATE_BATCHES)):
            yield refresh_op(run, st, int(b))
            if i % CYCLE_REFRESHES == CYCLE_REFRESHES - 1:
                yield cascade_op(run, st)


def summarize(st: State, samples) -> tuple[float, dict]:
    """points_per_s (raw points through all three tiers per cascade
    second, median over the run's cascades) and workload-only extras."""
    casc = [s for s in samples if s["kind"] == "cascade"]
    return median([s["points"] / s["seconds"] for s in casc]), {}


def traced(run, st: State, tracer) -> dict:
    """One cascade and two refreshes with every layer forced on its own."""
    from matrixprofile_spark.operators import rollup
    from matrixprofile_spark.operators import series as S

    spark = run.spark
    batches = [int(b) for b in np.random.default_rng(run.seed).permutation(LATE_BATCHES)[:2]]
    tiers_path = _out(run, st, "traced-tiers")
    with tracer.span("op.cycle"):
        with tracer.span("input"):
            t = spark.read.parquet(st.transcripts).localCheckpoint(eager=True)
        with tracer.span("series"):
            ser = S.project_series(t).localCheckpoint(eager=True)
        with tracer.span("rollup.cascade"):
            u = rollup.cascade_union(ser).localCheckpoint(eager=True)
        with tracer.span("sink", path=tiers_path):
            u.write.partitionBy("tier").parquet(tiers_path)
        for b in batches:
            out = _out(run, st, f"traced-refresh{b}")
            with tracer.span("input"):
                base = spark.read.parquet(st.base_1m).localCheckpoint(eager=True)
                raw = spark.read.parquet(os.path.join(st.series, "late_batch=-1")).localCheckpoint(eager=True)
                late = spark.read.parquet(os.path.join(st.series, f"late_batch={b}")).localCheckpoint(eager=True)
            with tracer.span("rollup.refresh"):
                r = rollup.refresh_rollup(base, raw, late, 60).localCheckpoint(eager=True)
            with tracer.span("sink", path=out):
                r.write.parquet(out)
    tier_rows = {tname: int(n) for tname, n in
                 u.groupBy("tier").count().collect()}
    return {
        "series.points_out": ser.count(),
        "rollup.tier_rows.1m": tier_rows["1m"],
        "rollup.tier_rows.1h": tier_rows["1h"],
        "rollup.tier_rows.1d": tier_rows["1d"],
        "refresh.recomputed_frac": median(
            [st.touched[b] / st.base_rows for b in batches]),
    }


def trace_ops(run, st: State) -> list[Op]:
    """The traced pass's work as ordinary operations, unforced."""
    return [cascade_op(run, st)] + [
        refresh_op(run, st, int(b))
        for b in np.random.default_rng(run.seed).permutation(LATE_BATCHES)[:2]]
