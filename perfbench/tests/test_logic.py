"""The benchmark's own logic, without a JVM: span self time, the tail
percentile rule, failure counting, the event-log parser, seed
determinism and BENCHMARK.json's agreement with the code.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pytest

from perfbench import compress_dedup, discovery, harness as H, layers, run as R
from perfbench.oracle import compare
from perfbench.spans import EventLog, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def span(i, parent, start, end, name="x"):
    return {"id": i, "parent": parent, "start": start, "end": end, "name": name}


def test_self_time_subtracts_children_once():
    spans = [span(0, None, 0.0, 10.0), span(1, 0, 1.0, 4.0), span(2, 0, 3.0, 6.0),
             span(3, 0, 8.0, 12.0), span(4, 1, 1.5, 2.0)]
    st = self_times(spans)
    # children of 0 cover [1, 6] and [8, 10] (clipped): 7 of its 10 s
    assert st[0] == pytest.approx(3.0)
    assert st[1] == pytest.approx(2.5)
    assert st[4] == pytest.approx(0.5)
    assert st[3] == pytest.approx(4.0)


def test_self_time_without_children_is_duration():
    assert self_times([span(0, None, 2.0, 2.5)]) == {0: pytest.approx(0.5)}


@pytest.mark.parametrize("n,pct", [(9, None), (19, None), (20, 50.0), (24, 50.0),
                                   (25, 60.0), (40, 75.0), (99, 80.0),
                                   (100, 90.0), (200, 95.0), (1000, 99.0)])
def test_tail_percentile_keeps_ten_samples_beyond(n, pct):
    assert H.tail_percentile(n) == pct
    if pct is not None:
        rank = int(np.ceil(pct / 100 * n))
        assert n - rank >= 10


def test_latency_summary_reports_rule_and_count():
    s = H.latency_summary([float(i) for i in range(1, 41)])
    assert s == {"p50": 20.5, "tail": 30.0, "tail_pct": 75.0, "n": 40}
    few = H.latency_summary([3.0, 1.0, 2.0])
    assert few["tail"] == 3.0 and few["tail_pct"] == 100.0 and few["n"] == 3


def test_wrong_result_counts_as_failed():
    run = H.Run("rollup_batch", 1, 1.0, False)
    good = H.Op("x", lambda: 1, lambda out: ([], {"points": out}))
    wrong = H.Op("x", lambda: 2, lambda out: (["digest differs"], {}))

    def boom():
        raise RuntimeError("task failed")

    raises = H.Op("x", boom, lambda out: ([], {}))
    assert R.run_op(run, good)["points"] == 1
    assert R.run_op(run, wrong)["kind"] == "x"
    assert R.run_op(run, raises) is None
    assert run.attempted == 3 and len(run.failures) == 2


def test_compare_is_exact_and_dtype_strict():
    a = pd.DataFrame({"k": ["a", "b"], "v": [1.0, np.nan], "n": [1, 2]})
    assert compare(a, a.iloc[::-1]) == []
    assert compare(a, a.assign(v=[1.0 + 1e-15, np.nan]))
    assert compare(a, a.assign(n=[1.0, 2.0]))         # int vs float family
    assert compare(a, a.iloc[:1])


def test_row_digest_is_order_free_and_value_exact():
    a = pd.DataFrame({"k": ["a", "b"], "v": [1.5, 2.5]})
    assert H.row_digest(a, ["k", "v"]) == H.row_digest(a.iloc[::-1], ["k", "v"])
    assert H.row_digest(a, ["k", "v"]) != H.row_digest(a.assign(v=[1.5, 2.0]), ["k", "v"])
    parts = H.digest_by(a, ["k", "v"], "k")
    assert H.wrap_sum(parts.values()) == H.row_digest(a, ["k", "v"])


def _ev(**e):
    return json.dumps(e)


def test_event_log_parser_attributes_tasks_to_spans():
    plan = {"nodeName": "AdaptiveSparkPlan", "simpleString": "AdaptiveSparkPlan isFinalPlan=true",
            "children": [{"nodeName": "Exchange", "simpleString": "Exchange", "children": [
                {"nodeName": "FlatMapGroupsInPandas", "simpleString": "FlatMapGroupsInPandas partial_fn(x)",
                 "metrics": [{"name": "time to run Python workers", "accumulatorId": 7}],
                 "children": [{"nodeName": "ReusedExchange", "simpleString": "", "children": []}]}]}]}

    def task(stage, launch, finish, accum):
        return _ev(Event="SparkListenerTaskEnd", **{"Stage ID": stage}, **{
            "Task Info": {"Launch Time": launch, "Finish Time": finish, "Accumulables": accum},
            "Task Metrics": {"JVM GC Time": 5, "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
                             "Shuffle Read Metrics": {"Local Bytes Read": 40, "Remote Bytes Read": 2},
                             "Input Metrics": {"Bytes Read": 9, "Records Read": 3}}})

    lines = [
        _ev(Event="SparkListenerJobStart", **{"Stage IDs": [0, 1]},
            Properties={"spark.job.description": "span:3:salted", "spark.sql.execution.id": "0"}),
        _ev(Event="org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
            executionId=0, sparkPlanInfo=plan),
        task(0, 0, 10, [{"ID": 7, "Name": "time to run Python workers", "Update": "8"},
                        {"ID": 8, "Name": "data sent to Python workers", "Update": 64}]),
        task(1, 0, 30, []),
        _ev(Event="SparkListenerJobStart", **{"Stage IDs": [2]}, Properties={}),
        task(2, 0, 5, []),
    ]
    log = EventLog.parse(lines)
    salted = log.select([3])
    assert salted.summary() == {"jobs": 1, "stages": 2, "tasks": 2, "gc_s": 0.01,
                                "spill_bytes": 0.0, "shuffle_read_bytes": 84.0,
                                "shuffle_write_bytes": 200.0}
    assert salted.total("time to run Python workers") == 8
    assert salted.total("data sent to Python workers") == 64
    assert salted.exchanges() == (1, 1)
    assert [t["duration_ms"] for t in salted.udf_tasks("partial_fn")] == [10]
    assert len(log.tasks) == 3 and log.tasks[2]["span"] is None


def test_skew_is_max_over_median():
    assert layers.skew([10, 20, 40]) == 2.0
    assert layers.skew([]) == 0.0


def test_same_seed_same_inputs_and_requests():
    a, b, c = (discovery.make_series(s) for s in (7, 7, 8))
    cols = list(a.columns)
    assert H.row_digest(a, cols) == H.row_digest(b, cols) != H.row_digest(c, cols)

    def plan(seed, frame):
        keys = frame.conv_id.unique()
        st = discovery.State(path="", values={}, cold=sorted(k for k in keys if k.startswith("cold")),
                             hot=sorted(k for k in keys if k.startswith("hot")))
        gen = discovery.request_plan(seed, st)
        return [next(gen) for _ in range(6 * discovery.HOT_EVERY)]

    assert plan(7, a) == plan(7, b) != plan(8, c)
    assert sum(hot for _, _, hot in plan(7, a)) == 6

    d1, d2 = compress_dedup.make_documents(7), compress_dedup.make_documents(7)
    assert d1.equals(d2) and not d1.equals(compress_dedup.make_documents(8))
    sizes = {f"c{i}": 300 + 97 * (i % 9) + 4000 * (i % 31 == 0) for i in range(500)}
    st = compress_dedup.State(series="", corpus="", docs=d1, convs=sorted(sizes),
                              conv_points=sizes, groups=list(range(64)), group_docs={})
    p1, p2 = compress_dedup.batch_plan(7, st), compress_dedup.batch_plan(7, st)
    batches = [next(p1) for _ in range(5)]
    assert batches == [next(p2) for _ in range(5)]
    # same shape whatever the seed: a fixed count of conversations, no
    # hot one, and point totals within a few percent of each other
    assert all(len(set(convs)) == compress_dedup.BATCH_CONVS for convs, _ in batches)
    assert all(sizes[c] <= compress_dedup.MAX_CONV_POINTS for convs, _ in batches for c in convs)
    points = [sum(sizes[c] for c in convs) for convs, _ in batches]
    assert max(points) <= 1.05 * min(points)


def test_corpus_matches_the_oracle_construction():
    docs = pd.DataFrame({"doc_id": [0, 1, 3, 5], "text": ["a b c", "d e", "f g h i", "j k"]})
    c = compress_dedup.corpus_of(docs).set_index("doc_id").text.to_dict()
    assert c[10000] == "a b c" and c[10003] == "f g h i" and 10001 not in c
    assert c[20000] == "a b" and c[20005] == "j" and 20003 not in c


def test_slice_pairs_keep_both_ends_in_the_slice():
    ref = pd.DataFrame({"id_a": [1, 2, 3], "id_b": [10001, 10002, 20005],
                        "n_intersect": [5, 5, 4], "n_union": [5, 5, 5]})
    got = compress_dedup.expected_pairs(ref, [1, 3])
    assert got.id_a.tolist() == [1]


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(R.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == R.END_TO_END
    assert spec["per_layer"] == layers.PER_LAYER
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_late_split_is_a_function_of_the_seed(tmp_path):
    from perfbench import rollup_batch as RB

    def split(seed):
        run = H.Run("rollup_batch", seed, 1.0, False, cores=2, work=str(tmp_path))
        st = RB.setup(run, str(tmp_path / f"s{seed}-{len(list(tmp_path.iterdir()))}"))
        return st, {b: sorted(c) for b, c in st.late_convs.items()}

    (st, one), (st2, again), (_, other) = split(5), split(5), split(6)
    assert one == again and one != other
    assert st.on_time_digest == st2.on_time_digest
    assert set(one) <= set(range(RB.LATE_BATCHES))
    # conversation-disjoint batches: the refresh references rely on it
    convs = [c for cs in one.values() for c in cs]
    assert len(convs) == len(set(convs))
    assert st.base_rows > 0 and sum(st.touched.values()) > 0
