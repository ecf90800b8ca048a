"""Self-tests of the benchmark's own arithmetic (no Spark):

    python3 -m pytest perfbench/tests -q
"""

import json

import pytest

from perfbench import stats
from perfbench.workloads import batch_figures


def test_percentile_is_nearest_rank():
    xs = list(range(1, 11))
    assert stats.percentile(xs, 50) == 5
    assert stats.percentile(xs, 90) == 9
    assert stats.percentile(xs, 100) == 10
    assert stats.percentile(reversed(xs), 10) == 1
    assert stats.percentile([7.5], 90) == 7.5
    for bad in (0, 101):
        with pytest.raises(ValueError):
            stats.percentile(xs, bad)
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_samples_beyond_the_percentile():
    # p90 needs 100 samples to have ten beyond it
    assert stats.samples_beyond(100, 90) == 10
    assert stats.samples_beyond(11, 90) == 1
    assert stats.samples_beyond(10, 50) == 5
    xs = list(range(37))
    p = stats.percentile(xs, 90)
    assert sum(x > p for x in xs) == stats.samples_beyond(len(xs), 90)


def test_pair_recall_counts_split_and_missing_ends_as_misses():
    comp = {1: 1, 2: 1, 3: 3, 4: 4}
    assert stats.pair_recall([(1, 2)], comp) == 1.0
    assert stats.pair_recall([(1, 2), (3, 4), (1, 99)], comp) == pytest.approx(1 / 3)
    with pytest.raises(ValueError):
        stats.pair_recall([], comp)


def test_same_family_precision_counts_pairs_per_cluster():
    # cluster 0 = {a, b, c} with families x, x, y: 3 pairs, 1 same-family;
    # cluster 1 = {d, e}, both z: 1 pair, same family
    comp = {"a": 0, "b": 0, "c": 0, "d": 1, "e": 1, "f": 2}
    fam = {"a": "x", "b": "x", "c": "y", "d": "z", "e": "z", "f": "w"}
    assert stats.same_family_precision(comp, fam) == pytest.approx(2 / 4)
    assert stats.same_family_precision({"a": 0, "b": 1}, {"a": 1, "b": 1}) == 1.0


def test_set_agreement():
    assert stats.set_agreement({1, 2, 3}, {1, 2, 3}) == 1.0
    assert stats.set_agreement({1, 2}, {2, 3}) == pytest.approx(1 / 3)
    assert stats.set_agreement([], []) == 1.0


def _task(stage, run_ms, cpu_ns=0, gc=0, spill=0, shuffle=0, records=0, accs=()):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Accumulables": [dict(a) for a in accs]},
            "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                             "JVM GC Time": gc, "Disk Bytes Spilled": spill,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                             "Shuffle Read Metrics": {"Total Records Read": records}}}


def _stage_done(stage, submitted, completed, scopes):
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": stage, "Submission Time": submitted,
                           "Completion Time": completed,
                           "RDD Info": [{"Scope": json.dumps({"id": "1", "name": s})}
                                        for s in scopes] + [{}]}}


def test_event_log_reduction_per_label():
    plan = {"nodeName": "AdaptiveSparkPlan", "metrics": [], "children": [
        {"nodeName": "ArrowEvalPython", "children": [],
         "metrics": [{"name": "number of output rows", "accumulatorId": 7}]},
        {"nodeName": "Filter", "children": [],
         "metrics": [{"name": "number of output rows", "accumulatorId": 8}]}]}
    py = {"ID": 5, "Name": "data sent to Python workers", "Update": 2**20}
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "match"}},
        _task(0, 1000, cpu_ns=5 * 10**8, shuffle=2**20, accs=[
            py, {"ID": 7, "Name": "number of output rows", "Update": 40},
            {"ID": 8, "Name": "number of output rows", "Update": 3}]),
        _task(0, 3000, gc=500, spill=2**21),
        _task(0, 2000),
        _stage_done(0, 10_000, 14_000, ["ArrowEvalPython", "Exchange"]),
        _task(1, 100, records=12, accs=[{"ID": 9, "Name": "number of output rows", "Update": 5}]),
        _stage_done(1, 14_000, 14_500, ["FlatMapGroupsInPandas"]),
        # an adaptive re-plan may name an accumulator only after its tasks ran
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
         "sparkPlanInfo": {"nodeName": "ArrowEvalPython", "children": [],
                           "metrics": [{"name": "number of output rows", "accumulatorId": 9}]}},
        # an ungrouped job and a streaming run id mapped through an alias
        {"Event": "SparkListenerJobStart", "Stage IDs": [2], "Properties": {}},
        _task(2, 9999),
        {"Event": "SparkListenerJobStart", "Stage IDs": [3],
         "Properties": {"spark.jobGroup.id": "run-uuid"}},
        _task(3, 250),
    ]
    lines = [json.dumps(e) + "\n" for e in events] + ["\n"]
    ev = stats.EventLogReduction(lines, aliases={"run-uuid": "stream"})
    fig = ev.figures("match")
    assert fig["task_time_s"] == pytest.approx(6.1)
    assert fig["cpu_s"] == pytest.approx(0.5)
    assert fig["gc_s"] == pytest.approx(0.5)
    assert fig["spill_mb"] == pytest.approx(2.0)
    assert fig["shuffle_write_mb"] == pytest.approx(1.0)
    assert fig["py_bytes_mb"] == pytest.approx(1.0)
    # heaviest stage 0: tasks 1000/3000/2000 ms -> max 3000 / median 2000
    assert fig["task_skew"] == pytest.approx(1.5)
    assert ev.tasks("match") == 4
    assert ev.scope_wall_s("match", "ArrowEvalPython") == pytest.approx(4.0)
    assert ev.scope_wall_s("match", "FlatMapGroupsInPandas") == pytest.approx(0.5)
    assert ev.scope_records_read("match", "FlatMapGroupsInPandas") == 12
    assert ev.node_rows("match", "ArrowEvalPython") == 45
    assert ev.node_rows("match", "Filter") == 3
    # the ungrouped job's task is in no label; the run id's is in its alias
    assert ev.figures("stream")["task_time_s"] == pytest.approx(0.25)
    assert ev.tasks("stream") == 1
    assert ev.figures("cc") == dict.fromkeys(stats.SPARK_FIGURES, 0.0)
    assert ev.tasks("cc") == 0


def test_batch_figures_from_progress_records():
    progress = [
        {"timestamp": f"2026-01-01T00:00:0{i}.000Z", "numInputRows": 16,
         "durationMs": {"triggerExecution": ms, "addBatch": ms - 100}}
        for i, ms in enumerate([900, 1000, 1100, 950, 1200])
    ]
    bf = batch_figures(progress)
    assert bf["n"] == 5 and bf["docs"] == 80
    assert bf["p50_ms"] == 1000 and bf["p90_ms"] == 1200
    assert bf["add_batch_p50_ms"] == 900
    # first trigger starts at :00, the last starts at :04 and runs 1.2 s
    assert bf["span_s"] == pytest.approx(5.2)
    assert bf["beyond_p90"] == 0
