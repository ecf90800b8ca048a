"""Pure helpers for the benchmark's arithmetic: percentiles, the
dedup quality figures and the Spark event-log reduction.

Nothing here imports Spark, so ``perfbench/tests`` checks it in milliseconds.
"""

from __future__ import annotations

import json
import math
import statistics
from collections import defaultdict
from collections.abc import Iterable

# SQL metrics of the Arrow/pandas Python operators (MapInPandas,
# ArrowEvalPython, FlatMapGroupsInPandas): the bytes that cross the
# JVM <-> Python worker boundary, as task accumulator updates
PY_BOUNDARY_METRICS = ("data sent to Python workers", "data returned from Python workers")

SPARK_FIGURES = ("task_time_s", "cpu_s", "shuffle_write_mb", "spill_mb", "gc_s", "task_skew",
                 "py_bytes_mb")


def percentile(values: Iterable[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``q``% of
    the samples at or below it.  Always a measured value, never a blend."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    if not 0 < q <= 100:
        raise ValueError(f"percentile rank {q} outside (0, 100]")
    return xs[max(1, math.ceil(q / 100 * len(xs))) - 1]


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``q`` percentile."""
    return n - max(1, math.ceil(q / 100 * n))


def pair_recall(truth_pairs: list[tuple], component: dict) -> float:
    """Share of ``truth_pairs`` whose two ends carry the same component label.
    An end missing from ``component`` counts as a miss."""
    if not truth_pairs:
        raise ValueError("recall over no pairs")
    hit = sum(
        1 for a, b in truth_pairs
        if a in component and b in component and component[a] == component[b]
    )
    return hit / len(truth_pairs)


def same_family_precision(component: dict, family: dict) -> float:
    """Share of same-cluster pairs whose two members share a family.

    ``component``: member -> cluster label; ``family``: member -> family.
    Counted with C(n, 2) per cluster and per (cluster, family) group, so it
    costs O(members) however large a cluster is.  1.0 when no cluster has
    two members."""
    per_cluster: dict = defaultdict(int)
    per_group: dict = defaultdict(int)
    for m, c in component.items():
        per_cluster[c] += 1
        per_group[(c, family[m])] += 1
    pairs = sum(n * (n - 1) // 2 for n in per_cluster.values())
    same = sum(n * (n - 1) // 2 for n in per_group.values())
    return same / pairs if pairs else 1.0


def set_agreement(got: Iterable, want: Iterable) -> float:
    """|got & want| / |got | want| over hashable items; 1.0 iff equal sets."""
    g, w = set(got), set(want)
    union = g | w
    return len(g & w) / len(union) if union else 1.0


class EventLogReduction:
    """Per-job-group figures from a Spark event log (one JSON event a line).

    A job's ``spark.jobGroup.id`` property names its label (``aliases`` maps
    a group id, such as a streaming query's run id, to a label); a stage
    belongs to the label of the latest job that lists it.  Jobs without a
    group are ignored.  Per label it keeps:

    * ``figures`` — the ``SPARK_FIGURES``; ``task_skew`` is max / median task
      run time in the label's heaviest stage (by summed run time);
    * ``tasks`` — tasks that reported metrics;
    * ``scope_wall_s`` / ``scope_records_read`` — per plan operator name
      (``ArrowEvalPython``, ``FlatMapGroupsInPandas``, ...): summed wall and
      shuffle records read of the stages that run it;
    * ``node_rows`` — per plan node name, its summed ``number of output rows``
      (accumulator ids mapped to nodes through the SQL plan events).
    """

    def __init__(self, lines: Iterable[str], aliases: dict[str, str] | None = None):
        self.aliases = aliases or {}
        self._stage_label: dict[int, str] = {}
        self._acc_node: dict[int, str] = {}
        self._acc: dict[str, dict] = {}
        for line in lines:
            if line.strip():
                self._event(json.loads(line))

    def _label(self, stage_id) -> dict | None:
        label = self._stage_label.get(stage_id)
        if label is None:
            return None
        return self._acc.setdefault(label, {
            "run_ms": 0, "cpu_ns": 0, "shuffle_write": 0, "spill": 0, "gc_ms": 0,
            "py_bytes": 0, "stage_tasks": defaultdict(list), "scope_wall_s": defaultdict(float),
            "scope_records_read": defaultdict(int), "rows_by_acc": defaultdict(int),
            "stage_records_read": defaultdict(int)})

    def _plan(self, node: dict) -> None:
        for m in node.get("metrics", []):
            self._acc_node[m["accumulatorId"]] = node["nodeName"]
        for child in node.get("children", []):
            self._plan(child)

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            label = self.aliases.get(group, group)
            if label:
                for sid in ev.get("Stage IDs", []):
                    self._stage_label[sid] = label
        elif "sparkPlanInfo" in ev:  # SQL execution start / adaptive update
            self._plan(ev["sparkPlanInfo"])
        elif kind == "SparkListenerTaskEnd":
            a = self._label(ev.get("Stage ID"))
            tm = ev.get("Task Metrics")
            if a is None or not tm:
                return
            a["run_ms"] += tm.get("Executor Run Time", 0)
            a["cpu_ns"] += tm.get("Executor CPU Time", 0)
            a["gc_ms"] += tm.get("JVM GC Time", 0)
            a["spill"] += tm.get("Disk Bytes Spilled", 0)
            a["shuffle_write"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            a["stage_records_read"][ev["Stage ID"]] += (tm.get("Shuffle Read Metrics") or {}).get(
                "Total Records Read", 0)
            for upd in (ev.get("Task Info") or {}).get("Accumulables", []):
                name = upd.get("Name")
                if name in PY_BOUNDARY_METRICS:
                    a["py_bytes"] += int(upd.get("Update") or 0)
                elif name == "number of output rows":
                    # resolved to a plan node at read time: an adaptive plan
                    # update can name the accumulator after its tasks ran
                    a["rows_by_acc"][upd.get("ID")] += int(upd.get("Update") or 0)
            a["stage_tasks"][ev["Stage ID"]].append(tm.get("Executor Run Time", 0))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            a = self._label(info["Stage ID"])
            if a is None or "Completion Time" not in info or "Submission Time" not in info:
                return
            wall = (info["Completion Time"] - info["Submission Time"]) / 1e3
            scopes = {json.loads(r["Scope"])["name"] for r in info.get("RDD Info", [])
                      if r.get("Scope")}
            for name in scopes:
                a["scope_wall_s"][name] += wall
                a["scope_records_read"][name] += a["stage_records_read"][info["Stage ID"]]

    def figures(self, label: str) -> dict[str, float]:
        """The ``SPARK_FIGURES`` of one label; zeros if it ran no task."""
        a = self._acc.get(label)
        if a is None or not a["stage_tasks"]:
            return dict.fromkeys(SPARK_FIGURES, 0.0)
        heaviest = max(a["stage_tasks"].values(), key=sum)
        med = statistics.median(heaviest)
        return {
            "task_time_s": a["run_ms"] / 1e3,
            "cpu_s": a["cpu_ns"] / 1e9,
            "shuffle_write_mb": a["shuffle_write"] / 2**20,
            "spill_mb": a["spill"] / 2**20,
            "gc_s": a["gc_ms"] / 1e3,
            "task_skew": max(heaviest) / med if med > 0 else 1.0,
            "py_bytes_mb": a["py_bytes"] / 2**20,
        }

    def tasks(self, label: str) -> int:
        a = self._acc.get(label)
        return sum(len(t) for t in a["stage_tasks"].values()) if a else 0

    def scope_wall_s(self, label: str, scope: str) -> float:
        a = self._acc.get(label)
        return a["scope_wall_s"].get(scope, 0.0) if a else 0.0

    def scope_records_read(self, label: str, scope: str) -> int:
        a = self._acc.get(label)
        return a["scope_records_read"].get(scope, 0) if a else 0

    def node_rows(self, label: str, node: str) -> int:
        a = self._acc.get(label)
        if a is None:
            return 0
        return sum(n for acc, n in a["rows_by_acc"].items() if self._acc_node.get(acc) == node)
