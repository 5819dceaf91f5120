"""Per-job-group task metrics from Spark's own event log.

The benchmark switches the event log on (uncompressed, not rolled)
through session confs set at launch, tags every call into the program
with a Spark job group, and reads the log back after the session stops.
Nothing here touches the program's code.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

MB = 1024 * 1024
_ROWS = "number of output rows"
# Operators that pass rows on unchanged.
_PASS_THROUGH = (
    "Project",
    "Exchange",
    "AQEShuffleRead",
    "ShuffleQueryStage",
    "InputAdapter",
    "WholeStageCodegen",
    "ColumnarToRow",
)


def log_file(log_dir: str) -> str:
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return files[0]


def _events(path: str):
    with open(path) as f:
        for line in f:
            yield json.loads(line)


class GroupStats:
    __slots__ = (
        "jobs", "stages", "tasks", "run_ms", "cpu_ns", "gc_ms",
        "shuffle_read", "shuffle_write", "spill",
    )

    def __init__(self) -> None:
        for name in self.__slots__:
            setattr(self, name, 0)


def _row_count_ids(plan: dict, node_name: str, out: set[int]) -> None:
    """Accumulator ids of the rows fed into each ``node_name`` node: the
    output row count of the join or filter below it, looked up through
    operators that pass rows on unchanged."""
    if plan["nodeName"].startswith(node_name):
        child = plan["children"][0] if plan["children"] else None
        while child is not None:
            name = child["nodeName"]
            if "Join" in name or name.startswith("Filter"):
                out.update(m["accumulatorId"] for m in child["metrics"] if m["name"] == _ROWS)
                break
            if not name.startswith(_PASS_THROUGH) or len(child["children"]) != 1:
                break
            child = child["children"][0]
    for c in plan["children"]:
        _row_count_ids(c, node_name, out)


def summarize(path: str):
    """Task metrics per job group, and per job group the number of rows
    fed into ``MapInPandas`` nodes (the Python stages)."""
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    stats: dict[str, GroupStats] = defaultdict(GroupStats)
    feed_ids: dict[int, set[int]] = defaultdict(set)
    acc_sum: dict[int, int] = defaultdict(int)
    wanted: set[int] = set()
    for ev in _events(path):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if group is None:
                continue
            # A streaming query tags its jobs with its run id as the job
            # group and with the micro-batch id.
            batch = props.get("streaming.sql.batchId")
            if batch is not None:
                group = f"{group}@{batch}"
            stats[group].jobs += 1
            for sid in ev["Stage IDs"]:
                stage_group.setdefault(sid, group)
            exec_id = props.get("spark.sql.execution.id")
            if exec_id is not None:
                exec_group.setdefault(int(exec_id), group)
        elif kind == "SparkListenerStageCompleted":
            group = stage_group.get(ev["Stage Info"]["Stage ID"])
            if group is not None:
                stats[group].stages += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            if group is None:
                continue
            s = stats[group]
            m = ev.get("Task Metrics") or {}
            s.tasks += 1
            s.run_ms += m.get("Executor Run Time", 0)
            s.cpu_ns += m.get("Executor CPU Time", 0)
            s.gc_ms += m.get("JVM GC Time", 0)
            s.spill += m.get("Disk Bytes Spilled", 0)
            rd = m.get("Shuffle Read Metrics") or {}
            s.shuffle_read += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            s.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                if acc["ID"] in wanted and "Update" in acc:
                    acc_sum[acc["ID"]] += int(acc["Update"])
        elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            ids = feed_ids[ev["executionId"]]
            _row_count_ids(ev["sparkPlanInfo"], "MapInPandas", ids)
            wanted |= ids
    rows_in: dict[str, int] = defaultdict(int)
    for exec_id, ids in feed_ids.items():
        group = exec_group.get(exec_id)
        if group is not None:
            rows_in[group] += sum(acc_sum.get(i, 0) for i in ids)
    return stats, rows_in
