"""Per-layer metrics of a traced run.

Every value is per round, the median over the traced rounds, except the
session metrics and stored bytes, which are per run. Times are self times
by layer (a span minus its children), so the layers of one request add up
to its wall time. Spark's work is taken from the event log,
attributed by the job group the benchmark set for each phase.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import self_times
from workloads import HOPS

#: Metrics printed by a traced run. A layer that only one workload runs
#: (suite, plans.medallion, sinks) reports its time as a share of the traced
#: round, so the workload that skips it reads 0 as a ratio, not as a
#: constant time; the seconds are in the run record (``layer_seconds``).
UNITS = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "session.runtime_confs_calls": "count",
    "suite.build_share": "ratio",
    "suite.build_py4j_calls": "count",
    "suite.build_jobs": "count",
    "sources.load_s": "s",
    "sources.load_calls": "count",
    "catalyst.plan_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_failures": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.idle_core_s": "s",
    "exec.cpu_utilization": "ratio",
    "exec.input_bytes": "B",
    "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.gc_s": "s",
    **{f"medallion.{hop}_share": "ratio" for hop in HOPS},
    "sinks.write_share": "ratio",
    "sinks.write_calls": "count",
    "sinks.read_share": "ratio",
    "sinks.bytes_written": "B",
    "sinks.files_written": "count",
    "stored_bytes_per_input_byte": "ratio",
    "trace.overhead_s": "s",
}

#: Self or wall seconds of the single-workload layers, kept in the record.
SECONDS = ["suite.build_s", "sinks.write_s", "sinks.read_s", *(f"medallion.{h}_s" for h in HOPS)]

_EXEC_KEYS = (
    "jobs", "stages", "tasks", "task_failures", "task_run_s", "task_cpu_s",
    "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "gc_s",
)


def _parse_group(gid: str):
    """``pb|<workload>|r<round>|<request>|<phase>`` -> (round, request, phase)."""
    parts = gid.split("|")
    if len(parts) != 5 or parts[0] != "pb":
        return None
    return int(parts[2][1:]), parts[3], parts[4]


def summarize(bench, tracer, groups, cpus, stages, stored_ratio, first_timed):
    """(per-layer metrics, layer seconds, per-request rows) of the traced rounds."""
    spans = tracer.spans
    self_s = self_times(spans)
    traced_rounds = [i for i, r in enumerate(bench.rounds) if r.traced and i >= first_timed]
    by_round = defaultdict(list)
    for s in spans:
        by_round[s.round].append(s)
    spark_work = defaultdict(lambda: defaultdict(float))  # (round, request, phase) -> stats
    for gid, st in groups.items():
        key = _parse_group(gid)
        if key is not None:
            for k, v in st.items():
                spark_work[key][k] += v

    rows = []
    requests = defaultdict(lambda: defaultdict(list))  # request -> metric -> per-round values
    for r in traced_rounds:
        row = defaultdict(float)
        per_req = defaultdict(lambda: defaultdict(float))
        for s in by_round[r]:
            row[f"{s.layer}.self_s"] += self_s[s.sid]
            row[f"{s.layer}.{s.name}.calls"] += 1
            row[f"{s.layer}.{s.name}.self_s"] += self_s[s.sid]
            dur = s.t1 - s.t0
            req = per_req[s.req.split(":", 1)[-1]]
            if s.layer == "suite":
                row["suite.build_py4j_calls"] += s.py4j
                req["build_py4j_calls"] += s.py4j
            if s.layer == "sinks" and s.name == "write_table":
                row["sinks.bytes_written"] += s.attrs.get("bytes", 0)
                row["sinks.files_written"] += s.attrs.get("files", 0)
            if s.layer in ("exec", "plans.medallion"):
                row["exec.s"] += dur
            if s.layer == "plans.medallion":
                row[f"medallion.{s.name}_s"] += dur
            if s.layer in ("suite", "catalyst", "exec", "plans.medallion", "request"):
                req[f"{s.layer}_s"] += dur
        for (rr, name, phase), st in spark_work.items():
            if rr != r:
                continue
            if phase == "build":
                row["suite.build_jobs"] += st["jobs"]
            if phase == "exec":
                for k in _EXEC_KEYS:
                    row[f"exec.{k}"] += st[k]
            for k in ("jobs", "stages", "tasks", "task_run_s", "shuffle_write_bytes"):
                per_req[name][f"{phase}_{k}"] += st[k]
        for name, cols in per_req.items():
            for k, v in cols.items():
                requests[name][k].append(v)
        row["suite.build_s"] = row["suite.self_s"]
        row["sinks.write_s"] = row["sinks.write_table.self_s"]
        row["sinks.read_s"] = row["sinks.read_table.self_s"]
        for k in SECONDS:
            row[k.removesuffix("_s") + "_share"] = row[k] / bench.rounds[r].wall_s
        rows.append(row)

    def med(key: str) -> float:
        return statistics.median(row.get(key, 0.0) for row in rows)

    exec_wall = med("exec.s")
    task_run = med("exec.task_run_s")
    traced_walls = [bench.rounds[i].wall_s for i in traced_rounds]
    untraced_walls = [r.wall_s for r in bench.rounds[first_timed:] if not r.traced]
    per_layer = {
        "session.get_spark_s": stages["get_spark_s"],
        "session.warmup_s": sum(r.wall_s for r in bench.rounds[:first_timed]),
        "session.runtime_confs_calls": med("session.apply_runtime_confs.calls"),
        "suite.build_py4j_calls": med("suite.build_py4j_calls"),
        "suite.build_jobs": med("suite.build_jobs"),
        "sources.load_s": med("sources.self_s"),
        "sources.load_calls": med("sources.load_table.calls")
        + med("sources.DataFrameReader.parquet.calls"),
        "catalyst.plan_s": med("catalyst.self_s"),
        "exec.s": exec_wall,
        **{f"exec.{k}": med(f"exec.{k}") for k in _EXEC_KEYS},
        "exec.idle_core_s": cpus * exec_wall - task_run,
        "exec.cpu_utilization": med("exec.task_cpu_s") / (cpus * exec_wall) if exec_wall else 0.0,
        **{k: med(k) for k in (*SECONDS, *(k.removesuffix("_s") + "_share" for k in SECONDS))},
        "sinks.write_calls": med("sinks.write_table.calls"),
        "sinks.bytes_written": med("sinks.bytes_written"),
        "sinks.files_written": med("sinks.files_written"),
        "stored_bytes_per_input_byte": stored_ratio,
        "trace.overhead_s": statistics.median(traced_walls) - statistics.median(untraced_walls),
    }
    seconds = {k: per_layer[k] for k in SECONDS}
    per_layer = {k: per_layer[k] for k in UNITS}
    per_request = {
        name: {k: statistics.median(v) for k, v in cols.items()} for name, cols in requests.items()
    }
    return per_layer, seconds, per_request
