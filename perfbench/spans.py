"""Tracing for the benchmark's traced pass, installed from outside the engine.

Spans wrap the engine's public layer functions (by replacing the module
attributes that name them), are kept in memory and written out once at the
end of a run. A span's self time is its wall time minus its children's.
Spark work is attributed to spans through job groups: the benchmark sets
one group per (workload, round, request, phase) and reduces Spark's event
log by group after the session stops.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "datalake_nba_dmc_spark"


class Span:
    __slots__ = ("sid", "parent", "name", "layer", "req", "round", "t0", "t1", "py4j", "attrs")

    def to_json(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


class Tracer:
    """A span stack. Records only while ``active``; counts py4j call
    frames only inside spans (see :meth:`count_py4j`)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.active = False
        self.req: str | None = None
        self.round: int | None = None
        self.py4j_calls = 0
        self.origin = time.perf_counter()

    def inner_layer(self) -> str | None:
        return self.stack[-1].layer if self.stack else None

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.active:
            yield None
            return
        s = Span()
        s.sid = len(self.spans)
        s.parent = self.stack[-1].sid if self.stack else None
        s.name, s.layer, s.req, s.round = name, layer, self.req, self.round
        s.attrs = {}
        s.py4j = self.py4j_calls
        self.spans.append(s)
        self.stack.append(s)
        s.t0 = time.perf_counter() - self.origin
        try:
            yield s
        finally:
            s.t1 = time.perf_counter() - self.origin
            s.py4j = self.py4j_calls - s.py4j
            self.stack.pop()

    def count_py4j(self, gateway_client) -> None:
        """Count py4j CALL frames (``c``) sent while a span is open.
        Proxy-release frames (``m``), which Python's GC emits at random
        moments, are not counted."""
        send = gateway_client.send_command

        def counted(command, *args, **kwargs):
            if self.stack and command.startswith("c\n"):
                self.py4j_calls += 1
            return send(command, *args, **kwargs)

        gateway_client.send_command = counted


def replace_everywhere(orig, new) -> int:
    """Rebind every engine-module attribute that IS ``orig`` to ``new``
    (modules import layer functions by name, so each binding is patched)."""
    n = 0
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == PKG or name.startswith(PKG + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, new)
                n += 1
    return n


def _wrap(tracer: Tracer, fn, name: str, layer: str, skip_inside=()):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not tracer.active or tracer.inner_layer() in skip_inside:
            return fn(*args, **kwargs)
        with tracer.span(name, layer):
            return fn(*args, **kwargs)

    return wrapper


def table_files(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under a table directory."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def _planned_write(tracer: Tracer, write):
    """``write_table`` with the input's physical plan forced first in a
    catalyst span, as a query request does, and the table's size recorded."""

    @functools.wraps(write)
    def wrapper(df, path, *args, **kwargs):
        if not tracer.active:
            return write(df, path, *args, **kwargs)
        with tracer.span("write_table", "sinks") as s:
            with tracer.span("plan", "catalyst"):
                df._jdf.queryExecution().executedPlan()
            out = write(df, path, *args, **kwargs)
        s.attrs["bytes"], s.attrs["files"] = table_files(path)
        return out

    return wrapper


def install_layer_spans(tracer: Tracer) -> None:
    """Wrap the public functions of the session, sources and sinks layers.
    Call after every engine module the workload uses has been imported."""
    from pyspark.sql.readwriter import DataFrameReader

    from datalake_nba_dmc_spark import session, sinks
    from datalake_nba_dmc_spark.sources import registry

    confs = session.apply_runtime_confs
    replace_everywhere(confs, _wrap(tracer, confs, "apply_runtime_confs", "session"))
    load = registry.load_table
    replace_everywhere(
        load, _wrap(tracer, load, "load_table", "sources", skip_inside=("sources", "sinks"))
    )
    DataFrameReader.parquet = _wrap(
        tracer, DataFrameReader.parquet, "DataFrameReader.parquet", "sources",
        skip_inside=("sources", "sinks"),
    )
    write = sinks.write_table
    replace_everywhere(write, _planned_write(tracer, write))
    read = sinks.read_table
    replace_everywhere(read, _wrap(tracer, read, "read_table", "sinks"))


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> wall time minus the wall time of its direct children."""
    child = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.t1 - s.t0
    return {s.sid: (s.t1 - s.t0) - child[s.sid] for s in spans}


# ---------------------------------------------------------------- event log

def _group_stats() -> dict:
    return {
        "jobs": 0, "stages": 0, "tasks": 0, "task_failures": 0, "task_run_s": 0.0,
        "task_cpu_s": 0.0, "gc_s": 0.0, "input_bytes": 0, "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0, "spill_bytes": 0,
    }


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Reduce Spark's JSON event log to per-job-group totals."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(_group_stats)
    paths = sorted(
        os.path.join(root, f) for root, _, files in os.walk(log_dir) for f in files
        if "appstatus" not in f
    )
    for path in paths:
        with open(path, encoding="utf-8", errors="replace") as fh:
            for line in fh:
                kind = line[10:40]
                if "JobStart" in kind:
                    ev = json.loads(line)
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    groups[g]["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = g
                elif "StageCompleted" in kind:
                    ev = json.loads(line)
                    g = stage_group.get(ev["Stage Info"]["Stage ID"], "")
                    groups[g]["stages"] += 1
                elif "TaskEnd" in kind:
                    ev = json.loads(line)
                    st = groups[stage_group.get(ev["Stage ID"], "")]
                    st["tasks"] += 1
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        st["task_failures"] += 1
                    tm = ev.get("Task Metrics") or {}
                    st["task_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    st["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    st["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    st["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                    sr = tm.get("Shuffle Read Metrics") or {}
                    st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = tm.get("Shuffle Write Metrics") or {}
                    st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    st["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
    return dict(groups)
