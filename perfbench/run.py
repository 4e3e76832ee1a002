"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload {medallion,lake_queries,curation} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. One process, one client, closed loop: Spark
runs as ``local[<nproc>]`` on seeded synthetic data generated under
``.perfbench/`` (the same for every seed; the seed sets the request order).
A run is: data generation (in a child process), imports and session start,
one untimed cold round with every query result checked, untimed warm-up
rounds (``WARMUP_ROUNDS``), then ``--seconds`` worth of timed rounds (see
``SECONDS_PER_ROUND``; always at least one). Medallion checks its gold marts
after every round. Checks run in a process of their own (``checks.py``).
With ``--trace 1`` the timed rounds are split into an untraced half and a
traced half; the traced half records spans and Spark's event log and
reports per-layer metrics. ``--sf`` and ``--data DIR`` (an existing set of
the ten parquet tables) replace the generated input, to compare it with
other data.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; the line before it is the run record (host
facts, every metric, failures), which is also written under
``.perfbench/records/`` together with the spans of a traced run.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

import host

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Scale of the generated input (TPC-H-like; lineitem = 6,000,000 x SF rows).
#: At sf 0.01 a lake_queries run took 100 s on a 4-core host, too long for
#: 48 runs in under an hour. A medallion round cost about the same CPU at
#: 0.01 as at 0.001 (7.7 and 7.4 s), but its peak resident memory then
#: varied by up to a fifth from run to run, as the driver heap reached 1g.
SF = 0.001
#: Seed of the generated input; the run's --seed only orders requests.
DATA_SEED = 42
#: Driver JVM heap, set explicitly and fixed (``-Xms`` too): the engine's
#: default (24g) exceeds the RAM of small hosts. 1g is Spark's own default
#: and what the test suite runs every query with at sf 0.001.
DRIVER_MEMORY = "1g"
#: Untimed warm-up rounds after the cold round. A medallion round's CPU
#: still falls by a third over the three rounds after the cold one (JIT);
#: a lake_queries round's by a fifth from the first warm round to the next.
WARMUP_ROUNDS = {"medallion": 3, "lake_queries": 1, "curation": 0}
#: About how long a warm round takes on a quiet 4-core host. ``--seconds``
#: buys ``seconds / SECONDS_PER_ROUND`` timed rounds: a fixed count per
#: workload, so every run times the same rounds at the same stage of JIT
#: warm-up however busy the host is.
SECONDS_PER_ROUND = {"medallion": 4.0, "lake_queries": 8.0, "curation": 12.0}

#: The metrics a run with ``--trace 0`` reports on its last line. Wall-clock
#: latencies move with how much CPU the host's other guests take (30-50%
#: run-to-run spread measured on a shared 4-vCPU host whose steal time
#: ranged 0.5-27%), so the reported latencies are CPU seconds: what the
#: driver, the JVM and its Python workers spent on the requests, which the
#: host's steal time barely changes. The wall-clock twins are printed and
#: recorded too; ``round_min_s`` is a round at each request's fastest.
END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_round_cpu_s": "s",
    "round_cpu_s": "s",
    "request_cpu_p50_s": "s",
    "request_cpu_p90_s": "s",
    "peak_rss_mb": "MB",
}
WALL_UNITS = {
    "cold_round_s": "s",
    "round_s": "s",
    "round_min_s": "s",
    "request_p50_s": "s",
    "request_p90_s": "s",
}


def _boot_seconds_at_start() -> float:
    """Seconds since boot at which this process started (/proc/self/stat)."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return int(fields[19]) / os.sysconf("SC_CLK_TCK")


def _since_process_start() -> float:
    return time.clock_gettime(time.CLOCK_BOOTTIME) - _boot_seconds_at_start()


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["medallion", "lake_queries", "curation"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--sf", type=float, default=SF, help="scale of the generated input")
    p.add_argument("--data", help="read this input directory instead of generating one")
    return p.parse_args()


def _launch_env(work: str, traced: bool, cpus: int) -> None:
    """Environment for Spark: everything it writes stays under ``work``,
    and Python workers can import the engine from the repository root."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    confs = [
        # a fixed heap: a growing one left the JVM's peak resident memory
        # 860-1220 MB from run to run of the same workload
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY}",
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "spark.ui.showConsoleProgress=false",
    ]
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir={log_dir}",
            "spark.eventLog.compress=false",
        ]
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {shlex.quote(c)}" for c in confs)
        + " pyspark-shell",
        # no hsperfdata file under /tmp from the launcher or driver JVM
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })


def _quantile(values: list[float], q: int) -> float:
    """The q-th percentile (1..99) of ``values``."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def main() -> int:
    args = _args()
    # a SIGTERM unwinds like an error, so every process started is stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (
        os.path.isfile(os.path.join(ROOT, "datalake_nba_dmc_spark", "__init__.py"))
        and os.path.isfile(os.path.join(ROOT, "tools", "verify_local.py"))
    ):
        print(f"error: the engine sources are missing under {ROOT}", file=sys.stderr)
        return 2

    cpus = host.cpu_count()
    before = {"loadavg": host.loadavg_1m(), "ticks": host.cpu_ticks()}
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _launch_env(work, args.trace == 1, cpus)
    sys.path[:0] = [HERE, ROOT]
    try:
        return _run(args, work, base, cpus, before)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _generate(work: str, sf: float) -> str:
    """Write the seeded input under ``work`` in a child process, so that its
    memory and CPU never count against the driver."""
    data_dir = os.path.join(work, "data")
    subprocess.run(
        [sys.executable, os.path.join(HERE, "datagen.py"), data_dir, str(sf), str(DATA_SEED)],
        check=True, stdout=subprocess.DEVNULL,
    )
    return data_dir


def _reap(proc: subprocess.Popen) -> None:
    """Wait for ``proc`` to end; kill it if it has not after a minute."""
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _input_facts(data_dir: str) -> dict[str, dict[str, int]]:
    """Rows and bytes of every input table."""
    import pyarrow.parquet as pq

    facts = {}
    for name in sorted(os.listdir(data_dir)):
        path = os.path.join(data_dir, name)
        facts[name.removesuffix(".parquet")] = {
            "rows": pq.ParquetFile(path).metadata.num_rows,
            "bytes": os.path.getsize(path),
        }
    return facts


def _run(args, work: str, base: str, cpus: int, before: dict) -> int:
    import checks
    from spans import Tracer, install_layer_spans, read_event_log
    from workloads import Workload

    import pyspark
    from datalake_nba_dmc_spark.session import get_spark

    os.chdir(work)
    traced = args.trace == 1
    stages: dict[str, float] = {}
    t = time.perf_counter()
    data_dir = os.path.abspath(args.data) if args.data else _generate(work, args.sf)
    stages["datagen_s"] = time.perf_counter() - t
    checker = checks.Checker(data_dir)
    try:
        t = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        stages["get_spark_s"] = time.perf_counter() - t
        gateway = spark.sparkContext._gateway
        rss = host.RssSampler(gateway.proc.pid).start()
        try:
            java_version = spark._jvm.System.getProperty("java.version")
            tracer = Tracer()
            bench = Workload(
                args.workload, spark, args.seed, data_dir, os.path.join(work, "lake"), checker,
                host.CpuMeter(gateway.proc.pid, rss), tracer,
            )
            if traced:
                install_layer_spans(tracer)
                tracer.count_py4j(gateway._gateway_client)
                spark.sparkContext.setJobGroup("pb|untimed", "pb|untimed")

            bench.run_round(check=True)
            for _ in range(WARMUP_ROUNDS[args.workload]):
                bench.run_round(check=False)
            # the harness's own set-up work is not the program's
            stages["check_s"] = bench.check_s
            setup_s = _since_process_start() - stages["datagen_s"] - stages["check_s"]
            first_timed = len(bench.rounds)

            n = max(1, round(args.seconds / SECONDS_PER_ROUND[args.workload]))
            n_traced = max(1, n // 2) if traced else 0
            for _ in range(max(1, n - n_traced)):
                bench.run_round(check=False)
            for _ in range(n_traced):
                bench.run_round(check=False, traced=True)
            stored_ratio = bench.stored_bytes_per_input_byte()
        finally:
            rss.stop()
            memory = {
                "jvm_hwm_mb": host.hwm_mb(gateway.proc.pid),
                "driver_python_hwm_mb": host.hwm_mb(os.getpid()),
            }
            try:
                spark.stop()
                gateway.shutdown()
            finally:
                # the JVM ends when its stdin closes, even if stop() failed
                gateway.proc.stdin.close()
                _reap(gateway.proc)
                leftover = host.wait_gone(rss.seen)
    finally:
        checker.close()

    input_facts = _input_facts(data_dir)
    untraced = [r for r in bench.rounds[first_timed:] if not r.traced]
    if args.workload == "medallion":
        # a medallion request is one run_pipeline call, a round; its hops
        # are layer spans, timed per hop in the record and the traced run
        walls = [r.wall_s for r in untraced]
        cpus_s = [r.cpu_s for r in untraced]
    else:
        walls = [dt for r in untraced for _, dt, _ in r.requests]
        cpus_s = [c for r in untraced for _, _, c in r.requests]
    fastest: dict[str, float] = {}
    for r in untraced:
        for name, dt, _ in r.requests:
            fastest[name] = min(dt, fastest.get(name, dt))
    end_to_end = {
        "setup_s": setup_s,
        "cold_round_s": bench.rounds[0].wall_s,
        "round_s": statistics.median(r.wall_s for r in untraced),
        "round_min_s": sum(fastest.values()),
        "request_p50_s": statistics.median(walls),
        "request_p90_s": _quantile(walls, 90),
        "peak_rss_mb": rss.peak_mb,
        "cold_round_cpu_s": bench.rounds[0].cpu_s,
        "round_cpu_s": statistics.median(r.cpu_s for r in untraced),
        "request_cpu_p50_s": statistics.median(cpus_s),
        "request_cpu_p90_s": _quantile(cpus_s, 90),
    }
    attempted = bench.attempted
    failed = len(bench.failures)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "traced": traced,
        "host": {
            "nproc": cpus,
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "mem_total_mb": round(host.mem_total_mb()),
            "loadavg_1m_before": before["loadavg"],
            "loadavg_1m_after": host.loadavg_1m(),
            "cpu_steal_pct": host.steal_pct(before["ticks"], host.cpu_ticks()),
            "java": java_version,
            "pyspark": pyspark.__version__,
            "python": sys.version.split()[0],
            "git_commit": host.git_commit(ROOT),
        },
        "sf": None if args.data else args.sf,
        "data_seed": None if args.data else DATA_SEED,
        "data": args.data,
        "input": input_facts,
        "setup_stages": stages,
        "first_timed_round": first_timed,
        "rounds": [dataclasses.asdict(r) for r in bench.rounds],
        "end_to_end": end_to_end,
        "memory": memory,
        "stored_bytes_per_input_byte": stored_ratio,
        "error_rate": failed / attempted if attempted else 1.0,
        "failures": bench.failures,
        "processes_left": leftover,
    }
    if traced:
        import layers

        groups = read_event_log(os.path.join(work, "eventlog"))
        per_layer, seconds, per_query = layers.summarize(
            bench, tracer, groups, cpus, stages, stored_ratio, first_timed
        )
        record.update(per_layer=per_layer, layer_seconds=seconds, per_query=per_query)
        record["spans"] = [s.to_json() for s in tracer.spans]
        metrics = per_layer
        units = layers.UNITS
    else:
        metrics = {k: end_to_end[k] for k in END_TO_END_UNITS}
        units = END_TO_END_UNITS

    record["run_s"] = _since_process_start()
    os.makedirs(os.path.join(base, "records"), exist_ok=True)
    path = os.path.join(
        base, "records",
        f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}.json",
    )
    with open(path, "w") as fh:
        json.dump(record, fh)
    record.pop("spans", None)
    record["record_path"] = os.path.relpath(path, ROOT)
    for f in bench.failures:
        print(f"FAIL {f}")
    print(f"error_rate {record['error_rate']} ({failed}/{attempted})")
    for k, v in end_to_end.items():
        print(f"{k} {v} {END_TO_END_UNITS.get(k) or WALL_UNITS[k]}")
    if traced:
        for k, v in metrics.items():
            print(f"{k} {v} {units[k]}")
    print(json.dumps({"record": {k: v for k, v in record.items() if k != "rounds"}}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
