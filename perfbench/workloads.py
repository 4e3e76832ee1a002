"""The three workloads: what one round is and how a request is timed.

``lake_queries`` and ``curation`` partition the 29 HEADLINE queries of
``bench.py``; a request is one builder call plus a noop-sink write, and the
seed sets the request order of every round. ``medallion`` runs
``plans.medallion.run_pipeline`` from landing to gold into one scratch
lake whose paths every round rewrites; one round is one request, and its
five hops are timed one by one.
"""

from __future__ import annotations

import os
import random
import time
import traceback
from dataclasses import dataclass, field

import checks
import host
from spans import Tracer, table_files

LAKE_QUERIES = [
    "flagship_customer_resume",
    "j1_left_join_single_key",
    "a2_dynamic_sum_agg",
    "a3_multi_measure_agg",
    "w1_latest_order_per_customer",
    "w4_running_sum",
    "w6_moving_avg",
    "agg_rollup",
    "sort_topk",
    "events_tumbling_agg",
    "events_sessionization",
    "events_asof_latest_order",
    "stat_exact_moments",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q4_order_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q18_large_volume_customers",
]

CURATION = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "curation_pipeline",
    "sim_bruteforce_topk",
    "text_stats",
    "text_token_histogram",
    "text_tfidf",
    "media_metadata",
]

HOPS = [
    "landing_to_bronze",
    "bronze_to_silver",
    "silver_to_silver",
    "silver_to_gold_customer",
    "silver_to_gold_nation",
]

#: Landing tables the pipeline reads (the denominator of stored bytes).
LANDING = ["orders", "lineitem", "customer", "nation"]

WORKLOADS = {"lake_queries": LAKE_QUERIES, "curation": CURATION, "medallion": HOPS}


def _reason(exc: BaseException) -> str:
    traceback.print_exc()
    first = (str(exc).strip().splitlines() or [""])[0]
    return f"{type(exc).__name__}: {first[:200]}"


@dataclass
class Round:
    wall_s: float
    traced: bool
    #: (request, wall seconds, CPU seconds) in the order they ran
    requests: list[tuple[str, float, float]] = field(default_factory=list)
    #: share of CPU time the host gave to other guests during the round
    steal_pct: float = 0.0
    #: CPU seconds the driver, the JVM and its Python workers used on the
    #: round's requests
    cpu_s: float = 0.0


class Workload:
    """Runs rounds of one workload and keeps every request's latency."""

    def __init__(self, name, spark, seed, data_dir, lake_dir, checker, meter, tracer: Tracer):
        from datalake_nba_dmc_spark.plans import medallion
        from datalake_nba_dmc_spark.suite import load_all

        self.name = name
        self.spark = spark
        self.sc = spark.sparkContext
        self.rng = random.Random(seed)
        self.data_dir = data_dir
        self.lake_dir = lake_dir
        self.checker: checks.Checker = checker
        self.meter: host.CpuMeter = meter
        self.tracer = tracer
        self.specs = load_all()
        self.rounds: list[Round] = []
        self.attempted = 0
        self.failures: list[str] = []
        #: wall seconds spent waiting for correctness checks
        self.check_s = 0.0
        self._hops: list[tuple[str, float, float]] = []
        if name == "medallion":
            self.medallion = medallion
            for hop in HOPS:
                setattr(medallion, hop, self._timed_hop(hop, getattr(medallion, hop)))

    def group(self, request: str, phase: str) -> None:
        gid = f"pb|{self.name}|r{len(self.rounds)}|{request}|{phase}"
        self.sc.setJobGroup(gid, gid)

    def _timed_hop(self, hop, fn):
        def run(*args, **kwargs):
            if self.tracer.active:
                self.tracer.req = f"r{len(self.rounds)}:{hop}"
                self.group(hop, "exec")
            c0, t0 = self.meter.start(), time.perf_counter()
            with self.tracer.span(hop, "plans.medallion"):
                out = fn(*args, **kwargs)
            self._hops.append((hop, time.perf_counter() - t0, self.meter.since(c0)))
            return out

        return run

    def run_round(self, check: bool, traced: bool = False) -> float:
        """One round; returns its wall time. A round's wall and CPU time are
        the sums over its requests (a medallion round's are its hops), so
        checks and the harness's own readings stay outside them."""
        self.tracer.active = traced
        self.tracer.round = len(self.rounds)
        ticks = host.cpu_ticks()
        if self.name == "medallion":
            reqs = self._medallion_round()
        else:
            reqs = self._query_round(check)
        self.tracer.active = False
        done = Round(
            sum(dt for _, dt, _ in reqs), traced, reqs,
            host.steal_pct(ticks, host.cpu_ticks()), sum(c for _, _, c in reqs),
        )
        if self.name == "medallion" and len(reqs) == len(HOPS):
            self._check("gold", "check_gold", self.lake_dir)
        self.rounds.append(done)
        return done.wall_s

    def _check(self, request: str, check: str, *args) -> None:
        """Run one check in the checking process; a failure or an error
        counts against ``request``."""
        t0 = time.perf_counter()
        try:
            bad = self.checker.call(check, *args)
        except Exception as e:  # noqa: BLE001 - a run never aborts on one check
            bad = _reason(e)
        self.check_s += time.perf_counter() - t0
        if bad:
            self._fail(request, bad)

    def _fail(self, request: str, reason: str) -> None:
        self.failures.append(f"round {len(self.rounds)} {request}: {reason}")

    def _query_round(self, check: bool):
        names = list(WORKLOADS[self.name])
        self.rng.shuffle(names)
        reqs = []
        for name in names:
            self.attempted += 1
            try:
                result, dt, cpu = self._request(name, collect=check)
            except Exception as e:  # noqa: BLE001 - a run never aborts on one request
                self._fail(name, _reason(e))
                continue
            reqs.append((name, dt, cpu))
            if check:
                self._check(name, "check_query", name, self.specs[name].oracle, result)
        return reqs

    def _request(self, name: str, collect: bool = False):
        """Build and execute one query: into the noop sink, or, for a
        checked request, collected to pandas.
        Returns (result, wall seconds, CPU seconds)."""
        builder = self.specs[name].builder
        tr = self.tracer
        c0 = self.meter.start()
        if not tr.active:
            t0 = time.perf_counter()
            df = builder(self.spark, self.data_dir)
            if collect:
                result = df.toPandas()
            else:
                result = df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            return result, dt, self.meter.since(c0)
        tr.req = f"r{len(self.rounds)}:{name}"
        with tr.span(name, "request") as req:
            self.group(name, "build")
            with tr.span("build", "suite"):
                df = builder(self.spark, self.data_dir)
            self.group(name, "plan")
            with tr.span("plan", "catalyst"):
                df._jdf.queryExecution().executedPlan()
            self.group(name, "exec")
            with tr.span("exec", "exec"):
                df.write.format("noop").mode("overwrite").save()
        return None, req.t1 - req.t0, self.meter.since(c0)

    def _medallion_round(self):
        self.attempted += 1
        self._hops = []
        self.tracer.req = f"r{len(self.rounds)}"
        try:
            with self.tracer.span(f"round{len(self.rounds)}", "round"):
                self.medallion.run_pipeline(self.spark, self.data_dir, self.lake_dir)
        except Exception as e:  # noqa: BLE001
            self._fail("run_pipeline", _reason(e))
        return self._hops

    def stored_bytes_per_input_byte(self) -> float:
        if self.name != "medallion":
            return 0.0
        stored = sum(
            table_files(os.path.join(self.lake_dir, layer))[0] for layer in ("bronze", "silver", "gold")
        )
        landing = sum(
            os.path.getsize(os.path.join(self.data_dir, f"{t}.parquet")) for t in LANDING
        )
        return stored / landing
