"""Correctness checks, run outside every timed region and in a process of
their own (:class:`Checker`), so that neither DuckDB nor the comparisons add
to the CPU time or the memory the benchmark measures.

Queries with an oracle are compared with DuckDB's result of the same
oracle SQL over the same parquet files (row count, column names and the
order-insensitive value hash of ``tools/verify_local``). Rows-only queries
are checked for their column names and a non-empty result. The medallion
gold marts are compared with an independent DuckDB computation from the
landing files.
"""

from __future__ import annotations

import os
import pickle
import subprocess
import sys

#: Column names of the rows-only queries; their values may change on purpose.
ROWS_ONLY_COLUMNS = {
    "dedup_minhash_lsh": ["id_a", "id_b", "jaccard"],
    "dedup_simhash": ["id_a", "id_b", "hamming"],
}

#: Money sums are compared as integers at the suite's 10^-4 scale.
SCALE = 10_000


class Checker:
    """The checking process: this file run as a script over ``data_dir``.
    It answers each pickled ``(check name, args)`` on its stdin with a
    pickled ``(ok, value)`` on its stdout, and exits at the end of its
    input, so it also ends when the benchmark process does, however that
    ends. The caller closes it."""

    def __init__(self, data_dir: str):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), data_dir],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
        )

    def call(self, check: str, *args):
        """The value of ``check(*args)`` in the checking process."""
        pickle.dump((check, args), self.proc.stdin, protocol=pickle.HIGHEST_PROTOCOL)
        self.proc.stdin.flush()
        ok, value = pickle.load(self.proc.stdout)
        if not ok:
            raise RuntimeError(value)
        return value

    def close(self) -> None:
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()


#: State of the checking process: its DuckDB connection, the hash of
#: ``tools/verify_local`` and what it has already computed from the inputs
#: (oracle digests, expected gold marts). DuckDB is imported there only.
_con = None
_hash = None
_expected: dict = {}


def _init(data_dir: str) -> None:
    global _con, _hash
    import duckdb

    from datalake_nba_dmc_spark.sources import TABLES
    from tools.verify_local import canonical_hash

    _con, _hash = duckdb.connect(), canonical_hash
    _con.execute("SET threads TO 1")
    for t in TABLES:
        _con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t + '.parquet')}'"
        )


def check_query(name: str, oracle: str | None, result) -> str | None:
    """None if ``result`` (a pandas DataFrame) is right, else a one-line reason."""
    if oracle is None:
        want = ROWS_ONLY_COLUMNS.get(name)
        if want is not None and sorted(result.columns) != sorted(want):
            return f"columns {sorted(result.columns)} != {sorted(want)}"
        return None if len(result) else "empty result"
    if name not in _expected:
        odf = _con.execute(oracle).df()
        _expected[name] = (len(odf), sorted(odf.columns), _hash(odf))
    rows, cols, digest = _expected[name]
    if len(result) != rows:
        return f"rows {len(result)} != {rows}"
    if sorted(result.columns) != cols:
        return f"columns {sorted(result.columns)} != {cols}"
    got = _hash(result)
    return None if got == digest else f"hash {got} != {digest}"


_GOLD_CUSTOMER = f"""
WITH cust AS (SELECT DISTINCT * FROM customer),
oc AS (
  SELECT o.o_custkey AS custkey, c.c_name AS customer_name, c.c_mktsegment,
         o.o_orderkey, CAST(o.o_orderdate AS DATE) AS o_orderdate,
         o.o_orderpriority, o.o_totalprice
  FROM orders o LEFT JOIN cust c ON o.o_custkey = c.c_custkey),
latest AS (
  SELECT custkey, o_orderkey AS latest_orderkey, o_orderpriority AS latest_priority
  FROM (SELECT *, row_number() OVER (
          PARTITION BY custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM oc) WHERE rn = 1)
SELECT t.custkey, t.customer_name, t.c_mktsegment, t.price, t.active_days,
       l.latest_orderkey, l.latest_priority
FROM (SELECT custkey, customer_name, c_mktsegment,
             SUM(ROUND(o_totalprice * {SCALE}))::BIGINT AS price,
             COUNT(DISTINCT o_orderdate) AS active_days
      FROM oc GROUP BY ALL) t
LEFT JOIN latest l USING (custkey)
"""

_GOLD_NATION = f"""
WITH cust AS (SELECT DISTINCT * FROM customer),
li AS (
  SELECT c.c_nationkey, l.l_quantity, l.l_extendedprice,
         CAST(o.o_orderdate AS DATE) AS o_orderdate
  FROM lineitem l
  LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
  LEFT JOIN cust c ON o.o_custkey = c.c_custkey)
SELECT li.c_nationkey, n.n_name,
       SUM(ROUND(l_quantity * {SCALE}))::BIGINT AS qty,
       SUM(ROUND(l_extendedprice * {SCALE}))::BIGINT AS price,
       COUNT(DISTINCT o_orderdate) AS active_days
FROM li LEFT JOIN nation n ON li.c_nationkey = n.n_nationkey
GROUP BY ALL
"""


def check_gold(lake: str) -> str | None:
    """Compare the gold marts written under ``lake`` with an independent
    computation from the landing files."""
    if "gold" not in _expected:
        _expected["gold"] = {
            "customer_resume": sorted(_con.execute(_GOLD_CUSTOMER).fetchall(), key=repr),
            "nation_resume": sorted(_con.execute(_GOLD_NATION).fetchall(), key=repr),
        }
    got = {
        "customer_resume": f"""
            SELECT custkey, customer_name, c_mktsegment,
                   ROUND(o_totalprice * {SCALE})::BIGINT, active_days,
                   latest_orderkey, latest_priority
            FROM read_parquet('{lake}/gold/customer_resume/*.parquet')""",
        "nation_resume": f"""
            SELECT c_nationkey, n_name, ROUND(l_quantity * {SCALE})::BIGINT,
                   ROUND(l_extendedprice * {SCALE})::BIGINT, active_days
            FROM read_parquet('{lake}/gold/nation_resume/*.parquet')""",
    }
    for mart, sql in got.items():
        rows = sorted(_con.execute(sql).fetchall(), key=repr)
        want = _expected["gold"][mart]
        if len(rows) != len(want):
            return f"{mart}: {len(rows)} rows != {len(want)}"
        for a, b in zip(rows, want):
            if a != b:
                return f"{mart}: {a} != {b}"
    return None


def _serve(data_dir: str) -> None:
    """The checking process's loop (see :class:`Checker`)."""
    replies = os.fdopen(os.dup(1), "wb")
    os.dup2(2, 1)  # whatever the checks print goes to stderr, not the replies
    _init(data_dir)
    checks = {"check_query": check_query, "check_gold": check_gold}
    while True:
        try:
            check, args = pickle.load(sys.stdin.buffer)
        except EOFError:
            return
        try:
            reply = (True, checks[check](*args))
        except Exception as e:  # noqa: BLE001 - reported to the caller
            reply = (False, f"{type(e).__name__}: {e}")
        pickle.dump(reply, replies, protocol=pickle.HIGHEST_PROTOCOL)
        replies.flush()


if __name__ == "__main__":
    _serve(sys.argv[1])
