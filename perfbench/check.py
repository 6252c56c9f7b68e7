"""Output checks. Each returns the set of op keys whose outputs are wrong,
plus a list of human-readable problems."""
import datetime as dt
import functools
import glob
import os
from collections import Counter

import duckdb
import pandas as pd
import pyarrow.parquet as pq


@functools.lru_cache(maxsize=None)
def _expected(input_dir, sql):
    """DuckDB's answer to `sql` over the parquet tables in `input_dir`,
    computed once: a traced run checks two JVMs' outputs against it."""
    con = duckdb.connect()
    for p in sorted(glob.glob(f"{input_dir}/*.parquet")):
        n = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {n} AS SELECT * FROM read_parquet('{p}')")
    return con.execute(sql).df()


def _read(d):
    files = sorted(glob.glob(f"{d}/*.parquet"))
    return pd.concat([pq.read_table(f).to_pandas() for f in files]) if files else None


def canon(df):
    """graft's oracle comparison rule (tools/selfcheck.py): sorted columns,
    sorted rows, floats to six decimals, everything else as strings."""
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df.map(lambda v: f"{v:.6f}" if isinstance(v, float) else str(v))


def same(got, exp):
    if got is None:
        return "no output"
    g, e = canon(got), canon(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} != {list(e.columns)}"
    if len(g) != len(e):
        return f"{len(g)} rows != {len(e)}"
    if not g.equals(e):
        return "values differ"
    return None


def kernels(input_dir, check_dir, oracles):
    """Every query's checked result against its DuckDB oracle."""
    bad, problems = set(), []
    for q, sql in sorted(oracles.items()):
        why = same(_read(f"{check_dir}/{q}"), _expected(input_dir, sql))
        if why:
            bad.add(q)
            problems.append(f"{q}: {why}")
    return bad, problems


PIPELINE_SQL = {
    "order_lines": """
        SELECT o_orderkey, o_orderstatus, COUNT(*) AS lines,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
                 AS revenue
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE CAST(o_orderdate AS DATE) = DATE '{day}'
        GROUP BY ALL""",
    "revenue_7d": """
        WITH ol AS (
          SELECT o_orderkey, o_orderstatus, COUNT(*) AS lines,
                 CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
                   AS revenue
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '{day}' - 6 AND DATE '{day}'
          GROUP BY ALL)
        SELECT o_orderstatus, COUNT(*) AS orders, CAST(SUM(lines) AS BIGINT) AS lines,
               CAST(SUM(CAST(revenue AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM ol GROUP BY ALL""",
    "status_summary": """
        WITH ol AS (
          SELECT o_orderkey, o_orderstatus,
                 CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
                   AS revenue
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '{day}' - 6 AND DATE '{day}'
          GROUP BY ALL),
        r AS (SELECT o_orderstatus, COUNT(*) AS orders_7d,
                     CAST(SUM(CAST(revenue AS DECIMAL(18,4))) AS DOUBLE) AS revenue_7d
              FROM ol GROUP BY ALL),
        t AS (SELECT o_orderstatus, COUNT(*) AS today_orders,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS today_total
              FROM orders WHERE CAST(o_orderdate AS DATE) = DATE '{day}' GROUP BY ALL)
        SELECT r.o_orderstatus, orders_7d, revenue_7d,
               COALESCE(today_orders, 0) AS today_orders,
               COALESCE(today_total, 0.0) AS today_total
        FROM r LEFT JOIN t USING (o_orderstatus)""",
}


def _day(s, k):
    return (dt.date.fromisoformat(s) + dt.timedelta(days=k)).isoformat()


def pipeline_expected(landed):
    """Partitions each node must hold after the given landings: a day's
    order lines once both tables landed, and the 7-day nodes once all seven
    days of order lines exist."""
    have = Counter(d for _, d in landed)
    lines = {d for d, n in have.items() if n == 2}
    seven = {d for d in lines if all(_day(d, -k) in lines for k in range(7))}
    return {"order_lines": lines, "revenue_7d": seven, "status_summary": seven}


def pipeline(input_dir, app_root, landed):
    """Every partition of every node against DuckDB over the generated
    source tables, and the partition sets against the landings."""
    expected = pipeline_expected(landed)
    bad, problems = {}, []
    for node, days in expected.items():
        base = f"{app_root}/internal_data/{node}"
        present = {os.path.basename(p) for p in glob.glob(f"{base}/*")
                   if os.path.exists(f"{p}/_SUCCESS")}
        for d in sorted(present - days):
            problems.append(f"{node}/{d}: unexpected partition")
            bad.setdefault(node, set()).add(d)
        for d in sorted(days):
            why = "missing" if d not in present else same(
                _read(f"{base}/{d}"), _expected(input_dir, PIPELINE_SQL[node].format(day=d)))
            if why:
                problems.append(f"{node}/{d}: {why}")
                bad.setdefault(node, set()).add(d)
    return expected, bad, problems


def pipeline_op_failed(day, bad):
    """A status_summary op fails when its own partition or any partition it
    was computed from is wrong."""
    return (day in bad.get("status_summary", ()) or day in bad.get("revenue_7d", ())
            or any(_day(day, -k) in bad.get("order_lines", ()) for k in range(7)))
