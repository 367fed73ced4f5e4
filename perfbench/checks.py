"""Correctness checks of one benchmark run, each computed apart from the
program (DuckDB over the generated inputs) or a property the method must
have. Every check takes the directories it reads, so the self-test can
point it at a corrupted copy of a real output. A check returns a list of
failure messages; an empty list is a pass.
"""
import glob
import os

import duckdb

JOIN_RANGE_S = 100  # Pipelines.DefaultJoinRange


def connect(topics):
    """DuckDB over the run's published topics, flush rows excluded."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET enable_progress_bar = false")
    keys = {"events": "event_id", "orders": "o_orderkey", "details": "l_orderkey", "docs": "doc_id"}
    for t, key in keys.items():
        if glob.glob(os.path.join(topics, t, "*.parquet")):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{topics}/{t}/*.parquet') "
                        f"WHERE {key} >= 0")
    return con


def pq(path):
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = false)"


def same_multiset(con, actual, expected, what):
    """`actual` and `expected` are SQL relations with the same columns."""
    n = con.execute(f"""SELECT (SELECT COUNT(*) FROM (({actual}) EXCEPT ALL ({expected}))),
                               (SELECT COUNT(*) FROM (({expected}) EXCEPT ALL ({actual})))""").fetchone()
    if n != (0, 0):
        return [f"{what}: {n[0]} unexpected rows, {n[1]} missing rows"]
    return []


def check_dau(con, out):
    """DAU per day equals COUNT(DISTINCT user_id) over the events."""
    return same_multiset(
        con,
        f"SELECT dt, dau FROM {pq(out)} WHERE dt < '2090-01-01'",
        "SELECT strftime(ts, '%Y-%m-%d') AS dt, COUNT(DISTINCT user_id) AS dau FROM events GROUP BY 1",
        "dau")


def check_ods_routes(con, out):
    """Each ODS route holds exactly its events."""
    fails = []
    for r in ("purchase", "signup", "click"):
        d = os.path.join(out, f"ods_{r}")
        actual = (f"SELECT event_id, event_type, route, user_id FROM {pq(d)}" if os.path.isdir(d)
                  else "SELECT NULL::BIGINT, NULL, NULL, NULL::BIGINT WHERE false")
        fails += same_multiset(
            con, actual,
            f"SELECT event_id, event_type, 'ods_' || event_type AS route, user_id FROM events "
            f"WHERE event_type = '{r}'",
            f"ods_{r}")
    return fails


def check_first_order(con, out):
    """Every order is flagged once; each customer has exactly one first-order
    flag, on its earliest (order time, order key) order."""
    flags = f"SELECT o_orderkey, o_custkey, if_first_order FROM {pq(os.path.join(out, 'flags'))}"
    fails = same_multiset(con, f"SELECT o_orderkey, o_custkey FROM ({flags})",
                          "SELECT o_orderkey, o_custkey FROM orders", "first_order rows")
    bad = con.execute(f"""
        SELECT COUNT(*) FROM (
          SELECT o_custkey, SUM(CASE WHEN if_first_order = '1' THEN 1 ELSE 0 END) AS n
          FROM ({flags}) GROUP BY o_custkey) WHERE n <> 1""").fetchone()[0]
    if bad:
        fails.append(f"first_order: {bad} customers without exactly one first-order flag")
    fails += same_multiset(
        con,
        f"SELECT o_orderkey FROM ({flags}) WHERE if_first_order = '1'",
        """SELECT o_orderkey FROM (
             SELECT o_orderkey, row_number() OVER (PARTITION BY o_custkey
                                                   ORDER BY o_orderdate, o_orderkey) AS rn
             FROM orders) WHERE rn = 1""",
        "first_order flagged orders")
    return fails


def check_wide_join(con, out):
    """The wide join equals the range join at DefaultJoinRange."""
    return same_multiset(
        con,
        f"SELECT order_id, order_detail_id, sku_total, final_total_amount, user_id "
        f"FROM {pq(out)} WHERE order_id >= 0",
        f"""SELECT d.l_orderkey, d.l_linenumber, d.l_extendedprice, o.o_totalprice, o.o_custkey
            FROM orders o JOIN details d ON o.o_orderkey = d.l_orderkey
             AND d.l_shipdate >= o.o_orderdate - INTERVAL {JOIN_RANGE_S} SECOND
             AND d.l_shipdate <= o.o_orderdate + INTERVAL {JOIN_RANGE_S} SECOND""",
        "wide_join")


def check_allocation(con, out):
    """Every line is allocated once, at its own amount, and each order's
    allocated amounts sum exactly, in cents, to its total."""
    alloc = f"SELECT * FROM {pq(out)} WHERE order_id >= 0"
    fails = same_multiset(
        con,
        f"SELECT order_id, line_id, ROUND(sku_total * 100)::BIGINT FROM ({alloc})",
        "SELECT l_orderkey, l_linenumber, ROUND(l_extendedprice * 100)::BIGINT FROM details",
        "allocation lines")
    bad = con.execute(f"""
        SELECT COUNT(*) FROM (
          SELECT order_id, SUM(ROUND(final_detail_amount * 100)::BIGINT) AS c
          FROM ({alloc}) GROUP BY order_id) a
        JOIN orders o ON o.o_orderkey = a.order_id
        WHERE a.c <> ROUND(o.o_totalprice * 100)::BIGINT""").fetchone()[0]
    if bad:
        fails.append(f"allocation: {bad} orders whose allocation does not sum to the total")
    return fails


def check_ads(con, out, static):
    """The final ADS table equals the per-brand SUM(ROUND(price*(1-discount)*100))/100."""
    commits = [int(c) for c in os.listdir(os.path.join(out, "_commits")) if c.isdigit()]
    table = pq(os.path.join(out, f"v={max(commits)}"))
    return same_multiset(
        con,
        f"SELECT p_brand, ROUND(revenue * 100)::BIGINT, n_lines FROM {table}",
        f"""SELECT p_brand, SUM(ROUND(l_extendedprice * (1 - l_discount) * 100))::BIGINT, COUNT(*)
            FROM details JOIN read_parquet('{static}/part.parquet') ON l_partkey = p_partkey
            GROUP BY p_brand""",
        "ads revenue")


def check_docs(con, survivors, static):
    """doc_claims survivors equal the batch DuckDB twin st12 is checked
    with: the program's own oracle SQL, which the system writes to
    static/st12_oracle.sql with the published documents as its corpus."""
    with open(os.path.join(static, "st12_oracle.sql")) as f:
        oracle = f.read()
    return same_multiset(con, f"SELECT doc_id FROM {pq(survivors)}", oracle, "doc survivors")


def run_all(kind, run_dir, static):
    """All checks of a workload kind over a run directory; returns
    (checks run, failure messages)."""
    con = connect(os.path.join(run_dir, "topics"))
    out = lambda app: os.path.join(run_dir, "out", app)
    if kind == "docs":
        checks = {"doc_claims": lambda: check_docs(con, out("doc_survivors"), static)}
    else:
        checks = {
            "dau": lambda: check_dau(con, out("dau")),
            "ods_route": lambda: check_ods_routes(con, out("ods_route")),
            "dwd_first_order": lambda: check_first_order(con, out("dwd_first_order")),
            "dws_wide_join": lambda: check_wide_join(con, out("dws_wide_join")),
            "dws_allocation": lambda: check_allocation(con, out("dws_allocation")),
            "ads_trademark": lambda: check_ads(con, out("ads_trademark"), static),
        }
    fails = []
    for name, fn in checks.items():
        fails += fn()
    return list(checks), fails
