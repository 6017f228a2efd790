"""Seeded request plan for the `serve` workload.

Every block holds each request kind once (all warehouse templates, the
block's staging template, top-k for batches of 1, 16 and 256 users, MMR
at lambda 0, 0.5 and 1, one cold-user probe), so block b has the same mix
-- and with it the same latency distribution -- for every seed. The kinds
follow one fixed pattern (PATTERN), so a run that stops inside a block
ends on the same mix of kinds whatever the seed. The seed drives the
order of warehouse templates, batch sizes and lambdas along the pattern,
the template parameters and the users. The `warmup` block (WARMUP) is
sent before timing starts: every warehouse template once, and each other
code path once, so the timed requests do not pay first-use costs.

SQL runs unchanged on Spark and on DuckDB: the checks replay it there.
"""
import random

YEARS = list(range(1995, 2002))

# spark.sql over the views `Pipeline.registerWarehouse` creates. Measures
# are counts, integer-valued sums and min/max, so both engines agree
# exactly; fact keys join to the dimension's natural key.
WAREHOUSE = {
    "year_status": lambda p: (
        "SELECT order_year, order_status, COUNT(*) AS n, SUM(l_quantity) AS qty "
        "FROM fact_orders WHERE order_year BETWEEN {y0} AND {y1} "
        "GROUP BY order_year, order_status").format(**p),
    "nation_orders": lambda p: (
        "SELECT c.nation_name, COUNT(*) AS n, SUM(f.l_quantity) AS qty, "
        "MAX(f.net_amount) AS max_net FROM fact_orders f "
        "JOIN dim_customer c ON f.customer_key = c.c_custkey "
        "WHERE f.order_year BETWEEN {y0} AND {y1} GROUP BY c.nation_name").format(**p),
    "segment_rollup": lambda p: (
        "SELECT order_year, c_mktsegment, COUNT(*) AS n FROM fact_orders "
        "WHERE order_year >= {y0} GROUP BY ROLLUP(order_year, c_mktsegment)").format(**p),
    "top_customers": lambda p: (
        "SELECT nation_name, c_custkey, qty, rn FROM ("
        "SELECT nation_name, c_custkey, qty, ROW_NUMBER() OVER ("
        "PARTITION BY nation_name ORDER BY qty DESC, c_custkey) AS rn FROM ("
        "SELECT c.nation_name, c.c_custkey, SUM(f.l_quantity) AS qty "
        "FROM fact_orders f JOIN dim_customer c ON f.customer_key = c.c_custkey "
        "WHERE f.order_year = {y0} GROUP BY c.nation_name, c.c_custkey) t) r "
        "WHERE rn <= {k}").format(**p),
    "brand_mix": lambda p: (
        "SELECT p.brand_label, COUNT(*) AS n, SUM(CAST(p.p_size AS DOUBLE)) AS size_sum "
        "FROM fact_orders f JOIN dim_part p ON f.part_key = p.p_partkey "
        "WHERE f.order_year = {y0} GROUP BY p.brand_label").format(**p),
    "supplier_nations": lambda p: (
        "SELECT s.nation_name, f.order_year, COUNT(DISTINCT f.o_orderkey) AS orders "
        "FROM fact_orders f JOIN dim_supplier s ON f.supplier_key = s.s_suppkey "
        "WHERE f.order_year BETWEEN {y0} AND {y1} "
        "GROUP BY s.nation_name, f.order_year").format(**p),
    "payment_mix": lambda p: (
        "SELECT d.payment_type, d.payment_installments, COUNT(*) AS n "
        "FROM fact_orders f JOIN dim_payments d ON f.payment_key = d.payment_key "
        "WHERE f.order_year = {y0} "
        "GROUP BY d.payment_type, d.payment_installments").format(**p),
    "ship_latency": lambda p: (
        "SELECT order_status, MIN(ship_latency_days) AS lo, "
        "MAX(ship_latency_days) AS hi, COUNT(*) AS n FROM fact_orders "
        "WHERE order_year BETWEEN {y0} AND {y1} GROUP BY order_status").format(**p),
}

# Analytics.runSql over the staging tables of the serving snapshot.
STAGING = {
    "priority_window": lambda p: (
        "SELECT o_orderpriority, COUNT(*) AS n FROM orders "
        "WHERE o_orderdate >= TIMESTAMP '{y0}-01-01 00:00:00' "
        "AND o_orderdate < TIMESTAMP '{y2}-01-01 00:00:00' "
        "GROUP BY o_orderpriority").format(y2=p["y1"] + 1, **p),
    "customer_qty": lambda p: (
        "SELECT o.o_custkey, COUNT(*) AS lines, SUM(l.l_quantity) AS qty "
        "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey "
        "WHERE o.o_custkey % 10 = {r} GROUP BY o.o_custkey").format(**p),
    "event_window": lambda p: (
        "SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS users "
        "FROM events WHERE ts >= TIMESTAMP '2024-01-{d0:02d} 00:00:00' "
        "AND ts < TIMESTAMP '2024-01-{d1:02d} 00:00:00' "
        "GROUP BY event_type").format(**p),
}

TOPK_BATCHES = (1, 16, 256)
MMR_LAMBDAS = (0.0, 0.5, 1.0)
COLD_USERS = (-1, -2)


def params(rng):
    y0 = rng.choice(YEARS[:-1])
    return {"y0": y0, "y1": rng.randint(y0, YEARS[-1]), "k": rng.randint(1, 5),
            "r": rng.randrange(10), "d0": rng.randint(1, 15), "d1": rng.randint(16, 31)}


# W warehouse SQL, S staging SQL, T top-k, M MMR, C cold-user probe
PATTERN = "WTWMWSWTWMWCWTWM"
WARMUP = "WTWMWSWCWWWW"


def block(rng, name, staging, known_users, pattern=PATTERN):
    """One block of requests along `pattern`."""
    queues = {
        "W": [("sql_warehouse", t) for t in rng.sample(sorted(WAREHOUSE), len(WAREHOUSE))],
        "S": [("sql_staging", staging)],
        "T": [("topk", n) for n in rng.sample(TOPK_BATCHES, len(TOPK_BATCHES))],
        "M": [("mmr", lam) for lam in rng.sample(MMR_LAMBDAS, len(MMR_LAMBDAS))],
        "C": [("cold", None)],
    }
    reqs = []
    for slot in pattern:
        kind, arg = queues[slot].pop(0)
        if kind == "sql_warehouse":
            r = {"template": arg, "sql": WAREHOUSE[arg](params(rng))}
        elif kind == "sql_staging":
            r = {"template": arg, "sql": STAGING[arg](params(rng))}
        elif kind == "topk":
            r = {"template": f"batch{arg}", "users": rng.sample(known_users, arg)}
        elif kind == "mmr":
            r = {"template": f"lambda{arg}", "lambda": arg, "users": rng.sample(known_users, 1)}
        else:
            r = {"template": "cold", "users": list(COLD_USERS) + rng.sample(known_users, 2)}
        r["kind"] = kind
        r["id"] = f"{name}r{len(reqs)}"
        reqs.append(r)
    assert not queues["W"]
    return reqs


def make(seed, known_users, blocks):
    """A warm-up block and `blocks` timed blocks of requests for `seed`;
    `known_users` are the users the model is trained on (every user with
    an interaction)."""
    rng = random.Random(seed)
    staging = sorted(STAGING)
    warmup = block(rng, "w", staging[0], known_users, WARMUP)
    out = [block(rng, f"b{b}", staging[b % len(staging)], known_users) for b in range(blocks)]
    return {"seed": seed, "warmup": warmup, "blocks": out}
