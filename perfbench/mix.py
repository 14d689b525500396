"""Seeded request mix for the serving workloads.

The pool is built from the reference's two documented calls
(`select * from <table>` for /query/ and /elastic/save/) plus the
selective SELECTs the gate admits and requests it must refuse. Every
client walks the same 40-slot pattern (15 lookups, 8 aggregates/joins,
12 table scans, 4 rejections, 1 small /elastic/save/), rotated per
client, taking the members of each kind in turn. The seed picks the
keys, dates and segments of the lookups and aggregates; the kind order
is fixed, so the share and order of cheap and heavy requests is the same
on every seed.
"""
SCAN_TABLES = ("nation", "customer", "supplier", "part")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_HALF = ("lookup", "scan", "lookup", "agg", "lookup", "scan", "lookup",
         "reject", "scan", "lookup", "agg", "lookup", "scan", "lookup",
         "agg", "scan", "lookup", "reject", "scan", "agg")
# one lookup per 40 slots is a small bulk save instead, so both of the
# reference's routes are in the loop
PATTERN = _HALF + _HALF[:16] + ("save",) + _HALF[17:]

# Expected HTTP status per kind.
STATUS = {"lookup": 200, "agg": 200, "scan": 200, "save": 200,
          "reject_ddl": 401, "reject_syntax": 400}


def _date(rng, lo_year, hi_year):
    return (f"TIMESTAMP '{rng.randint(lo_year, hi_year)}-"
            f"{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d} 00:00:00'")


def pool(rng, counts):
    """List of (id, kind, sql). Lookups and aggregates draw their keys
    and dates from `rng`."""
    n_ord, n_cust, n_part = counts["orders"], counts["customer"], counts["part"]
    q = []
    for _ in range(2):  # every lookup shape once per six lookups
        q.append(("lookup", f"SELECT * FROM orders WHERE o_orderkey = "
                            f"{rng.randrange(n_ord)}"))
        q.append(("lookup", f"SELECT * FROM customer WHERE c_custkey = "
                            f"{rng.randrange(n_cust)}"))
        q.append(("lookup", f"SELECT * FROM part WHERE p_partkey = "
                            f"{rng.randrange(n_part)}"))
        q.append(("lookup", "SELECT * FROM lineitem WHERE l_orderkey = "
                            f"{rng.randrange(n_ord)} ORDER BY l_linenumber, "
                            "l_partkey, l_suppkey, l_extendedprice"))
        k = rng.randrange(n_ord - 20)
        q.append(("lookup", "SELECT o_orderkey, o_custkey, o_totalprice, "
                            "o_orderdate FROM orders WHERE o_orderkey BETWEEN "
                            f"{k} AND {k + 19} ORDER BY o_orderkey"))
        lo = rng.randrange(-900, 9900)
        q.append(("lookup", "SELECT c_custkey, c_name, c_acctbal FROM customer "
                            f"WHERE c_acctbal BETWEEN {lo}.0 AND {lo + 40}.0 "
                            "ORDER BY c_custkey"))
    for _ in range(4):
        q.append(("agg", "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
                         "SUM(l_quantity) AS sum_qty, "
                         "SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sum_price, "
                         "MIN(l_discount) AS min_disc FROM lineitem "
                         f"WHERE l_shipdate <= {_date(rng, 1998, 1998)} "
                         "GROUP BY l_returnflag, l_linestatus "
                         "ORDER BY l_returnflag, l_linestatus"))
        q.append(("agg", "SELECT c.c_custkey, c.c_name, "
                         "SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS revenue, "
                         "COUNT(*) AS lines FROM customer c "
                         "JOIN orders o ON o.o_custkey = c.c_custkey "
                         "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
                         f"WHERE c.c_mktsegment = '{rng.choice(SEGMENTS)}' "
                         f"AND o.o_orderdate < {_date(rng, 1998, 1998)} "
                         "GROUP BY c.c_custkey, c.c_name "
                         "ORDER BY revenue DESC, c.c_custkey LIMIT 10"))
    for t in SCAN_TABLES:  # light and heavy tables alternate
        q.append(("scan", f"SELECT * FROM {t}"))
    q.append(("save", "SELECT * FROM supplier"))
    q.append(("reject_ddl", "DROP TABLE lineitem"))
    q.append(("reject_ddl", "CREATE TABLE t AS SELECT * FROM orders"))
    q.append(("reject_syntax", "SELEC * FRM orders"))
    q.append(("reject_syntax", "SELECT FROM WHERE o_orderkey ="))
    return [(i, kind, sql) for i, (kind, sql) in enumerate(q)]


def schedule(items, client, length):
    """Client `client`'s sequence of `length` pool ids."""
    by_kind = {}
    for i, kind, _ in items:
        by_kind.setdefault("reject" if kind.startswith("reject") else kind,
                           []).append(i)
    turn = {k: client for k in by_kind}
    out = []
    for n in range(length):
        kind = PATTERN[(n + 7 * client) % len(PATTERN)]
        members = by_kind[kind]
        out.append(members[turn[kind] % len(members)])
        turn[kind] += 1
    return out
