"""Seeded op generation. Everything a workload sends comes from here.

The same seed gives a byte-identical statement list (`statement_bytes`);
the program only ever sees the generated statements.
"""
import bisect
import json
import random

# sf0.1 key spaces (TESTDATA.md corpus): orders 0..149999, customer 0..14999,
# about four lineitem rows per order.
ORDER_KEYS = 150000
CUSTOMER_KEYS = 15000
NATIONS = 25
# Key skew: YCSB's Zipfian constant (Cooper et al., "Benchmarking Cloud
# Serving Systems with YCSB", SoCC 2010), the common serving-benchmark default.
ZIPF_S = 0.99

# Class mixes are decks: each block holds exactly these counts in a seeded
# order, so every run sends nearly the same mix. No trace of the service's
# traffic exists, so the mixes are assumptions, chosen as follows.
# Reads: the workload is defined as mostly points with a small share of
# analytic statements, taken as 15 and 1 of 20; agg and range split the
# rest evenly. A point read picks orders or customer with equal odds.
READ_MIX = (("point", 15), ("agg", 2), ("range", 2), ("analytic", 1))
POINT_ORDERS_SHARE = 0.5

# The analytic statements, by a rule that ignores the program's answers:
# every q-family oracle statement whose DuckDB answer at sf0.1 has at most
# 100 rows (larger results are the range class's work). Left out: those the
# rule admits but the gateway rejects, both program issues: q12_cube
# (CAST_INVALID_INPUT, the string 'value' cast to DECIMAL(18,2)) and
# q57_type_corners (UNSUPPORTED_DATATYPE HUGEINT). None that the gateway
# serves answers differently from DuckDB. A run sends ANALYTIC_PER_RUN of
# them, drawn by its seed, each once per round in a seeded order: a 20 s
# run sends about that many, and its warm-up runs each of them once, so
# set-up stays short while ten seeds cover the whole set.
ANALYTIC = (
    "q01_pricing_summary", "q03_topk_revenue", "q05_star_join", "q06_cond_agg",
    "q07_semi_anti", "q08_full_outer", "q09_cross_join", "q10_setops", "q11_rollup",
    "q13_having", "q14_count_distinct", "q15_scalar_subquery", "q21_json",
    "q22_case_null", "q24_explode_words", "q25_quantiles", "q26_string_agg",
    "q27_pivot", "q28_approx", "q30_arrays", "q31_struct_map", "q33_positional_join",
    "q35_values_inline", "q37_limit_offset", "q38_grouping_sets", "q39_argmax",
    "q44_join_right", "q45_qualify", "q46_distinct_on", "q48_group_by_all",
    "q49_lateral_topk", "q50_recursive_cte", "q53_profile", "q54_funnel",
    "q55_retention", "q59_read_fn",
)
ANALYTIC_PER_RUN = 12

# The http_write table: the demo client's shape (FIXTURES.md §A). Assumed
# sizes: 200 preloaded rows, so point reads spread over many keys and the
# preload is 4 statements; writes per block of 20 are 8 single-row and 4
# multi-row INSERTs, 5 UPDATEs and 3 DELETEs, so every DML kind of the
# workload runs in each block while the table grows slowly.
WRITE_TABLE = "kv"
WRITE_DDL = f"CREATE TABLE {WRITE_TABLE} (id INTEGER NOT NULL PRIMARY KEY, name TEXT)"
PRELOAD_ROWS = 200
PRELOAD_BATCH = 50
WRITE_MIX = (("insert", 8), ("batch", 4), ("update", 5), ("delete", 3))


class Zipf:
    """Bounded Zipf over 0..n-1, ranks mapped to keys by a seeded shuffle."""

    def __init__(self, rng, n, s=ZIPF_S):
        acc = 0.0
        self.cdf = []
        for r in range(1, n + 1):
            acc += 1.0 / r ** s
            self.cdf.append(acc)
        self.keys = list(range(n))
        rng.shuffle(self.keys)

    def draw(self, rng):
        i = bisect.bisect_left(self.cdf, rng.random() * self.cdf[-1])
        return self.keys[min(i, len(self.keys) - 1)]


def _deck(rng, mix, n):
    """n class names, dealt from shuffled blocks of the mix's counts."""
    out = []
    while len(out) < n:
        block = [name for name, count in mix for _ in range(count)]
        rng.shuffle(block)
        out += block
    return out[:n]


def suite_orders(seed, names, passes):
    """One seeded permutation of the query names per pass."""
    rng = random.Random(f"suite/{seed}")
    out = []
    for _ in range(passes):
        p = sorted(names)
        rng.shuffle(p)
        out.append(p)
    return out


def analytic_subset(seed):
    """The ANALYTIC_PER_RUN analytic statement names a run with `seed` sends."""
    return random.Random(f"analytic/{seed}").sample(ANALYTIC, ANALYTIC_PER_RUN)


def read_statements(seed, n, oracle_sql):
    """n (class, sql) pairs of the http_read mix."""
    rng = random.Random(f"read/{seed}")
    orders = Zipf(rng, ORDER_KEYS)
    customers = Zipf(rng, CUSTOMER_KEYS)
    analytic = iter(_deck(rng, tuple((name, 1) for name in analytic_subset(seed)), n))
    out = []
    for cls in _deck(rng, READ_MIX, n):
        if cls == "point":
            if rng.random() < POINT_ORDERS_SHARE:
                sql = ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority "
                       f"FROM orders WHERE o_orderkey = {orders.draw(rng)}")
            else:
                sql = ("SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
                       f"FROM customer WHERE c_custkey = {customers.draw(rng)}")
        elif cls == "agg":
            shape = rng.randrange(3)
            if shape == 0:
                a = rng.randrange(CUSTOMER_KEYS - 2000)
                sql = ("SELECT o_orderpriority AS prio, count(*) AS n, min(o_orderkey) AS lo, "
                       f"max(o_orderkey) AS hi FROM orders WHERE o_custkey BETWEEN {a} AND "
                       f"{a + rng.randrange(100, 2000)} GROUP BY o_orderpriority")
            elif shape == 1:
                a = rng.randrange(ORDER_KEYS - 5000)
                sql = ("SELECT l_returnflag AS flag, l_linestatus AS status, count(*) AS n, "
                       f"sum(l_linenumber) AS lines FROM lineitem WHERE l_orderkey BETWEEN {a} "
                       f"AND {a + rng.randrange(500, 5000)} GROUP BY l_returnflag, l_linestatus")
            else:
                sql = ("SELECT c_mktsegment AS segment, count(*) AS n, min(c_custkey) AS lo "
                       f"FROM customer WHERE c_nationkey = {rng.randrange(NATIONS)} "
                       "GROUP BY c_mktsegment")
        elif cls == "range":
            if rng.random() < 0.5:
                w = rng.randrange(250, 2500)  # about 1k-10k lineitem rows
                a = rng.randrange(ORDER_KEYS - w)
                sql = ("SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM lineitem "
                       f"WHERE l_orderkey BETWEEN {a} AND {a + w}")
            else:
                w = rng.randrange(1000, 10000)
                a = rng.randrange(ORDER_KEYS - w)
                sql = ("SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
                       f"WHERE o_orderkey BETWEEN {a} AND {a + w - 1}")
        else:
            sql = oracle_sql[next(analytic)]
        out.append((cls, sql))
    return out


def write_ops(seed, n):
    """The writer's n (class, sql) ops and, per id, every name it may hold.

    Ops are generated against a model of the table, so no op fails: inserts
    take fresh ids, updates and deletes take live ones."""
    rng = random.Random(f"write/{seed}")
    live = list(range(PRELOAD_ROWS))
    names = {i: {f"n{i}"} for i in live}
    next_id = PRELOAD_ROWS
    out = []
    for j, cls in enumerate(_deck(rng, WRITE_MIX, n)):
        if cls in ("insert", "batch"):
            rows = []
            for _ in range(1 if cls == "insert" else rng.randrange(2, 6)):
                name = f"w{seed}_{j}_{next_id}"
                rows.append(f"({next_id}, '{name}')")
                names[next_id] = {name}
                live.append(next_id)
                next_id += 1
            sql = f"INSERT INTO {WRITE_TABLE}(id, name) VALUES " + ", ".join(rows)
        elif cls == "update":
            k = rng.choice(live)
            name = f"u{seed}_{j}"
            names[k].add(name)
            sql = f"UPDATE {WRITE_TABLE} SET name = '{name}' WHERE id = {k}"
        else:
            k = live.pop(rng.randrange(len(live)))
            sql = f"DELETE FROM {WRITE_TABLE} WHERE id = {k}"
        out.append((cls, sql))
    return out, names


def preload_statements():
    for a in range(0, PRELOAD_ROWS, PRELOAD_BATCH):
        yield (f"INSERT INTO {WRITE_TABLE}(id, name) VALUES " +
               ", ".join(f"({i}, 'n{i}')" for i in range(a, a + PRELOAD_BATCH)))


def follower_reads(seed, n, max_id):
    """n point reads of the written table, keys Zipf-skewed."""
    rng = random.Random(f"follow/{seed}")
    keys = Zipf(rng, max_id)
    return [("point", f"SELECT id, name FROM {WRITE_TABLE} WHERE id = {keys.draw(rng)}")
            for _ in range(n)]


def statement_bytes(seed, oracle_sql, n=2000):
    """Every generated statement list for `seed`, serialized: the
    determinism self-test compares two calls byte for byte."""
    doc = {
        "suite": suite_orders(seed, sorted(oracle_sql), 3),
        "read": read_statements(seed, n, oracle_sql),
        "write": write_ops(seed, n // 10)[0],
        "follow": follower_reads(seed, n, PRELOAD_ROWS),
    }
    return json.dumps(doc, sort_keys=True).encode()

