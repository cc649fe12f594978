"""SQL templates of the `sql_interactive` workload.

Each template is one dashboard panel or ad-hoc query in ClickHouse dialect,
in TPC-H or ClickBench shape, paired with an ANSI twin that DuckDB runs over
the same parquet files to check the answer. Each constant comes from a
small domain, so a seeded stream repeats some queries and sees others for
the first time.

`known_defect` templates are shapes the engine gets wrong today (an error or
a wrong answer). They stay in the template set and are run and checked in
every run, after the timed loop; they are kept out of the timed stream,
whose ops must not fail.
"""
import dataclasses

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@dataclasses.dataclass(frozen=True)
class Template:
    name: str
    sql: str             # ClickHouse dialect, sent through queryAs
    twin: str            # ANSI twin for DuckDB
    domain: dict         # parameter -> small list of values
    ordered: bool = True  # False: compare rows as a multiset
    known_defect: bool = False
    dashboard: str = ""   # "A", "B" or "C": the round that refreshes it

    def render(self, rnd):
        p = {k: rnd.choice(v) for k, v in sorted(self.domain.items())}
        return {"template": self.name, "sql": self.sql.format(**p),
                "twin": self.twin.format(**p), "ordered": self.ordered}


TEMPLATES = [
    Template(
        "tpch_q1_prewhere",
        "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, "
        "count(*) AS n FROM lineitem PREWHERE l_shipdate <= "
        "toDateTime('1998-{m:02d}-01 00:00:00') "
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
        "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, "
        "count(*) AS n FROM lineitem WHERE l_shipdate <= "
        "TIMESTAMP '1998-{m:02d}-01 00:00:00' "
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
        {"m": [6, 7, 8, 9]}, dashboard="A"),
    Template(
        "tpch_q3_top",
        "SELECT TOP 10 o_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) "
        "AS revenue FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey WHERE c_mktsegment = '{seg}' "
        "AND o_orderdate < toDateTime('1995-03-{d:02d} 00:00:00') "
        "GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey",
        "SELECT o_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) "
        "AS revenue FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey WHERE c_mktsegment = '{seg}' "
        "AND o_orderdate < TIMESTAMP '1995-03-{d:02d} 00:00:00' "
        "GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 10",
        {"seg": SEGMENTS[:3], "d": [10, 15]}, dashboard="B"),
    Template(
        "limit_by_orders",
        "SELECT o_custkey, o_orderkey, o_totalprice FROM orders "
        "WHERE o_custkey < {k} ORDER BY o_custkey, o_totalprice DESC, o_orderkey "
        "LIMIT 2 BY o_custkey",
        "SELECT o_custkey, o_orderkey, o_totalprice FROM (SELECT *, row_number() "
        "OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn "
        "FROM orders WHERE o_custkey < {k}) WHERE rn <= 2 "
        "ORDER BY o_custkey, o_totalprice DESC, o_orderkey",
        {"k": [20, 40, 60]}, dashboard="C"),
    Template(
        "array_join_words",
        "SELECT w, count(*) AS c FROM documents ARRAY JOIN splitByChar(' ', text) AS w "
        "WHERE source = 'src{s}' GROUP BY w ORDER BY c DESC, w LIMIT 10",
        "SELECT w, count(*) AS c FROM (SELECT unnest(string_split(text, ' ')) AS w "
        "FROM documents WHERE source = 'src{s}') GROUP BY w ORDER BY c DESC, w LIMIT 10",
        {"s": [0, 1, 2, 3]}, dashboard="A"),
    Template(
        "final_countif",
        "SELECT event_type, countIf(value > {v}) AS high, count(*) AS c, "
        "round(sum(value), 2) AS total FROM events FINAL WHERE user_id % {m} = 0 "
        "GROUP BY event_type ORDER BY event_type",
        "SELECT event_type, count(*) FILTER (WHERE value > {v}) AS high, count(*) AS c, "
        "round(sum(value), 2) AS total FROM events WHERE user_id % {m} = 0 "
        "GROUP BY event_type ORDER BY event_type",
        {"m": [3, 7, 11], "v": [50, 150]}, dashboard="B"),
    Template(
        "sample_uniqexact",
        "SELECT event_type, uniqExact(user_id) AS users, count(*) AS c FROM events "
        "SAMPLE 1 WHERE value > {v} GROUP BY event_type ORDER BY event_type",
        "SELECT event_type, count(DISTINCT user_id) AS users, count(*) AS c FROM events "
        "WHERE value > {v} GROUP BY event_type ORDER BY event_type",
        {"v": [10, 100]}, dashboard="C"),
    Template(
        "with_totals",
        "SELECT event_type, count(*) AS c, round(sum(value), 2) AS total FROM events "
        "WHERE ts >= toDateTime('2024-01-{d:02d} 00:00:00') "
        "GROUP BY event_type WITH TOTALS",
        "SELECT event_type, count(*) AS c, round(sum(value), 2) AS total FROM events "
        "WHERE ts >= TIMESTAMP '2024-01-{d:02d} 00:00:00' "
        "GROUP BY GROUPING SETS ((event_type), ())",
        {"d": [5, 15, 25]}, ordered=False, dashboard="C"),
    Template(
        "distinct_on_users",
        "SELECT DISTINCT ON (user_id) user_id, event_id, value FROM events "
        "WHERE user_id < {k} ORDER BY user_id, value DESC, event_id",
        "SELECT DISTINCT ON (user_id) user_id, event_id, value FROM events "
        "WHERE user_id < {k} ORDER BY user_id, value DESC, event_id",
        {"k": [25, 50]}, dashboard="B"),
    Template(
        "datediff_lag",
        "SELECT dateDiff('day', o_orderdate, l_shipdate) AS lag, count(*) AS c "
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
        "WHERE o_orderpriority = '{p}' AND o_custkey < 2000 "
        "GROUP BY lag ORDER BY c DESC, lag LIMIT 10",
        "SELECT date_diff('day', o_orderdate, l_shipdate) AS lag, count(*) AS c "
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
        "WHERE o_orderpriority = '{p}' AND o_custkey < 2000 "
        "GROUP BY lag ORDER BY c DESC, lag LIMIT 10",
        {"p": PRIORITIES[:3]}, dashboard="A"),
    Template(
        "argmax_last_event",
        "SELECT user_id, argMax(event_type, ts) AS last_type, "
        "argMax(value, ts) AS last_value FROM events WHERE user_id < {k} "
        "GROUP BY user_id ORDER BY user_id",
        "SELECT user_id, arg_max(event_type, ts) AS last_type, "
        "arg_max(value, ts) AS last_value FROM events WHERE user_id < {k} "
        "GROUP BY user_id ORDER BY user_id",
        {"k": [30, 60]}, dashboard="C"),
    Template(
        "hourly_traffic",
        "SELECT toStartOfHour(ts) AS h, count(*) AS c FROM events "
        "WHERE event_type = '{t}' GROUP BY h ORDER BY c DESC, h LIMIT 10",
        "SELECT date_trunc('hour', ts) AS h, count(*) AS c FROM events "
        "WHERE event_type = '{t}' GROUP BY h ORDER BY c DESC, h LIMIT 10",
        {"t": EVENT_TYPES[:3]}, dashboard="B"),
    Template(
        "brands_settings_format",
        "SELECT p_brand, count(*) AS c, round(avg(p_retailprice), 2) AS avg_price "
        "FROM part WHERE p_size = {s} GROUP BY p_brand ORDER BY c DESC, p_brand "
        "LIMIT 5 SETTINGS max_threads = 4 FORMAT JSONEachRow",
        "SELECT p_brand, count(*) AS c, round(avg(p_retailprice), 2) AS avg_price "
        "FROM part WHERE p_size = {s} GROUP BY p_brand ORDER BY c DESC, p_brand LIMIT 5",
        {"s": [5, 15, 25, 35]}, dashboard="A"),
    # The dialect rewrites do not know comments or string literals.
    Template(
        "leading_comment",
        "-- each customer's first order, panel {k}\nSELECT o_custkey, o_orderkey FROM orders "
        "WHERE o_custkey < {k} ORDER BY o_custkey, o_orderkey LIMIT 1 BY o_custkey",
        "SELECT o_custkey, min(o_orderkey) AS o_orderkey FROM orders "
        "WHERE o_custkey < {k} GROUP BY o_custkey ORDER BY o_custkey",
        {"k": [5]}, known_defect=True),
    Template(
        "final_in_literal",
        "SELECT 'x\\' FROM events FINAL' AS s, count(*) AS c FROM events "
        "WHERE user_id < {k}",
        "SELECT 'x'' FROM events FINAL' AS s, count(*) AS c FROM events "
        "WHERE user_id < {k}",
        {"k": [100]}, known_defect=True),
    # ClickHouse's argument-less count(): Spark 4 rejects it unless a legacy
    # flag is set, and the dialect layer does not rewrite it.
    Template(
        "count_no_args",
        "SELECT event_type, count() AS c FROM events WHERE user_id < {k} "
        "GROUP BY event_type ORDER BY event_type",
        "SELECT event_type, count(*) AS c FROM events WHERE user_id < {k} "
        "GROUP BY event_type ORDER BY event_type",
        {"k": [100]}, known_defect=True),
]


def known_defect_queries():
    """One fixed instance of each known-defect template (first domain value)."""
    out = []
    for t in TEMPLATES:
        if t.known_defect:
            p = {k: v[0] for k, v in t.domain.items()}
            out.append({"template": t.name, "sql": t.sql.format(**p),
                        "twin": t.twin.format(**p), "ordered": t.ordered})
    return out
