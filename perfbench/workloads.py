"""Seeded request streams, one per workload.

Every request is a pure function of (workload, seed, client, index):
``stream(workload, seed, client)`` yields the same requests in the same
order on every run, however long the run lasts. The server receives
only the generated SQL (plus the session id and sink path the gateway
protocol carries); each request also carries the DuckDB SQL that
answers it, or None when its reply is checked by status alone.

Fresh texts embed a literal derived from (client, index), so no two
fresh requests of one run share a result-cache key.
"""

from __future__ import annotations

import itertools
import random
from dataclasses import dataclass
from typing import Iterator

CLIENTS = 4


@dataclass(frozen=True)
class Request:
    sql: str
    oracle: str | None = None  # DuckDB SQL with the same answer
    session: str | None = None
    output: str | None = None  # sink path: the reply carries no rows
    props: dict | None = None
    write: bool = False  # commands and sink jobs
    repeat: bool = False  # designed to be answered by the result cache

    def wire(self) -> dict:
        req: dict = {"sql": self.sql}
        if self.session is not None:
            req["session"] = self.session
        if self.output is not None:
            req["output"] = self.output
        if self.props:
            req["props"] = self.props
        return req


def _rng(*key: object) -> random.Random:
    return random.Random("/".join(map(str, key)))


def _uid(client: int, i: int) -> int:
    """Distinct per (client, index) within one run."""
    return i * CLIENTS + client


def _day(rng: random.Random, lo: int = 0, hi: int = 2400) -> str:
    import datetime as dt

    return (dt.date(1992, 1, 1) + dt.timedelta(days=rng.randrange(lo, hi))).isoformat()


def _dsum(col: str, alias: str) -> str:
    """Exact DECIMAL sum cast to DOUBLE: identical in Spark and DuckDB."""
    return f"CAST(sum(CAST({col} AS DECIMAL(18,2))) AS DOUBLE) AS {alias}"


# -- dashboard --------------------------------------------------------------
# Small filter/group-by aggregations over the parquet tables. Each
# template returns spellings the result cache's semantic key treats as
# one query: [canonical, *variants]. Variants swap conjuncts, permute an
# IN list, swap join operands or shrink a LIMIT.

HOT_QUERIES = 16
REPEAT_EVERY = 4  # one request in four is a hot repeat


def _d_lineitem(rng: random.Random, price: float) -> list[str]:
    a = f"l_shipdate >= DATE '{_day(rng, 0, 1200)}'"
    b = f"l_extendedprice > {price:.2f}"
    head = ("SELECT l_returnflag, l_linestatus, count(*) AS n, "
            f"{_dsum('l_extendedprice', 'revenue')} FROM lineitem WHERE ")
    tail = " GROUP BY l_returnflag, l_linestatus"
    return [head + f"{a} AND {b}" + tail, head + f"{b} AND {a}" + tail]


def _d_orders(rng: random.Random, price: float) -> list[str]:
    lo = rng.randrange(0, 1800)
    a = f"o_orderdate BETWEEN DATE '{_day(rng, lo, lo + 1)}' AND DATE '{_day(rng, lo + 400, lo + 401)}'"
    b = f"o_totalprice > {price * 10:.2f}"
    head = (f"SELECT o_orderpriority, count(*) AS n, {_dsum('o_totalprice', 'total')}"
            " FROM orders WHERE ")
    tail = " GROUP BY o_orderpriority"
    return [head + f"{a} AND {b}" + tail, head + f"{b} AND {a}" + tail]


def _d_customer(rng: random.Random, price: float) -> list[str]:
    keys = rng.sample(range(25), 5)
    perm = keys[::-1]
    head = (f"SELECT c_mktsegment, count(*) AS n, {_dsum('c_acctbal', 'balance')}"
            " FROM customer WHERE ")
    tail = " GROUP BY c_mktsegment"
    b = f"c_acctbal > {price - 2000:.2f}"
    return [
        head + f"c_nationkey IN ({', '.join(map(str, keys))}) AND {b}" + tail,
        head + f"{b} AND c_nationkey IN ({', '.join(map(str, perm))})" + tail,
    ]


def _d_part(rng: random.Random, price: float) -> list[str]:
    s1 = rng.randrange(1, 20)
    a = f"p_size BETWEEN {s1} AND {s1 + 25}"
    b = f"p_retailprice > {price:.2f}"
    head = ("SELECT p_brand, count(*) AS n, max(p_retailprice) AS top_price"
            " FROM part WHERE ")
    tail = " GROUP BY p_brand ORDER BY p_brand LIMIT "
    return [head + f"{a} AND {b}" + tail + "30",
            head + f"{b} AND {a}" + tail + "30",
            head + f"{a} AND {b}" + tail + "12"]


def _d_join(rng: random.Random, price: float) -> list[str]:
    seg = rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    where = f" WHERE c_mktsegment = '{seg}' AND o_totalprice > {price * 10:.2f}"
    head = f"SELECT o_orderpriority, count(*) AS n, {_dsum('c_acctbal', 'balance')} FROM "
    tail = " GROUP BY o_orderpriority"
    return [head + "orders JOIN customer ON o_custkey = c_custkey" + where + tail,
            head + "customer JOIN orders ON c_custkey = o_custkey" + where + tail]


DASHBOARD_TEMPLATES = (_d_lineitem, _d_orders, _d_customer, _d_part, _d_join)


def dashboard_hot(seed: int) -> list[list[str]]:
    """The hot set: spellings of each hot query, canonical first."""
    out = []
    for h in range(HOT_QUERIES):
        rng = _rng("dashboard-hot", seed, h)
        template = DASHBOARD_TEMPLATES[h % len(DASHBOARD_TEMPLATES)]
        out.append(template(rng, 1000 + rng.randrange(0, 5000) / 100))
    return out


def dashboard(seed: int, client: int) -> Iterator[Request]:
    hot = dashboard_hot(seed)
    for i in itertools.count():
        rng = _rng("dashboard", seed, client, i)
        if i % REPEAT_EVERY == REPEAT_EVERY - 1:
            # a fixed cycle through the hot set: every entry is re-read
            # long before 256 fresh puts could push it out of the LRU
            k = i // REPEAT_EVERY
            spellings = hot[(k + client * HOT_QUERIES // CLIENTS) % HOT_QUERIES]
            sql = spellings[k % len(spellings)]
            yield Request(sql, oracle=sql, repeat=True)
            continue
        # templates cycle, so every batch mixes cheap and costly shapes
        # alike on every seed; 1000.00 + uid cents is unique to the run
        template = DASHBOARD_TEMPLATES[(i + client) % len(DASHBOARD_TEMPLATES)]
        sql = template(rng, 1000 + _uid(client, i) / 100)[0]
        yield Request(sql, oracle=sql)


def dashboard_warm(seed: int) -> list[Request]:
    """Canonical spelling of each hot query, sent before timing."""
    return [Request(s[0], oracle=s[0]) for s in dashboard_hot(seed)]


# -- hot_text_scan ----------------------------------------------------------
# Aggregations over lineitem_big, the x2 CSV copy (perfbench/data.py).
# Half the requests share one grouping signature (MRShare merges them
# within a batch); the rest are wide aggregations on high-cardinality
# keys, whose summed read fractions clear the cache-admission bar for
# row-text sources.

_M_AGGS = (  # one exact sum plus one cheap aggregate: every member costs alike
    (_dsum("l_quantity", "qty"), _dsum("l_extendedprice", "revenue"), _dsum("l_tax", "tax")),
    ("count(*) AS n", "max(l_shipdate) AS last_ship", "min(l_extendedprice) AS min_price",
     "count(l_partkey) AS parts"),
)
_M_PREDS = ("l_discount <= {d}", "l_quantity >= {q}", "l_tax < {t}", "l_linenumber <= {ln}")


def hot_text_scan(seed: int, client: int) -> Iterator[Request]:
    for i in itertools.count():
        rng = _rng("hot_text_scan", seed, client, i)
        price = f"{900 + _uid(client, i) / 100:.2f}"  # unique: no result-cache hits
        if (i + client) % 2 == 0:
            agg = f"{rng.choice(_M_AGGS[1])}, {rng.choice(_M_AGGS[0])}"
            pred = rng.choice(_M_PREDS).format(
                d=rng.randrange(3, 10) / 100, q=rng.randrange(2, 20),
                t=rng.randrange(3, 9) / 100, ln=rng.randrange(3, 7))
            sql = (f"SELECT l_returnflag, l_linestatus, {agg} FROM lineitem_big"
                   f" WHERE {pred} AND l_extendedprice > {price}"
                   " GROUP BY l_returnflag, l_linestatus")
        else:
            sql = _wide(_WIDE_KEYS[(i // 2) % 2], price)
        yield Request(sql, oracle=sql)


_WIDE_KEYS = ("l_suppkey", "l_partkey", "l_shipdate")


def _wide(key: str, price: str) -> str:
    """Reads 8-9 of the 12 columns (the cache cost model's read fraction)."""
    return (f"SELECT {key}, count(*) AS n, max(l_shipdate) AS last_ship,"
            " max(l_quantity) AS max_qty, max(l_tax) AS max_tax,"
            " max(l_discount) AS max_disc, min(l_returnflag) AS rf,"
            " max(l_linestatus) AS ls, max(l_orderkey) AS last_order"
            f" FROM lineitem_big WHERE l_extendedprice > {price}"
            f" GROUP BY {key} ORDER BY n DESC, {key} LIMIT 10")


def hot_text_scan_warm(seed: int) -> list[Request]:
    """One wide aggregation per client, on as many distinct keys as
    there are: distinct signatures never merge, so any two of them in
    a batch are enough sharers to admit the CSV to the cache."""
    rng = _rng("hot_text_scan-warm", seed)
    out = []
    for c in range(CLIENTS):
        sql = _wide(_WIDE_KEYS[c % len(_WIDE_KEYS)], f"{800 + rng.randrange(0, 10000) / 100:.2f}")
        out.append(Request(sql, oracle=sql))
    return out


# -- tenant_writes ----------------------------------------------------------
# Named sessions that rotate: client c walks sessions "tenant<c>-<g>",
# SESSION_REQUESTS requests each, with the clients' rotations staggered,
# so sessions are created all run long and the gateway's session cap
# evicts the retired ones. Each session starts with a CREATE OR REPLACE
# TEMP VIEW; every other session replaces its view halfway through (the
# old view's source, orders, is flushed from every session's cached
# results) and the others run a sink job that rewrites ~200k lineitem
# rows to the client's path, followed by a read of that path. Writes
# are 4 of every 24 requests.

SESSION_REQUESTS = 12
CYCLE = 2 * SESSION_REQUESTS
SINK_AT = SESSION_REQUESTS // 2  # positions within a cycle
REPLACE_AT = SESSION_REQUESTS + SESSION_REQUESTS // 2
VIEW = "recent_orders"


def _view_def(rng: random.Random) -> str:
    return ("SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority, o_orderdate"
            f" FROM orders WHERE o_orderdate >= DATE '{_day(rng, 0, 1500)}'")


def _sink_def(rng: random.Random) -> str:
    return ("SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice, l_returnflag"
            f" FROM lineitem WHERE l_shipdate >= DATE '{_day(rng, 1500, 1700)}'")


def _tenant_read(rng: random.Random, uid: int, k: int, view_def: str) -> tuple[str, str]:
    """The k-th read: view and base-table reads alternate."""
    if k % 2 == 0:
        sql = (f"SELECT o_orderpriority, count(*) AS n, {_dsum('o_totalprice', 'total')}"
               f" FROM {VIEW} WHERE o_totalprice > {1000 + uid / 100:.2f}"
               " GROUP BY o_orderpriority")
        return sql, f"WITH {VIEW} AS ({view_def}) {sql}"
    tmpl = (_d_customer, _d_part, _d_lineitem)[k // 2 % 3]
    sql = tmpl(rng, 1000 + uid / 100)[0]
    return sql, sql


def tenant_writes(seed: int, client: int, sink_root: str) -> Iterator[Request]:
    sink = f"{sink_root}/tenant{client}"
    offset = client * SESSION_REQUESTS // CLIENTS
    view_def = ""
    sink_def = None
    last_read: tuple[str, str] | None = None
    for i in itertools.count():
        rng = _rng("tenant_writes", seed, client, i)
        j = i + offset
        session = f"tenant{client}-{j // SESSION_REQUESTS}"
        if i == 0 or j % SESSION_REQUESTS == 0 or j % CYCLE == REPLACE_AT:
            view_def = _view_def(rng)
            last_read = None
            yield Request(f"CREATE OR REPLACE TEMP VIEW {VIEW} AS {view_def}",
                          session=session, write=True)
        elif j % CYCLE == SINK_AT:
            sink_def = _sink_def(rng)
            yield Request(sink_def, session=session, output=sink,
                          props={"partition_by": "l_returnflag"}, write=True)
        elif sink_def is not None and j % CYCLE == SINK_AT + 1:
            agg = (f"SELECT l_returnflag, count(*) AS n, {_dsum('l_extendedprice', 'revenue')}"
                   " FROM {src} GROUP BY l_returnflag")
            yield Request(agg.format(src=f"parquet.`{sink}`"),
                          oracle=agg.format(src=f"({sink_def}) AS s"), session=session)
        elif last_read is not None and i % 3 == 0:
            yield Request(last_read[0], oracle=last_read[1], session=session, repeat=True)
        else:
            last_read = _tenant_read(rng, _uid(client, i), i, view_def)
            yield Request(last_read[0], oracle=last_read[1], session=session)


WORKLOADS = ("dashboard", "hot_text_scan", "tenant_writes")


def streams(workload: str, seed: int, work_dir: str) -> list[Iterator[Request]]:
    """One request iterator per client."""
    if workload == "dashboard":
        return [dashboard(seed, c) for c in range(CLIENTS)]
    if workload == "hot_text_scan":
        return [hot_text_scan(seed, c) for c in range(CLIENTS)]
    if workload == "tenant_writes":
        return [tenant_writes(seed, c, f"{work_dir}/sinks") for c in range(CLIENTS)]
    raise ValueError(f"unknown workload {workload!r}; known: {WORKLOADS}")
