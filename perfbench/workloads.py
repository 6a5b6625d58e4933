"""Seeded query generation and independent oracles for the workloads.

`generate(workload, seed, rounds)` returns the seed's queries, in rounds
of one query per template with fresh parameters each round, and the
priming round's seed-independent twins. Each
query is a dict the JVM driver understands (`kind` plus parameters).
`Oracle` recomputes every query's expected rows without graft: DuckDB
SQL over the same parquet for relational results, and brute-force
Python/numpy for the graph kernels.
"""
import hashlib
import math
import random
import re

import duckdb
import numpy as np

import gen_data

WORKLOADS = ("match_interactive", "analytics")

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


# ------------------------------------------------------------------ queries

def _gt(text, kind="gt", **args):
    """A GRAPH_TABLE query (`gt`) or full SQL through `sqlGraph`. The
    parameters ride along for the oracle."""
    return dict(args, kind=kind, text=" ".join(text.split()))


def _match_templates(r):
    """Fixed-length GRAPH_TABLE MATCH over `trade`: (name, query) pairs."""
    bal = round(r.uniform(6000, 9000), 2)
    reg = r.randrange(5)
    seg = r.choice(SEGMENTS)
    lo = r.randrange(1, 14_000)
    price = round(r.uniform(200_000, 300_000), 2)
    hi_price = round(r.uniform(488_000, 494_000), 2)
    mod = r.choice([7, 11, 13])
    rem = r.randrange(mod)
    skip = r.randrange(25)
    nations = sorted(r.sample(range(25), 3))
    return [
        ("one_hop", _gt(f"""trade MATCH (c:Customer)-[e:InNation]->(n:Nation)
            WHERE c.c_acctbal > {bal} AND n.n_regionkey = {reg}
            COLUMNS (c.c_custkey AS custkey, n.n_name AS nation)""", bal=bal, reg=reg)),
        ("two_hop", _gt(f"""trade MATCH (c:Customer)-[e1:InNation]->(n:Nation)-[e2:InRegion]->(r:Region)
            WHERE r.r_name = '{REGIONS[reg]}' AND c.c_mktsegment = '{seg}'
            COLUMNS (c.c_custkey AS custkey, n.n_name AS nation)""", reg=reg, seg=seg)),
        ("three_hop", _gt(f"""trade MATCH (c:Customer)-[pl:Placed]->(o:Order)-[ct:Contains]->(p:Part)
            WHERE c.c_custkey BETWEEN {lo} AND {lo + 150} AND o.o_totalprice > {price}
            COLUMNS (c.c_custkey AS custkey, o.o_orderkey AS orderkey, p.p_partkey AS partkey)""",
            lo=lo, hi=lo + 150, price=price)),
        ("reverse", _gt(f"""trade MATCH (n:Nation)<-[e:SuppNation]-(s:Supplier)
            WHERE s.s_acctbal > {bal}
            COLUMNS (n.n_name AS nation, s.s_suppkey AS suppkey)""", bal=bal)),
        ("undirected", _gt(f"""trade MATCH (a:Nation)-[e:NationNext]-(b:Nation)
            WHERE a.n_regionkey = {reg} AND b.n_nationkey <> {skip}
            COLUMNS (a.n_nationkey AS a_key, b.n_nationkey AS b_key)""", reg=reg, skip=skip)),
        ("sublabel", _gt(f"""trade MATCH (o:Order)-[ct:OddLine]->(p:OddSizePart)
            WHERE o.o_totalprice > {hi_price}
            COLUMNS (o.o_orderkey AS orderkey, p.p_partkey AS partkey, p.p_size AS size)""",
            price=hi_price)),
        ("optional_edge", _gt(f"""trade MATCH p = ANY SHORTEST
            (a:Nation WHERE a.n_nationkey IN ({", ".join(map(str, nations))}))-[e:NationNext]->?(b:Nation)
            COLUMNS (a.n_nationkey AS src, b.n_nationkey AS dst, path_length(p) AS dist)""",
            nations=nations)),
        ("sql_agg", _gt(f"""SELECT nation, count(*) AS n, round(sum(bal), 2) AS total
            FROM GRAPH_TABLE (trade MATCH (c:Customer)-[e:InNation]->(n:Nation)
              WHERE c.c_mktsegment = '{seg}'
              COLUMNS (n.n_name AS nation, c.c_acctbal AS bal))
            GROUP BY nation""", kind="sqlgraph", seg=seg)),
        ("sql_filter", _gt(f"""SELECT g.custkey, count(*) AS orders
            FROM GRAPH_TABLE (trade MATCH (c:Customer)-[pl:Placed]->(o:Order)
              WHERE o.o_totalprice > {price + 150_000}
              COLUMNS (c.c_custkey AS custkey)) g
            WHERE g.custkey % {mod} = {rem}
            GROUP BY g.custkey""", kind="sqlgraph", price=price + 150_000, mod=mod, rem=rem)),
    ]


def _users(r, n):
    return sorted(r.sample(range(1, gen_data.N_USERS + 1), n))


def _path_templates(r):
    """User-interaction graph: GRAPH_TABLE path modes plus direct kernels."""
    seeds3 = _users(r, 3)
    one = _users(r, 1)[0]
    targets = [t for t in _users(r, 12) if t != one][:10]
    ids = ", ".join(map(str, seeds3))
    tids = ", ".join(map(str, targets))
    return [
        ("any_shortest", _gt(f"""ugraph MATCH p = ANY SHORTEST
            (a:U WHERE a.id IN ({ids}))-[e:I]->{{1,2}}(b:U)
            COLUMNS (a.id AS src, b.id AS dst, path_length(p) AS dist)""", seeds=seeds3)),
        ("bounded_targets", _gt(f"""ugraph MATCH p = ANY SHORTEST
            (a:U WHERE a.id = {one})-[e:I]->{{1,3}}(b:U WHERE b.id IN ({tids}))
            COLUMNS (a.id AS src, b.id AS dst, path_length(p) AS dist)""",
            src=one, targets=targets)),
        ("shortest_k", _gt(f"""ugraph MATCH p = SHORTEST 2
            (a:U WHERE a.id = {one})-[e:I]->{{1,2}}(b:U WHERE b.id IN ({tids}))
            COLUMNS (a.id AS src, b.id AS dst, path_length(p) AS dist, vertices(p) AS vpath)""",
            src=one, targets=targets)),
        ("bfs", {"kind": "bfs", "seeds": _users(r, 5), "depth": 2}),
        ("reach", {"kind": "reach", "seeds": _users(r, 2)}),
        ("pagerank", {"kind": "pagerank", "damping": round(r.uniform(0.8, 0.9), 3),
                      "iters": 15}),
        ("wcc", {"kind": "wcc", "mod": 50, "rem": r.randrange(50)}),
        ("lcc", {"kind": "lcc", "mod": 10 + r.randrange(3), "rem": r.randrange(10)}),
        ("earliest", {"kind": "earliest", "seeds": _users(r, 3), "hops": 3}),
    ]


# Templates per workload, in stream order. A run measures whole rounds,
# so every run holds the same template mix.
ORDER = {
    "match_interactive": ["three_hop", "reverse", "sublabel", "undirected", "sql_filter",
                          "one_hop", "optional_edge", "two_hop", "sql_agg"],
    "analytics": ["ivf", "reach", "minhash", "bfs", "copurchase", "wcc", "asof", "earliest",
                  "any_shortest", "lcc", "bounded_targets", "pagerank", "shortest_k"],
}


def _ops_templates(r):
    lo = r.randrange(1, 14_400)
    doc = r.randrange(1, gen_data.N_DOCS - 200)
    return [
        ("copurchase", {"kind": "copurchase", "lo": lo, "hi": lo + 600,
                        "min_weight": 5}),
        ("minhash", {"kind": "minhash", "lo": doc, "hi": doc + 200,
                     "threshold": r.choice([0.7, 0.75, 0.8])}),
        ("asof", {"kind": "asof", "mod": 2, "rem": r.randrange(2),
                  "tolerance_ms": r.randrange(1_800_000, 7_200_001, 60_000)}),
        ("ivf", {"kind": "ivf", "lists": 8, "nprobe": 2, "k": 5,
                 "queries": sorted(r.sample(range(gen_data.N_EMB), 20))}),
    ]


TABLES = {
    "match_interactive": ["customer", "nation", "region", "supplier", "orders",
                          "lineitem", "part"],
    "analytics": ["events", "orders", "lineitem", "documents", "embeddings"],
}


MAKE = {"match_interactive": _match_templates,
        "analytics": lambda r: _path_templates(r) + _ops_templates(r)}


def _queries(workload, r, suffix=""):
    made = dict(MAKE[workload](r))
    return [dict(made[n], id=n + suffix, template=n) for n in ORDER[workload]]


def generate(workload, seed, rounds):
    """Returns (queries, prime): `rounds` rounds of the seed's queries, one
    per template in stream order with fresh parameters drawn for every
    round, and the priming round's twins with seed-independent parameters."""
    queries = []
    for k in range(rounds):
        queries += _queries(workload, random.Random(f"{workload}:{seed}:{k}"), f".r{k}")
    return queries, _queries(workload, random.Random(f"{workload}:prime"), ".prime")


def repeats(queries):
    """How many queries repeat the template and parameters of an earlier one."""
    seen, n = set(), 0
    for q in queries:
        key = repr(sorted((k, v) for k, v in q.items() if k != "id"))
        n += key in seen
        seen.add(key)
    return n


# ------------------------------------------------------------------ oracles

USER_EDGES = """
  SELECT DISTINCT prev AS src, user_id AS dst FROM (
    SELECT user_id, lag(user_id) OVER (PARTITION BY date_trunc('hour', ts)
                                       ORDER BY ts, event_id) AS prev
    FROM events)
  WHERE prev IS NOT NULL AND prev <> user_id"""

USER_TEDGES = """
  SELECT DISTINCT prev AS src, user_id AS dst, epoch_ms(ts) AS ts FROM (
    SELECT user_id, ts, lag(user_id) OVER (PARTITION BY date_trunc('hour', ts)
                                           ORDER BY ts, event_id) AS prev
    FROM events)
  WHERE prev IS NOT NULL AND prev <> user_id"""


NATION_NEXT = """nn AS (
  SELECT n_nationkey AS src, n_regionkey AS reg,
    coalesce(lead(n_nationkey) OVER (PARTITION BY n_regionkey ORDER BY n_nationkey),
             min(n_nationkey) OVER (PARTITION BY n_regionkey)) AS dst
  FROM nation)"""


def _match_sql(q):
    """DuckDB twin of a match_interactive query."""
    t = q["template"]
    if t == "one_hop":
        return f"""SELECT c_custkey, n_name FROM customer JOIN nation ON c_nationkey = n_nationkey
                   WHERE c_acctbal > {q['bal']} AND n_regionkey = {q['reg']}"""
    if t == "two_hop":
        return f"""SELECT c_custkey, n_name FROM customer
                   JOIN nation ON c_nationkey = n_nationkey
                   JOIN region ON n_regionkey = r_regionkey
                   WHERE r_name = '{REGIONS[q['reg']]}' AND c_mktsegment = '{q['seg']}'"""
    if t == "three_hop":
        return f"""SELECT c_custkey, o_orderkey, l_partkey FROM customer
                   JOIN orders ON o_custkey = c_custkey
                   JOIN lineitem ON l_orderkey = o_orderkey
                   JOIN part ON p_partkey = l_partkey
                   WHERE c_custkey BETWEEN {q['lo']} AND {q['hi']} AND o_totalprice > {q['price']}"""
    if t == "reverse":
        return f"""SELECT n_name, s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
                   WHERE s_acctbal > {q['bal']}"""
    if t == "undirected":
        return f"""WITH {NATION_NEXT},
                   und AS (SELECT src, dst, reg FROM nn UNION ALL SELECT dst, src, reg FROM nn)
                   SELECT src, dst FROM und WHERE reg = {q['reg']} AND dst <> {q['skip']}"""
    if t == "sublabel":
        return f"""SELECT o_orderkey, l_partkey, p_size FROM orders
                   JOIN lineitem ON l_orderkey = o_orderkey
                   JOIN part ON p_partkey = l_partkey
                   WHERE o_totalprice > {q['price']}
                     AND (l_linenumber & 1) = 1 AND (p_size & 1) = 1"""
    if t == "optional_edge":
        ids = ", ".join(map(str, q["nations"]))
        return f"""WITH {NATION_NEXT}
                   SELECT src, src, 0 FROM nn WHERE src IN ({ids})
                   UNION ALL
                   SELECT src, dst, 1 FROM nn WHERE src IN ({ids}) AND src <> dst"""
    if t == "sql_agg":
        return f"""SELECT n_name, count(*), round(sum(c_acctbal), 2)
                   FROM customer JOIN nation ON c_nationkey = n_nationkey
                   WHERE c_mktsegment = '{q['seg']}' GROUP BY n_name"""
    if t == "sql_filter":
        return f"""SELECT c_custkey, count(*) FROM customer JOIN orders ON o_custkey = c_custkey
                   WHERE o_totalprice > {q['price']} AND c_custkey % {q['mod']} = {q['rem']}
                   GROUP BY c_custkey"""
    raise ValueError(t)


P31 = 2147483647


def _minhash_pairs(docs, threshold):
    """Replays graft's MinHash LSH: word 3-shingles, 31-bit md5 hashes,
    16 hashes from the (2j+1, FNV-offset) permutation family, 4 bands of
    4, bucket-size guards 1 < size <= 20000, hashed-set Jaccard."""
    hv, sig = {}, {}
    for doc_id, text in docs:
        if text is None:
            continue
        toks = re.split(r"\s+", text.lower().strip())
        sh = [" ".join(toks)] if len(toks) < 3 else \
            [" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)]
        h = np.array(sorted({int(hashlib.md5(x.encode()).hexdigest()[:12], 16) % P31
                             for x in set(sh)}), dtype=np.int64)
        hv[doc_id] = set(h.tolist())
        sig[doc_id] = [int(((h * (2 * j + 1) + (1099511628211 * (j + 1)) % P31) % P31).min())
                       for j in range(16)]
    buckets = {}
    for d, sg in sig.items():
        for b in range(4):
            buckets.setdefault((b, tuple(sg[4 * b:4 * b + 4])), []).append(d)
    cand = set()
    for members in buckets.values():
        if 1 < len(members) <= 20000:
            ms = sorted(members)
            cand.update((x, y) for i, x in enumerate(ms) for y in ms[i + 1:])
    out = []
    for a, b in cand:
        j = len(hv[a] & hv[b]) / len(hv[a] | hv[b])
        if j >= threshold:
            out.append((a, b, round(j, 6)))
    return out


class Oracle:
    """Expected rows for each query."""

    def __init__(self, data_dir):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "documents", "embeddings", "events"):
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{data_dir}/{t}.parquet/*.parquet')")
        self._graph = None

    def graph(self):
        """The user graph: edge arrays, temporal edge arrays, sorted vertex
        ids and an adjacency dict."""
        if self._graph is None:
            e = self.con.execute(USER_EDGES).fetchnumpy()
            te = self.con.execute(USER_TEDGES).fetchnumpy()
            users = self.con.execute("SELECT DISTINCT user_id FROM events").fetchnumpy()
            src, dst = e["src"].astype(np.int64), e["dst"].astype(np.int64)
            adj = {}
            for a, b in zip(src.tolist(), dst.tolist()):
                adj.setdefault(a, []).append(b)
            self._graph = (src, dst, te["src"].astype(np.int64),
                           te["dst"].astype(np.int64), te["ts"].astype(np.int64),
                           np.sort(users["user_id"].astype(np.int64)), adj)
        return self._graph

    def rows(self, q):
        t = q["template"]
        if t in ORDER["match_interactive"]:
            return self.con.execute(_match_sql(q)).fetchall()
        if t in ("copurchase", "minhash", "asof"):
            return self._ops_rows(q)
        src, dst, tsrc, tdst, tts, users, adj = self.graph()
        if t == "any_shortest":
            return [(s, v, d) for s in q["seeds"]
                    for v, d in _bfs(adj, s, 2).items() if d >= 1]
        if t == "bounded_targets":
            s, tg = q["src"], set(q["targets"])
            return [(s, v, d) for v, d in _bfs(adj, s, 3).items() if d >= 1 and v in tg]
        if t == "shortest_k":
            s, tg = q["src"], set(q["targets"])
            walks = {}
            for x in sorted(set(adj.get(s, []))):
                walks.setdefault(x, []).append([s, x])
                for y in sorted(set(adj.get(x, []))):
                    walks.setdefault(y, []).append([s, x, y])
            out = []
            for v in tg:
                for w in sorted(walks.get(v, []), key=lambda w: (len(w), w))[:2]:
                    out.append((s, v, len(w) - 1, w))
            return out
        if t == "bfs":
            return [(s, v, d) for s in q["seeds"] for v, d in _bfs(adj, s, q["depth"]).items()]
        if t == "reach":
            return [(s, v, True) for s in q["seeds"] for v in _bfs(adj, s, None)]
        if t == "pagerank":
            return _pagerank(users, src, dst, q["damping"], q["iters"])
        keep = (src * 31 + dst) % q.get("mod", 1) == q.get("rem", 0)
        if t == "wcc":
            return _wcc(users, src[keep], dst[keep])
        if t == "lcc":
            return _lcc(users, src[keep], dst[keep])
        if t == "earliest":
            return _earliest(tsrc, tdst, tts, q["seeds"], q["hops"])
        raise ValueError(t)

    def _ops_rows(self, q):
        t = q["template"]
        if t == "copurchase":
            return self.con.execute(f"""
              WITH cp AS (SELECT DISTINCT o_custkey AS u, l_partkey AS v
                          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                          WHERE o_custkey BETWEEN {q['lo']} AND {q['hi']})
              SELECT a.u, b.u, count(*) FROM cp a JOIN cp b ON a.v = b.v AND a.u < b.u
              GROUP BY 1, 2 HAVING count(*) >= {q['min_weight']}""").fetchall()
        if t == "minhash":
            docs = self.con.execute(f"""SELECT doc_id, text FROM documents
              WHERE doc_id BETWEEN {q['lo']} AND {q['hi']}""").fetchall()
            return _minhash_pairs(docs, q["threshold"])
        if t == "asof":
            tol = q["tolerance_ms"]
            ev = f"SELECT * FROM events WHERE user_id % {q['mod']} = {q['rem']}"
            return self.con.execute(f"""
              WITH p AS (SELECT user_id, event_id AS pe, epoch_ms(ts) AS p_ms
                         FROM ({ev}) WHERE event_type = 'purchase'),
                   c AS (SELECT user_id, epoch_ms(ts) AS c_ms, max(event_id) AS ce
                         FROM ({ev}) WHERE event_type = 'click' GROUP BY 1, 2),
                   j AS (SELECT p.user_id, p.pe, p.p_ms, c.ce, c.c_ms
                         FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.p_ms >= c.c_ms),
                   k AS (SELECT j.*, c.ce AS ne, c.c_ms AS n_ms
                         FROM j ASOF LEFT JOIN c ON j.user_id = c.user_id AND j.p_ms <= c.c_ms)
              SELECT user_id, pe,
                CASE WHEN p_ms - c_ms <= {tol} THEN ce END,
                CASE WHEN p_ms - c_ms <= {tol} THEN p_ms - c_ms END,
                CASE WHEN n_ms - p_ms <= {tol} THEN ne END,
                CASE WHEN n_ms - p_ms <= {tol} THEN n_ms - p_ms END
              FROM k""").fetchall()
        raise ValueError(t)

    def check_ivf(self, q, rows):
        """IVF search is approximate: check each returned neighbour's
        cosine, the rank order and the per-query count instead of a digest."""
        emb = self.con.execute("SELECT vec_id, embedding FROM embeddings ORDER BY vec_id").fetchall()
        vec = np.array([e[1] for e in emb], dtype=np.float32).astype(np.float64)
        vec /= np.linalg.norm(vec, axis=1, keepdims=True)
        by_q = {}
        for qid, nid, rank, cos in rows:
            if abs(float(vec[qid] @ vec[nid]) - cos) > 1e-5:
                return f"cosine of ({qid},{nid}) is {cos}"
            by_q.setdefault(qid, []).append((rank, cos))
        if sorted(by_q) != sorted(q["queries"]):
            return "result does not cover exactly the query ids"
        for qid, hits in by_q.items():
            hits.sort()
            if [r for r, _ in hits] != list(range(1, q["k"] + 1)):
                return f"query {qid} ranks {[r for r, _ in hits]}"
            if any(a[1] < b[1] - 1e-9 for a, b in zip(hits, hits[1:])):
                return f"query {qid} not ordered by cosine"
        return None

    def check(self, q, rows):
        """None when `rows` (as returned by the program) are correct, else
        a one-line reason."""
        if q["kind"] == "ivf":
            return self.check_ivf(q, rows)
        return compare(rows, self.rows(q))


def _bfs(adj, s, depth):
    dist = {s: 0}
    frontier = [s]
    d = 0
    while frontier and (depth is None or d < depth):
        d += 1
        nxt = []
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = d
                    nxt.append(v)
        frontier = nxt
    return dist


def _pagerank(users, src, dst, damping, iters):
    n = len(users)
    pos = {u: i for i, u in enumerate(users.tolist())}
    s = np.array([pos[x] for x in src.tolist()])
    t = np.array([pos[x] for x in dst.tolist()])
    outdeg = np.bincount(s, minlength=n).astype(float)
    rank = np.full(n, 1.0 / n)
    for _ in range(iters):
        dangling = rank[outdeg == 0].sum()
        inflow = np.bincount(t, weights=rank[s] / outdeg[s], minlength=n)
        rank = (1 - damping) / n + damping * (inflow + dangling / n)
    return list(zip(users.tolist(), rank.tolist()))


def _wcc(users, src, dst):
    parent = {u: u for u in users.tolist()}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in zip(src.tolist(), dst.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [(u, find(u)) for u in users.tolist()]


def _lcc(users, src, dst):
    und = {}
    for a, b in zip(src.tolist(), dst.tolist()):
        if a != b:
            und.setdefault(a, set()).add(b)
            und.setdefault(b, set()).add(a)
    out = []
    for v in users.tolist():
        nb = und.get(v, set())
        d = len(nb)
        if d < 2:
            out.append((v, 0.0))
            continue
        links = sum(len(und.get(x, set()) & nb) for x in nb)
        out.append((v, links / (d * (d - 1))))
    return out


def _earliest(src, dst, ts, seeds, hops):
    t0 = ts.min()
    ids = np.unique(np.concatenate([src, dst, np.array(seeds)]))
    si, di = np.searchsorted(ids, src), np.searchsorted(ids, dst)
    big = np.iinfo(np.int64).max
    out = []
    for s in seeds:
        best = np.full(len(ids), big)
        best[np.searchsorted(ids, s)] = t0
        for _ in range(hops):
            ok = ts >= best[si]
            nxt = best.copy()
            np.minimum.at(nxt, di[ok], ts[ok])
            best = nxt
        for i in np.nonzero(best < big)[0]:
            if ids[i] != s:
                out.append((s, int(ids[i]), int(best[i])))
    return out


# ------------------------------------------------------------------ compare

def _norm(v):
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return int(f) if f.is_integer() and abs(f) < 2 ** 53 else f
    return str(v)


def _key(row):
    def k(v):
        if v is None:
            return (0, 0)
        if isinstance(v, tuple):
            return (3, tuple(k(x) for x in v))
        if isinstance(v, str):
            return (2, v)
        return (1, round(float(v), 4))
    return tuple(k(v) for v in row)


def _close(a, b):
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-6)
    return a == b


def compare(got, want):
    """Order-independent multiset comparison; numbers within 1e-6."""
    g = sorted((tuple(_norm(v) for v in r) for r in got), key=_key)
    w = sorted((tuple(_norm(v) for v in r) for r in want), key=_key)
    if len(g) != len(w):
        return f"{len(g)} rows, oracle has {len(w)}"
    for a, b in zip(g, w):
        if not _close(a, b):
            return f"row {a} != oracle {b}"
    return None
