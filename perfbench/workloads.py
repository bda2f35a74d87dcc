"""Workload definitions and the seeded script generator.

A workload is a fixed multiset of ops. One *pass* runs every op of the
workload once; the seed only permutes the order inside each pass and, for
graph_write, picks the write targets and values. The harness receives the
script (query texts, parameters, expected answers) and nothing else.

Read and analytics ops send the Cypher texts of the engine's graded
`SparkEntry` queries through `Cypher.query` on the parquet-backed TPC-H
graph (`TpchGraph`), and are checked against the DuckDB oracle SQL of the
same `SparkEntry` name. Pipeline and bulk-ingest ops call the
`SparkEntry.queries` function itself.
"""
import random

# ---- graph_read: read-only Cypher over the TPC-H graph ----------------
READ_OPS = {
    "cy_expand_count": """MATCH (n:Nation)<-[:FROM_NATION]-(c:Customer)
RETURN n.name AS nation, count(c) AS n_customers ORDER BY nation""",
    "cy_multi_pattern": """MATCH (su:Supplier)-[:SUPP_NATION]->(n:Nation), (c:Customer)-[:FROM_NATION]->(n)
WHERE su.acctbal > c.acctbal
RETURN n.name AS nation, count(*) AS n_pairs ORDER BY nation""",
    "cy_vle_unbounded": """MATCH (x)-[:FROM_NATION|IN_REGION*]->(r:Region)
RETURN r.name AS region, count(*) AS n ORDER BY region""",
    "cy_shortestpath": """MATCH p = shortestpath((c:Customer)-[:FROM_NATION|IN_REGION*..3]->(r:Region))
RETURN length(p) AS hops, count(*) AS n ORDER BY hops""",
    "cy_exists_subquery": """MATCH (c:Customer)
WHERE EXISTS { (c)-[:PLACED]->(:Order {orderstatus: 'F'}) }
RETURN c.mktsegment AS segment, count(*) AS n ORDER BY segment""",
    "cy_count_subquery": """MATCH (c:Customer)
WITH COUNT { (c)-[:PLACED]->() } AS k
RETURN k, count(*) AS n ORDER BY k""",
    "cy_path_fns": """MATCH p = (c:Customer)-[:FROM_NATION]->(n:Nation)-[:IN_REGION]->(r:Region)
WHERE r.name = 'ASIA'
RETURN size(nodes(p)) AS n_nodes, size(relationships(p)) AS n_rels,
  count(*) AS n""",
    "cy_union": """MATCH (c:Customer)-[:FROM_NATION]->(n) RETURN n.name AS name
UNION MATCH (s:Supplier)-[:FROM_NATION]->(n) RETURN n.name AS name""",
}
SQL_ENTRY = """SELECT nation, n_cust FROM cypher('sqlg',
  'MATCH (n:Nation)<-[:FROM_NATION]-(c:Customer)
   RETURN n.name AS nation, count(c) AS n_cust')
WHERE n_cust >= 2 ORDER BY nation"""

# ---- graph_analytics: CALL procedures (GraphAlgos) -------------------
ANALYTICS_TEXT_OPS = {
    "cy_call_hits": """CALL hits(4) YIELD id, hub, auth
RETURN id, round(auth, 6) AS auth, round(hub, 8) AS hub
ORDER BY auth DESC, id LIMIT 5""",
    "cy_call_ppr": """CALL ppr(844424930131969, 0.15, 4) YIELD id, rank
RETURN id, round(rank, 8) AS rank
ORDER BY rank DESC, id LIMIT 5""",
    "cy_call_lpa": """CALL label_propagation(3) YIELD id, community
WITH community, count(*) AS sz
RETURN sz, count(*) AS n_communities ORDER BY sz DESC LIMIT 10""",
    "cy_call_walks": """CALL random_walks(4) YIELD walker, dest
WITH dest / 281474976710656 AS label_id
RETURN label_id, count(*) AS n ORDER BY label_id""",
    "cy_call_wsssp": """CALL wsssp(844424930131969, 'quantity', 6) YIELD id, dist
RETURN count(*) AS n_reached, round(sum(dist), 4) AS total_dist,
       round(max(dist), 4) AS max_dist""",
}
# generator-graph and custom-graph procedures: the SparkEntry function
ANALYTICS_ENTRY_OPS = ["cy_call_kcore", "cy_call_triangles",
                       "cy_call_betweenness", "cy_call_scc"]

# ---- pipeline_batch: graft.pipeline / graft.streaming ----------------
PIPELINE_OPS = ["p_curation", "q_dedup_graph", "q_stream_curation",
                "q_stream_decontam", "p_stream_neardup", "p_minhash_lsh",
                "p_dedup_clusters", "p_containment", "p_kmeans",
                "p_semantic_dedup", "q_skew_join"]

# ---- graph_write: a seeded session on a MutableGraph ----------------
BULK_OPS = ["cy_merge_datadriven", "q_graph_ingest", "q_csv_load"]
# the part of the TPC-H graph the write session copies and commits
STORE_LABELS = ["Customer", "Order", "PLACED"]
POOL_SIZE = 16
TAG = "perfbench-"

SET_TEXT = "MATCH (c:Customer {name: $name}) SET c.acctbal = $bal"
CREATE_TEXT = ("MATCH (c:Customer {name: $name}) CREATE (c)-[:PLACED]->"
               "(:Order {orderstatus: 'N', totalprice: $price, orderpriority: $tag})")
DELETE_TEXT = "MATCH (o:Order {orderpriority: $tag}) DETACH DELETE o"
READ_BAL = ("MATCH (c:Customer {name: $name}) "
            "RETURN toInteger(round(c.acctbal * 100)) AS cents")
READ_POOL = ("MATCH (c:Customer) WHERE c.name IN $names "
             "RETURN count(*) AS n, sum(toInteger(round(c.acctbal * 100))) AS cents")
READ_ORDER = ("MATCH (c:Customer {name: $name})-[:PLACED]->(o:Order {orderpriority: $tag}) "
              "RETURN toInteger(round(o.totalprice * 100)) AS cents")
READ_GONE = "MATCH (o:Order {orderpriority: $tag}) RETURN count(*) AS n"
READ_NORDERS = ("MATCH (c:Customer {name: $name})-[:PLACED]->(o:Order) "
                "RETURN count(o) AS n")
READ_CREATED = ("MATCH (c:Customer)-[:PLACED]->(o:Order) "
                "WHERE o.orderpriority STARTS WITH $prefix "
                "RETURN count(*) AS n, sum(toInteger(round(o.totalprice * 100))) AS cents")

WORKLOADS = ["graph_read", "graph_analytics", "graph_write", "pipeline_batch"]
SETUP = {"graph_read": "tpch", "graph_analytics": "tpch",
         "graph_write": "mutable", "pipeline_batch": "none"}


def _step(op, kind, call, graph=None, text=None, params=None, entry=None,
          expect=None, oracle=None):
    return {"op": op, "kind": kind, "call": call, "graph": graph, "text": text,
            "params": params or {}, "entry": entry, "expect": expect,
            "oracle": oracle}


def base_pass(workload):
    """The op multiset of one pass of a read-only workload."""
    if workload == "graph_read":
        ops = [_step(n, "read", "cypher", "tpch", t, oracle=n)
               for n, t in READ_OPS.items()]
        ops.append(_step("cy_sql_entry", "read", "sql", "sqlg", SQL_ENTRY,
                         oracle="cy_sql_entry"))
        return ops
    if workload == "graph_analytics":
        ops = [_step(n, "analytics", "cypher", "tpch", t, oracle=n)
               for n, t in ANALYTICS_TEXT_OPS.items()]
        return ops + [_step(n, "analytics", "entry", entry=n, oracle=n)
                      for n in ANALYTICS_ENTRY_OPS]
    if workload == "pipeline_batch":
        return [_step(n, "pipeline", "entry", entry=n, oracle=n)
                for n in PIPELINE_OPS]
    raise ValueError(workload)


class WriteModel:
    """What the graph_write session's reads must return, tracked from the
    generator's own writes on top of the base facts read from the input
    tables (one DuckDB query, before the engine runs)."""

    def __init__(self, rng, seed, base_cents, base_orders):
        self.rng = rng
        self.seed = seed
        self.pool = sorted(base_cents)
        self.cents = dict(base_cents)
        self.orders = dict(base_orders)
        self.live = []          # created orders, oldest first: (tag, name, cents)
        self.n_created = 0

    def _name(self):
        return self.pool[self.rng.randrange(len(self.pool))]

    def pool_read(self, op="read_pool"):
        exp = [[str(len(self.pool)), str(sum(self.cents.values()))]]
        return _step(op, "read", "cypher", "store", READ_POOL,
                     {"names": self.pool}, expect=exp)

    def set_group(self):
        name = self._name()
        cents = self.rng.randrange(-99999, 999999)
        self.cents[name] = cents
        return [_step("set_acctbal", "write", "execute", text=SET_TEXT,
                      params={"name": name, "bal": cents / 100}),
                _step("read_acctbal", "read", "cypher", "store", READ_BAL,
                      {"name": name}, expect=[[str(cents)]]),
                self.pool_read()]

    def create_group(self):
        name = self._name()
        cents = self.rng.randrange(100000, 50000000)
        tag = f"{TAG}{self.seed}-{self.n_created}"
        self.n_created += 1
        self.live.append((tag, name, cents))
        self.orders[name] += 1
        return [_step("create_order", "write", "execute", text=CREATE_TEXT,
                      params={"name": name, "price": cents / 100, "tag": tag}),
                _step("read_order", "read", "cypher", "store", READ_ORDER,
                      {"name": name, "tag": tag}, expect=[[str(cents)]]),
                _step("read_norders", "read", "cypher", "store", READ_NORDERS,
                      {"name": name}, expect=[[str(self.orders[name])]])]

    def delete_group(self):
        tag, name, _ = self.live.pop(0)
        self.orders[name] -= 1
        return [_step("delete_order", "write", "execute", text=DELETE_TEXT,
                      params={"tag": tag}),
                _step("read_deleted", "read", "cypher", "store", READ_GONE,
                      {"tag": tag}, expect=[["0"]]),
                _step("read_norders", "read", "cypher", "store", READ_NORDERS,
                      {"name": name}, expect=[[str(self.orders[name])]])]

    def final_checks(self):
        """Reads run on the last commit after it is reloaded."""
        created = [str(len(self.live)), str(sum(c for _, _, c in self.live))]
        if not self.live:
            created[1] = "null"
        pool = self.pool_read("final_pool")
        pool["graph"] = "loaded"
        return [pool,
                _step("final_created", "read", "cypher", "loaded", READ_CREATED,
                      {"prefix": TAG}, expect=[created])]


def _bulk():
    return [_step(n, "write", "entry", entry=n, oracle=n) for n in BULK_OPS]


def _commit():
    return _step("commit", "commit", "commit")


def write_script(rng, seed, base_cents, base_orders, max_passes):
    """graph_write warm-up, passes and final checks. Every pass has two
    SETs, two CREATEs and two DETACH DELETEs, each with a point read and
    an aggregate read, the three bulk-ingest ops (the data-driven MERGE
    on the store; q_graph_ingest and q_csv_load each build their own
    scratch graph) and one commit at the end of the pass. The warm-up
    runs the same groups and ops and the store's first, full commit, and
    leaves two created orders for the passes' DELETEs."""
    m = WriteModel(rng, seed, base_cents, base_orders)
    warm = m.set_group() + m.create_group() + m.create_group() + \
        m.create_group() + m.delete_group() + _bulk() + [_commit()]
    passes, finals = [], [m.final_checks()]
    for _ in range(max_passes):
        groups = [m.set_group, m.create_group, m.delete_group] * 2 + \
            [lambda s=s: [s] for s in _bulk()]
        rng.shuffle(groups)
        # DELETE removes the oldest live order; the model must see the
        # groups in execution order, so build them after shuffling
        passes.append([s for g in groups for s in g()] + [_commit()])
        finals.append(m.final_checks())
    return warm, passes, finals


def pool_query(pool):
    """DuckDB SQL for the base facts of the customer pool."""
    names = ", ".join(f"'{n}'" for n in pool)
    return f"""SELECT c_name, CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
  (SELECT count(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders
FROM customer WHERE c_name IN ({names})"""


def pick_pool(rng, n_customers):
    keys = rng.sample(range(n_customers), POOL_SIZE)
    return [f"Customer#{k:09d}" for k in keys]


def make_script(workload, seed, max_passes, base_facts=None, n_customers=15000):
    """Returns (warmup, passes, final_by_pass). `base_facts(pool)` gives
    {name: (cents, n_orders)} for graph_write."""
    rng = random.Random(f"{workload}:{seed}")
    if workload == "graph_write":
        pool = pick_pool(rng, n_customers)
        facts = base_facts(pool)
        return write_script(rng, seed, {n: facts[n][0] for n in pool},
                            {n: facts[n][1] for n in pool}, max_passes)
    ops = base_pass(workload)
    warm = list(ops)
    rng.shuffle(warm)
    passes = []
    for _ in range(max_passes):
        p = list(ops)
        rng.shuffle(p)
        passes.append(p)
    return warm, passes, None
