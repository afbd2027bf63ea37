"""Seeded question generator for the GraphRAFT question workloads.

Six kinds of question, in three fan-out classes:

  low        order           one Order anchor             gold: its parts
  two-entity order_supplier  an Order and a Supplier,     gold: parts of the order
                             so 2-path candidates exist   that the supplier supplies
  hub        nation          one Nation anchor            gold: its suppliers
  low        customer        one Customer anchor          gold: its orders
  hub        part_name       a Part name shared by ~30    gold: suppliers of
                             parts (~300 at sf0.1)        those parts
  low        supplier        one Supplier anchor          gold: the parts it supplies
                                                          with p_size >= 46, a
                                                          subset, so the llm1 gate
                                                          (precision >= 0.1) can fail

Question i has kind KINDS[i % 6], so the mix of kinds and classes is the
same for every seed. Each kind draws its entities from the middle half of
its fan-out (parts of an order, orders of a customer, parts of a supplier,
suppliers of a nation, parts sharing a name). The seed picks which
entities each question names, and the question embeddings.
"""
import random

import duckdb

KINDS = ["order", "order_supplier", "nation", "customer", "part_name", "supplier"]
EMB_DIM = 64
# node-id bases of the graph view over the tables (graft.graph.TpchGraph)
SUPPLIER_BASE, PART_BASE, ORDER_BASE = 4_000_000_000, 5_000_000_000, 6_000_000_000


def _pools(con):
    """Candidate entities per kind as (name fields..., gold ids, fan-out),
    kept to the middle half of the kind's fan-out so that a seed changes
    which entities are asked about, not how much work they cause."""
    sql = {
        "order": "SELECT l_orderkey, list(DISTINCT l_partkey ORDER BY l_partkey), "
                 "count(DISTINCT l_partkey) FROM lineitem GROUP BY 1",
        "customer": "SELECT c_name, list(DISTINCT o_orderkey ORDER BY o_orderkey), count(*) "
                    "FROM customer JOIN orders ON o_custkey = c_custkey GROUP BY 1",
        "supplier": "SELECT s_name, list(DISTINCT l_partkey ORDER BY l_partkey) "
                    "FILTER (WHERE p_size >= 46), count(DISTINCT l_partkey) "
                    "FROM supplier JOIN lineitem ON l_suppkey = s_suppkey "
                    "JOIN part ON p_partkey = l_partkey GROUP BY 1",
        "nation": "SELECT n_name, list(DISTINCT s_suppkey ORDER BY s_suppkey), count(*) "
                  "FROM nation JOIN supplier ON s_nationkey = n_nationkey GROUP BY 1",
        "part_name": "SELECT p_name, list(DISTINCT l_suppkey ORDER BY l_suppkey), "
                     "count(DISTINCT p_partkey) "
                     "FROM part JOIN lineitem ON l_partkey = p_partkey GROUP BY 1",
        "order_supplier": "SELECT l_orderkey, s_name, list(DISTINCT l_partkey ORDER BY l_partkey), "
                          "any_value(n) FROM lineitem JOIN supplier ON s_suppkey = l_suppkey "
                          "JOIN (SELECT l_orderkey, count(DISTINCT l_partkey) AS n FROM lineitem "
                          "GROUP BY 1) USING (l_orderkey) GROUP BY 1, 2",
    }
    pools = {}
    for kind, query in sql.items():
        rows = sorted(con.execute(query).fetchall())
        fan = sorted(r[-1] for r in rows)
        lo, hi = fan[len(fan) // 4], fan[(3 * len(fan)) // 4]
        pools[kind] = [r[:-1] for r in rows if lo <= r[-1] <= hi]
    return pools


def _question(kind, row):
    if kind == "order":
        k, parts = row
        return f"Which parts does order {k} contain?", [str(k)], [PART_BASE + p for p in parts]
    if kind == "customer":
        name, orders = row
        return f"Which orders did {name} place?", [name], [ORDER_BASE + o for o in orders]
    if kind == "supplier":
        name, parts = row
        return f"Which parts does {name} supply?", [name], [PART_BASE + p for p in parts]
    if kind == "nation":
        name, supps = row
        return f"Which suppliers are from {name}?", [name], [SUPPLIER_BASE + s for s in supps]
    if kind == "part_name":
        name, supps = row
        return (f"Who supplies parts called {name}?", [name],
                [SUPPLIER_BASE + s for s in supps])
    k, name, parts = row
    return (f"Which parts of order {k} come from {name}?", [str(k), name],
            [PART_BASE + p for p in parts])


def _embedding(rng):
    emb = [rng.gauss(0.0, 1.0) for _ in range(EMB_DIM)]
    norm = sum(x * x for x in emb) ** 0.5
    return [x / norm for x in emb]


def unmatched(data_dir, seed, qid):
    """A question whose mention names no node (a Part name with a model
    suffix no name has): entity match finds nothing, so there are no
    candidates and the answer is the KNN backfill alone."""
    con = duckdb.connect()
    names = [r[0] for r in con.execute(
        f"SELECT DISTINCT p_name FROM '{data_dir}/part.parquet' ORDER BY 1").fetchall()]
    con.close()
    rng = random.Random(f"unmatched-{seed}")
    name = f"{rng.choice(names)} mk{rng.randrange(2, 10)}"
    return {"id": qid, "kind": "unmatched", "question": f"Who supplies parts called {name}?",
            "mentions": [name], "gold": [], "emb": _embedding(rng)}


def generate(data_dir, seed, n):
    """n questions; the same seed gives the same list."""
    con = duckdb.connect()
    for t in ("customer", "supplier", "nation", "part", "orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    pools = _pools(con)
    con.close()
    rng = random.Random(seed)
    out = []
    for i in range(n):
        kind = KINDS[i % len(KINDS)]
        text, mentions, gold = _question(kind, rng.choice(pools[kind]))
        out.append({"id": len(out), "kind": kind, "question": text,
                    "mentions": mentions, "gold": gold, "emb": _embedding(rng)})
    return out
