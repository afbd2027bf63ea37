"""Independent checker for the question workloads.

Expected results come from DuckDB over the same parquet files, through a
SQL graph that restates the engine's graph view (node-id bases, labels,
undirected edges with their identity triple). Nothing here reads Spark
output to build an expectation; Spark's output is only what gets checked.

check_online(con, questions, records), check_batch(...), check_catalog(...)
and check_load(...) return a list of problems; an empty list means the
outputs are correct.
"""
import glob
import hashlib
import math
import re
import tarfile
import unicodedata

import duckdb
import numpy as np

MAX_NODES = 20          # GraphRaft.Config.maxNodes / batchRetrieve1Hop maxNodes
BEAM = 5                # GraphRaft.Config.beamWidth
N_SAMPLES = 5           # samples per question in the batch workload
NEAR_TIE = 2e-6         # cosine gap under which two nodes may swap places

GRAPH_SQL = """
CREATE TABLE nodes AS
  SELECT 1000000000 + r_regionkey::BIGINT AS nodeId, 'Region' AS label, r_name::VARCHAR AS name FROM region
  UNION ALL SELECT 2000000000 + n_nationkey::BIGINT, 'Nation', n_name FROM nation
  UNION ALL SELECT 3000000000 + c_custkey, 'Customer', c_name FROM customer
  UNION ALL SELECT 4000000000 + s_suppkey, 'Supplier', s_name FROM supplier
  UNION ALL SELECT 5000000000 + p_partkey, 'Part', p_name FROM part
  UNION ALL SELECT 6000000000 + o_orderkey, 'Order', o_orderkey::VARCHAR FROM orders;
CREATE TABLE rels AS
  SELECT 'IN_REGION' AS relType, 2000000000 + n_nationkey::BIGINT AS src, 1000000000 + n_regionkey::BIGINT AS dst FROM nation
  UNION ALL SELECT 'FROM_NATION', 3000000000 + c_custkey, 2000000000 + c_nationkey FROM customer
  UNION ALL SELECT 'FROM_NATION', 4000000000 + s_suppkey, 2000000000 + s_nationkey FROM supplier
  UNION ALL SELECT 'PLACED', 3000000000 + o_custkey, 6000000000 + o_orderkey FROM orders
  UNION ALL (SELECT DISTINCT 'CONTAINS', 6000000000 + l_orderkey, 5000000000 + l_partkey FROM lineitem)
  UNION ALL (SELECT DISTINCT 'SUPPLIES', 4000000000 + l_suppkey, 5000000000 + l_partkey FROM lineitem);
CREATE TABLE bidir AS
  SELECT relType, src, dst, src AS a, dst AS b FROM rels
  UNION ALL SELECT relType, src, dst, dst AS a, src AS b FROM rels WHERE src <> dst;
CREATE TABLE emb AS
  SELECT 5000000000 + vec_id AS nodeId, embedding::DOUBLE[] AS embedding FROM embeddings;
"""

TRAIL = "NOT (e1.relType = e2.relType AND e1.src = e2.src AND e1.dst = e2.dst)"

# (aggregates, from/where, group keys, template) per candidate pattern; the
# templates are path_retriever.py's create_query shapes. `hop1` is the
# anchors' 1-hop frontier, materialized first so that the planner never
# joins the edge table with itself unanchored.
PATTERNS = {
    "1hop": ("count(DISTINCT t.nodeId) AS num, count(DISTINCT t.nodeId) FILTER (WHERE g.id IS NOT NULL) AS hits",
             "hop1 e1 JOIN nodes t ON t.nodeId = e1.b "
             "LEFT JOIN gold g ON g.qid = e1.qid AND g.id = t.nodeId WHERE true",
             "e1.qid, e1.sl, e1.sn, e1.relType, t.label",
             'MATCH (x1:{0} {{name: "{1}"}})-[r1:{2}]-(x2:{3}) RETURN DISTINCT x2.name AS name'),
    "2hop": ("count(DISTINCT t.nodeId) AS num, count(DISTINCT t.nodeId) FILTER (WHERE g.id IS NOT NULL) AS hits",
             "hop1 e1 JOIN bidir e2 ON e2.a = e1.b "
             "JOIN nodes m ON m.nodeId = e1.b JOIN nodes t ON t.nodeId = e2.b "
             "LEFT JOIN gold g ON g.qid = e1.qid AND g.id = t.nodeId WHERE " + TRAIL
             + " AND ({node_distinct} e2.b <> e1.sid)",
             "e1.qid, e1.sl, e1.sn, e1.relType, m.label, e2.relType, t.label",
             'MATCH (x1:{0} {{name: "{1}"}})-[r1:{2}]-(x2:{3})-[r2:{4}]-(x3:{5}) RETURN DISTINCT x3.name AS name'),
    "2path": ("count(DISTINCT m.nodeId) AS num, count(DISTINCT m.nodeId) FILTER (WHERE g.id IS NOT NULL) AS hits",
              "hop1 e1 JOIN hop1 e2 ON e2.b = e1.b AND e2.qid = e1.qid "
              "JOIN nodes m ON m.nodeId = e1.b "
              "LEFT JOIN gold g ON g.qid = e1.qid AND g.id = m.nodeId WHERE " + TRAIL
              + " AND ({node_distinct} e1.sid <> e2.sid)",
              "e1.qid, e1.sl, e1.sn, e1.relType, m.label, e2.relType, e2.sl, e2.sn",
              'MATCH (x1:{0} {{name: "{1}"}})-[r1:{2}]-(x2:{3})-[r2:{4}]-(x3:{5} {{name: "{6}"}}) RETURN DISTINCT x2.name AS name'),
}


def connect(data_dir, temp_dir):
    con = duckdb.connect(config={"temp_directory": temp_dir, "threads": 2,
                                 "memory_limit": "1GB"})
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "embeddings", "documents", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    con.execute(GRAPH_SQL)
    return con


def _norm(s):
    return unicodedata.normalize("NFC", s).lower()


def _load_questions(con, anchors):
    """anchors: list of (qid, anchor names, gold ids)."""
    con.execute("CREATE OR REPLACE TABLE qn (qid BIGINT, name VARCHAR)")
    con.execute("CREATE OR REPLACE TABLE gold (qid BIGINT, id BIGINT)")
    con.executemany("INSERT INTO qn VALUES (?, ?)",
                    [(q, n) for q, names, _ in anchors for n in names])
    con.executemany("INSERT INTO gold VALUES (?, ?)",
                    [(q, i) for q, _, gold in anchors for i in set(gold)])
    con.execute("CREATE OR REPLACE TABLE anchors AS SELECT qid, nodeId, label, name "
                "FROM (SELECT DISTINCT qid, name FROM qn) JOIN nodes USING (name)")
    # e1.b reached from anchor e1.sid over the stored edge (relType, src, dst)
    con.execute("CREATE OR REPLACE TABLE hop1 AS SELECT s.qid, s.nodeId AS sid, "
                "s.label AS sl, s.name AS sn, e.relType, e.src, e.dst, e.b "
                "FROM anchors s JOIN bidir e ON e.a = s.nodeId")


def expected_candidates(con, anchors, with_targets=False):
    """qid -> {cypher: (hits, num_results)}; with_targets also returns
    qid -> {cypher: set of result node ids} under Cypher semantics
    (relationships distinct along the path, nodes may repeat)."""
    _load_questions(con, anchors)
    out, targets = {}, {}
    for name, (aggs, body, keys, tmpl) in PATTERNS.items():
        nkeys = keys.count(",") + 1
        for row in con.execute(f"SELECT {keys}, {aggs} FROM "
                               f"{body.format(node_distinct='')} GROUP BY ALL").fetchall():
            out.setdefault(row[0], {})[tmpl.format(*row[1:nkeys])] = (row[nkeys + 1], row[nkeys])
        if with_targets:
            tgt = "m.nodeId" if name == "2path" else "t.nodeId"
            cy_body = body.format(node_distinct="true OR ")
            for row in con.execute(f"SELECT {keys}, list(DISTINCT {tgt}) FROM "
                                   f"{cy_body} GROUP BY ALL").fetchall():
                targets.setdefault(row[0], {})[tmpl.format(*row[1:nkeys])] = set(row[nkeys])
    return out, targets


def _embeddings(con):
    rows = con.execute("SELECT nodeId, embedding FROM emb ORDER BY nodeId").fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    return ids, mat / np.linalg.norm(mat, axis=1, keepdims=True)


def _cosines(ids, unit, q):
    q = np.asarray(q, dtype=np.float64)
    return dict(zip(ids.tolist(), (unit @ (q / np.linalg.norm(q))).tolist()))


def _same_ranking(got, want, cos, where, problems):
    """`got` and `want` are node-id lists ordered best first; positions may
    differ only between embedded nodes whose cosines are within NEAR_TIE."""
    if len(got) != len(want):
        problems.append(f"{where}: {len(got)} nodes, expected {len(want)}")
        return
    for i, (a, b) in enumerate(zip(got, want)):
        if a != b and not (a in cos and b in cos and abs(cos[a] - cos[b]) <= NEAR_TIE):
            problems.append(f"{where}: position {i} is node {a}, expected {b}")
            return


def expected_found(top, results, cos):
    """Retrieval.budgetedAssemble in node mode: the chosen queries in rank
    order, each query's nodes by (similarity desc, nulls last, nodeId),
    at most MAX_NODES + 1 rows per query; a node counts at its first
    occurrence; the add that reaches MAX_NODES nodes is evicted, so at most
    MAX_NODES - 1 nodes are found."""
    seen, out = set(), []
    for cy in top:
        rows = sorted(results.get(cy, ()), key=lambda i: (i not in cos, -cos.get(i, 0.0), i))
        for i in rows[:MAX_NODES + 1]:
            if i not in seen:
                seen.add(i)
                out.append(i)
    return out[:MAX_NODES - 1]


def check_online(con, questions, records):
    problems = []
    by_id = {q["id"]: q for q in questions}
    names = {}
    for nid, name in con.execute("SELECT nodeId, name FROM nodes").fetchall():
        names.setdefault(_norm(name), set()).add(name)
    anchors = []
    for r in records:
        q = by_id[r["id"]]
        want = set().union(*(names.get(_norm(m), set()) for m in q["mentions"]))
        if set(r["sources"]) != want or len(r["sources"]) != len(want):
            problems.append(f"q{r['id']}: source names {r['sources']} != {sorted(want)}")
        anchors.append((r["id"], sorted(want), q["gold"]))
    cands, targets = expected_candidates(con, anchors, with_targets=True)
    ids, unit = _embeddings(con)
    for r in records:
        qid, where = r["id"], f"q{r['id']}"
        got = {c[0]: (c[1], c[2]) for c in r["candidates"]}
        if len(got) != len(r["candidates"]) or got != cands.get(qid, {}):
            problems.append(f"{where}: candidates differ from DuckDB's per-schema counts")
            continue
        # top-k: the k best (-hits, num_results) keys, ties in any order
        keys = sorted((-h, n) for h, n in got.values())[:BEAM]
        top_keys = sorted((-got[c][0], got[c][1]) for c in r["top"] if c in got)
        if len(r["top"]) != min(BEAM, len(got)) or top_keys != keys:
            problems.append(f"{where}: top-{BEAM} are not the best-ranked candidates")
        ret = r["retrieved"]
        node_ids = [x[0] for x in ret]
        if len(set(node_ids)) != len(node_ids):
            problems.append(f"{where}: a nodeId repeats in the retrieved context")
        if len(ret) > MAX_NODES:
            problems.append(f"{where}: {len(ret)} nodes exceed the budget of {MAX_NODES}")
        found = [x for x in ret if x[3] != ["No pattern"]]
        backfill = [x[0] for x in ret if x[3] == ["No pattern"]]
        if ret[:len(found)] != found:
            problems.append(f"{where}: a backfill node precedes a pattern-found node")
        cos = _cosines(ids, unit, by_id[qid]["emb"])
        want = expected_found(r["top"], targets.get(qid, {}), cos)
        _same_ranking([x[0] for x in found], want, cos, f"{where} found", problems)
        # GraphRaft.Retrieved holds a Double: a node without an embedding
        # (null similarity, ordered last) comes back as 0.0
        for x in found:
            if abs((x[2] or 0.0) - cos.get(x[0], 0.0)) > NEAR_TIE:
                problems.append(f"{where}: node {x[0]} similarity {x[2]} != cosine {cos.get(x[0])}")
        for x in ret:
            if x[3] == ["No pattern"] and abs(x[2] - cos.get(x[0], 9)) > NEAR_TIE:
                problems.append(f"{where}: node {x[0]} similarity {x[2]} != cosine {cos.get(x[0])}")
        found_ids = {x[0] for x in found}
        order = sorted((i for i in cos if i not in found_ids),
                       key=lambda i: (-round(cos[i], 6), i))
        n_backfill = min(max(0, MAX_NODES - 1 - len(found)), len(order))
        _same_ranking(backfill, order[:n_backfill], cos, f"{where} backfill", problems)
    return problems


def check_batch(con, questions, out):
    problems = []
    anchors = [(q["id"], q["mentions"], q["gold"]) for q in questions]
    want, _ = expected_candidates(con, anchors)
    got = {}
    for qid, cy, hits, num in out["candidates"]:
        got.setdefault(qid, {})[cy] = (hits, num)
    if len(out["candidates"]) != sum(len(v) for v in want.values()) or got != want:
        problems.append("candidate rows or hits differ from DuckDB's")
    gold = {q["id"]: set(q["gold"]) for q in questions}
    best = {qid: min(cs.items(), key=lambda kv: (-kv[1][0], kv[1][1], kv[0]))
            for qid, cs in want.items()}
    gated = {qid for qid, (_, (h, n)) in best.items()
             if gold[qid] and h / len(gold[qid]) >= 1.0 and n and h / n >= 0.1}
    if set(out["gated"]) != gated or len(out["gated"]) != len(gated):
        problems.append(f"gate passed {sorted(out['gated'])}, expected {sorted(gated)}")
    samples = {}
    for qid, _, cy in out["sampled"]:
        samples.setdefault(qid, []).append(cy)
    for qid, cys in samples.items():
        if len(set(cys)) != len(cys) or len(cys) > N_SAMPLES \
                or not set(cys) <= set(want.get(qid, {})):
            problems.append(f"q{qid}: sampled ranks are not distinct candidates in range")
    if set(samples) != {q for q, cs in want.items() if cs}:
        problems.append("some question with candidates got no samples")
    # retrieval: the best 1-hop candidate's targets, top-20 by cosine
    ids, unit = _embeddings(con)
    picked = {}
    for qid, cs in want.items():
        one = [(cy, hn) for cy, hn in cs.items() if "-(x3:" not in cy]
        if one:
            picked[qid] = min(one, key=lambda kv: (-kv[1][0], kv[1][1], kv[0]))[0]
    _load_picked(con, picked)
    reach = dict(con.execute(
        "SELECT s.qid, list(DISTINCT t.nodeId) FROM anchors s "
        "JOIN bidir e ON e.a = s.nodeId JOIN nodes t ON t.nodeId = e.b "
        "JOIN picked p ON p.qid = s.qid AND p.name = s.name AND p.rel = e.relType "
        "AND p.tl = t.label GROUP BY 1").fetchall())
    retrieved = {}
    for qid, nid, sim, rank in sorted(out["retrieved"], key=lambda x: (x[0], x[3])):
        retrieved.setdefault(qid, []).append((nid, sim, rank))
    qemb = {q["id"]: q["emb"] for q in questions}
    for qid in picked:
        cos = _cosines(ids, unit, qemb[qid])
        cand = sorted(reach.get(qid, []),
                      key=lambda i: (i not in cos, -round(cos.get(i, 0.0), 6), i))
        mine = retrieved.get(qid, [])
        if [x[2] for x in mine] != list(range(1, len(mine) + 1)):
            problems.append(f"q{qid}: retrieval ranks are not 1..n")
        _same_ranking([x[0] for x in mine], cand[:MAX_NODES], cos, f"q{qid} retrieval", problems)
    if set(retrieved) - set(picked):
        problems.append("retrieval returned questions that have no 1-hop candidate")
    problems += _check_metrics(out, retrieved, gold)
    return problems


ONE_HOP = re.compile(r'MATCH \(x1:\w+ \{name: "(.*)"\}\)-\[r1:(\w+)\]-\(x2:(\w+)\) RETURN')


def _load_picked(con, picked):
    """The picked 1-hop schema per question, as (qid, anchor name, rel, label)."""
    con.execute("CREATE OR REPLACE TABLE picked (qid BIGINT, name VARCHAR, rel VARCHAR, tl VARCHAR)")
    con.executemany("INSERT INTO picked VALUES (?, ?, ?, ?)",
                    [(qid,) + ONE_HOP.match(cy).groups() for qid, cy in picked.items()])


def _check_metrics(out, retrieved, gold):
    """compute_metrics.py's macro-averaged suite, recomputed."""
    per = []
    for qid, rows in retrieved.items():
        preds = list(dict.fromkeys(x[0] for x in rows))
        labels = gold[qid]
        inter = len(set(preds) & labels)
        p = inter / len(preds) if preds else 0.0
        r = inter / len(labels) if labels else 0.0
        f1 = 2 * p * r / (p + r) if p + r > 0 else 0.0
        first = next((i + 1 for i, x in enumerate(preds) if x in labels), None)
        hit = lambda k: 1.0 if set(preds[:k]) & labels else 0.0
        rec20 = len(set(preds[:20]) & labels) / len(labels) if labels else 0.0
        per.append({"precision": p, "recall": r, "f1": f1, "mrr": 1.0 / first if first else 0.0,
                    "num_preds": float(len(preds)), "hit_1": hit(1), "hit_5": hit(5),
                    "recall_20": rec20})
    m = out["metrics"]
    problems = []
    if m.get("n_questions") != len(per):
        problems.append(f"macroAvg counted {m.get('n_questions')} questions, expected {len(per)}")
    for k in per[0] if per else []:
        want = round(sum(x[k] for x in per) / len(per), 6)
        if abs(m.get(f"avg_{k}", float("nan")) - want) > 1.5e-6:
            problems.append(f"macroAvg avg_{k} = {m.get(f'avg_{k}')}, expected {want}")
    return problems


def _norm_cell(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm_cell(x)) for k, x in v.items()))
    return v


def _cells_equal(a, b):
    if isinstance(a, float) and isinstance(b, (float, int)):
        return a == b or abs(a - b) < 1e-12
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_cells_equal(x, y) for x, y in zip(a, b))
    return a == b


def _table(con, sql):
    """(sorted column names, rows with columns in that order, sorted by repr)."""
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted((tuple(_norm_cell(r[i]) for i in idx) for r in cur.fetchall()), key=repr)
    return [cols[i] for i in idx], rows


def read_catalog(con, out_dir, names):
    """name -> (columns, rows) of the Spark result the run wrote."""
    return {n: _table(con, f"SELECT * FROM '{out_dir}/catalog/{n}/*.parquet'") for n in names}


def check_catalog(con, oracle_sql, results):
    """Each entry against its DuckDB oracle, with tools/check.py's rules:
    columns by name, rows sorted, values equal (floats within 1e-12)."""
    problems = []
    for name, sql in sorted(oracle_sql.items()):
        cols, rows = results[name]
        ocols, orows = _table(con, sql)
        if cols != ocols:
            problems.append(f"catalog {name}: columns {cols}, oracle {ocols}")
        elif len(rows) != len(orows):
            problems.append(f"catalog {name}: {len(rows)} rows, oracle {len(orows)}")
        elif not all(_cells_equal(a, b) for a, b in zip(orows, rows)):
            problems.append(f"catalog {name}: rows differ from the oracle")
    return problems


# LOAD layouts that are copies of a source table: step -> (path name
# pattern, source table or graph table, DuckDB reader)
COPIES = {
    "zorder": ("graft-zorder", "lineitem", "read_parquet('{p}/*.parquet')"),
    # the layout keeps `ts` as epoch nanoseconds (graft.Queries.eventsT)
    "partitioned": ("graft-part", "(SELECT * REPLACE (epoch_ns(ts) AS ts) FROM events)",
                    "read_parquet('{p}/**/*.parquet', hive_partitioning = true)"),
    "bucketed_nodes": ("_nodes", "nodes", "read_parquet('{p}/*.parquet')"),
    "bucketed_rels": ("_rels", "rels", "read_parquet('{p}/*.parquet')"),
}


def read_layouts(con, written):
    """Per layout copy: (rows, checksum) of the layout as written and of
    its source, both computed by DuckDB; the checksum is the sum of a hash
    of every row over the source's columns, so it does not depend on
    order. The tar shards are read with tarfile and compared as a
    multiset of (entry name, payload) with the documents table."""
    out = {}
    for key, (pat, source, reader) in COPIES.items():
        step = key.split("_")[0]
        paths = [p for p in written.get(step, {}).get("paths", []) if pat in p]
        if len(paths) != 1:
            out[key] = (("paths", len(paths)), None)
            continue
        cols = [d[0] for d in con.execute(f"SELECT * FROM {source} LIMIT 0").description]
        agg = f"count(*), sum(hash({', '.join(cols)})::HUGEINT)"
        out[key] = (con.execute(f"SELECT {agg} FROM {reader.format(p=paths[0])}").fetchone(),
                    con.execute(f"SELECT {agg} FROM {source}").fetchone())
    paths = [p for p in written.get("tar", {}).get("paths", []) if "graft-tar" in p]
    got = []
    for p in paths:
        for shard in sorted(glob.glob(f"{p}/*.tar")):
            with tarfile.open(shard) as t:
                got += [(m.name, t.extractfile(m).read()) for m in t.getmembers()]
    want = []
    for doc, text, lang in con.execute("SELECT doc_id, text, lang FROM documents").fetchall():
        key = f"doc{doc:09d}"
        want += [(key + ".txt", (text or "").encode()), (key + ".cls", (lang or "").encode())]
    digest = lambda es: (len(es), sum(int(hashlib.md5(n.encode() + b"\0" + b).hexdigest()[:15], 16)
                                      for n, b in es))
    out["tar"] = (digest(got) if len(paths) == 1 else ("paths", len(paths)), digest(want))
    return out


def check_load(layouts):
    return [f"layout {k}: read back {got}, source {want}"
            for k, (got, want) in sorted(layouts.items()) if got != want]
