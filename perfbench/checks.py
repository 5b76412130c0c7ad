"""Checks of graft's answers against answers computed apart from graft.

The agent workloads are checked against DuckDB over the raw parquet,
through this file's own SQL for the memory graph (NODES_SQL, EDGES_SQL:
graft's documented table-to-graph mapping, written out again here).
semanticSearch is checked by properties. The batch workloads are
checked against each query's oracle SQL, plus property checks for
connected components and k-core.

`python3 perfbench/checks.py --self-test` feeds every checker a correct
answer and a perturbed one, and fails unless only the perturbed one is
rejected.
"""
import functools
import hashlib
import json
import os
import sys

import duckdb
import numpy as np
import pyarrow as pa

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

NODES_SQL = """
SELECT 'fact:' || doc_id AS id, 'fact' AS ntype, text AS content,
       lang AS attr, CAST(n_chars AS DOUBLE) AS score FROM documents
UNION ALL SELECT 'dec:' || o_orderkey, 'decision', o_orderpriority,
       o_orderstatus, o_totalprice FROM orders
UNION ALL SELECT 'ent:c:' || c_custkey, 'entity', c_name, 'customer',
       c_acctbal FROM customer
UNION ALL SELECT 'ent:s:' || s_suppkey, 'entity', s_name, 'supplier',
       s_acctbal FROM supplier
UNION ALL SELECT 'ent:p:' || p_partkey, 'entity', p_name, 'part',
       p_retailprice FROM part
UNION ALL SELECT 'evt:' || event_id, 'event', event_type,
       strftime(ts, '%Y-%m-%d'), value FROM events
UNION ALL SELECT DISTINCT 'topic:' || c_mktsegment, 'topic', c_mktsegment,
       'segment', 0.0 FROM customer
"""

EDGES_SQL = """
SELECT 'decision_entity' AS etype, 'dec:' || o_orderkey AS src,
       'ent:c:' || o_custkey AS dst, 'customer' AS prop FROM orders
UNION ALL SELECT 'decision_entity', 'dec:' || l_orderkey,
       'ent:p:' || l_partkey, 'part' FROM lineitem
UNION ALL SELECT 'entity_topic', 'ent:c:' || c_custkey,
       'topic:' || c_mktsegment, '' FROM customer
UNION ALL SELECT 'fact_entity', 'fact:' || doc_id,
       'ent:c:' || (doc_id % (SELECT count(*) FROM customer)), '' FROM documents
UNION ALL SELECT 'event_decision', 'evt:' || event_id,
       'dec:' || (event_id % (SELECT count(*) FROM orders)), '' FROM events
UNION ALL SELECT 'invalidates', 'evt:' || event_id, 'evt:' || prev, event_type
FROM (SELECT event_id, event_type, lag(event_id) OVER (
        PARTITION BY user_id, event_type ORDER BY ts, event_id) AS prev
      FROM events) WHERE prev IS NOT NULL
"""


def connect(data):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    con.execute(f"CREATE TABLE nodes AS {NODES_SQL}")
    con.execute(f"CREATE TABLE edges AS {EDGES_SQL}")
    return con


def q(con, sql, *params):
    return [tuple(r) for r in con.execute(sql, list(params)).fetchall()]


def _s(x):
    return sorted(x, key=lambda r: tuple((v is None, str(v)) for v in r))


# --- agent: read calls ------------------------------------------------

def expect_read(con, f):
    """The answer DuckDB gives for one read op; None = property check."""
    op = f[0]
    if op == "node":
        return q(con, "SELECT * FROM nodes WHERE id = ?", f[1])
    if op == "findByName":
        return q(con, "SELECT * FROM nodes WHERE ntype = ? AND lower(content) = "
                      "lower(?) ORDER BY id LIMIT 1", f[1], f[2])
    if op == "findFactByContent":
        return q(con, "SELECT * FROM nodes WHERE ntype = 'fact' AND "
                      "instr(content, ?) > 0 ORDER BY id LIMIT 1", f[1])
    if op == "list":
        nt, attr, sort, lim, off, valid = f[1], f[2], f[3], int(f[4]), int(f[5]), f[6]
        where = "ntype = ?" + (" AND attr = ?" if attr != "-" else "")
        if valid == "1":
            where += (" AND id NOT IN (SELECT dst FROM edges "
                      "WHERE etype = 'invalidates')")
        order = "score DESC, id" if sort == "score_desc" else "id"
        ps = [nt] + ([attr] if attr != "-" else [])
        return q(con, f"""
            WITH b AS (SELECT * FROM nodes WHERE {where})
            SELECT * FROM (SELECT row_number() OVER (ORDER BY {order}) AS pos,
                   id, content, attr, score,
                   (SELECT count(*) FROM b) AS total_count FROM b)
            WHERE pos > {off} AND pos <= {off + lim} ORDER BY pos""", *ps)
    if op == "exactSearch":
        nts = f[2].split(",")
        return q(con, f"""
            SELECT * FROM (SELECT ntype, row_number() OVER (
                     PARTITION BY ntype ORDER BY id) AS rk, id, content, attr
                   FROM nodes WHERE list_contains(?, ntype)
                     AND instr(content, ?) > 0) WHERE rk <= {int(f[3])}""",
                 nts, f[1])
    if op in ("outNeighbors", "inNeighbors"):
        a, b = ("src", "dst") if op == "outNeighbors" else ("dst", "src")
        return q(con, f"""
            SELECT n.id, n.ntype, n.content, n.attr, n.score, e.prop
            FROM edges e JOIN nodes n ON e.{b} = n.id
            WHERE e.etype = ? AND e.{a} = ?""", f[2], f[1])
    if op == "walk":
        return q(con, """
            WITH RECURSIVE chain(step, src, dst, prop) AS (
              SELECT 1, src, dst, prop FROM edges
              WHERE etype = 'invalidates' AND prop = ? AND src = ?
              UNION ALL
              SELECT c.step + 1, e.src, e.dst, e.prop FROM chain c
              JOIN edges e ON e.src = c.dst AND e.etype = 'invalidates'
                AND e.prop = ? WHERE c.step < ?)
            SELECT * FROM chain""", f[2], f[1], f[2], int(f[3]))
    if op == "recentContext":
        def sec(nt, k, valid):
            v = (" AND id NOT IN (SELECT dst FROM edges WHERE "
                 "etype = 'invalidates')") if valid else ""
            return q(con, f"""
                SELECT '{nt}', row_number() OVER (ORDER BY
                         CAST(regexp_extract(id, '([0-9]+)$', 1) AS BIGINT) DESC, id),
                       id, content, attr, score FROM nodes
                WHERE ntype = '{nt}'{v}
                ORDER BY CAST(regexp_extract(id, '([0-9]+)$', 1) AS BIGINT) DESC, id
                LIMIT {k}""")
        return sec("fact", 5, True) + sec("decision", 3, False) + sec("entity", 5, False)
    if op == "stats":
        return q(con, """
            SELECT 'nodes_' || ntype AS metric, count(*) FROM nodes GROUP BY 1
            UNION ALL
            SELECT 'edges_' || etype, count(*) FROM edges GROUP BY 1
            ORDER BY 1""")
    if op == "semanticSearch":
        return None
    raise ValueError(f"no check for {op}")


ORDERED = {"list", "stats", "findByName", "findFactByContent"}


def check_read(con, sem, f, rows):
    """Errors (list of str) of one read answer."""
    if f[0] == "semanticSearch":
        return sem.check(f, rows)
    exp = expect_read(con, f)
    got = [tuple(r) for r in rows]
    if f[0] in ORDERED:
        ok = got == exp
    else:
        ok = _s(got) == _s(exp)
    return [] if ok else [f"{f}: got {got[:3]}... ({len(got)}) "
                          f"expected {exp[:3]}... ({len(exp)})"]


class Semantic:
    """Property check of semanticSearch: cosines of the deterministic
    16-d mock embedding recomputed here, rank order, the per-type cap,
    and that no node left out scores above the k-th result."""
    P = 1000000007
    DIM = 16

    def __init__(self, con):
        self.con = con
        self.by_type = {}
        self.a = np.array([(i * 2654435761 + 12345) % 1000003
                           for i in range(self.DIM)], dtype=object)

    def emb(self, text):
        h = 0
        for b in text.encode("utf-8"):
            h = (h * 31 + b) % self.P
        v = [((h * int(a)) % 1000003) / 1000003.0 * 2.0 - 1.0 for a in self.a]
        return np.array(v, dtype=np.float32).astype(np.float64)

    def table(self, nt):
        if nt not in self.by_type:
            rows = q(self.con, "SELECT id, content FROM nodes WHERE ntype = ?", nt)
            contents = sorted({c for _, c in rows})
            m = np.array([self.emb(c) for c in contents])
            idx = {c: i for i, c in enumerate(contents)}
            self.by_type[nt] = (rows, m, idx)
        return self.by_type[nt]

    def sims(self, nt, qv):
        rows, m, idx = self.table(nt)
        cos = (m @ qv) / (np.linalg.norm(m, axis=1) * np.linalg.norm(qv))
        return {i: cos[idx[c]] for i, c in rows}

    def check(self, f, rows):
        text, nts, per, k = f[1], f[2].split(","), int(f[3]), int(f[4])
        qv = self.emb(text)
        sims = {}
        for nt in nts:
            sims.update({i: (nt, s) for i, s in self.sims(nt, qv).items()})
        errs = []
        got = [tuple(r) for r in rows]
        if not got and sims and k > 0 and per > 0:
            errs.append(f"no results, though {len(sims)} nodes are candidates")
        if len(got) > k:
            errs.append(f"{len(got)} results > k={k}")
        for nt, i, s in got:
            if i not in sims or sims[i][0] != nt:
                errs.append(f"{i} is not a {nt} node of {nts}")
            elif abs(sims[i][1] - s) > 5e-7 + 1e-9:
                errs.append(f"{i}: sim {s} vs recomputed {sims[i][1]:.8f}")
        keys = [(-s, i) for _, i, s in got]
        if keys != sorted(keys):
            errs.append("results not in rank order")
        for nt in nts:
            if sum(1 for t, _, _ in got if t == nt) > per:
                errs.append(f"more than {per} results of type {nt}")
        if got and not errs:
            kth = got[-1][2]
            ret = {i for _, i, _ in got}
            full = len(got) == k
            for i, (nt, s) in sims.items():
                if i in ret:
                    continue
                cap = sum(1 for t, _, _ in got if t == nt) >= per
                floor = min(x for t, _, x in got if t == nt) if cap else kth
                if (full or cap) and s > floor + 1e-6:
                    errs.append(f"unreturned {i} scores {s:.6f} > {floor}")
                    break
                if not full and not cap:
                    errs.append(f"unreturned {i} though fewer than k results")
                    break
        return [f"{f}: {e}" for e in errs]


# --- agent: write sessions --------------------------------------------

class WriteOracle:
    """What the snapshot after a write session must show."""

    def __init__(self, con):
        self.facts = q(con, """
            SELECT id, content, attr, score FROM nodes WHERE ntype = 'fact'
              AND id NOT IN (SELECT dst FROM edges WHERE etype = 'invalidates')""")
        self.stats = dict(q(con, """
            SELECT 'nodes_' || ntype, count(*) FROM nodes GROUP BY 1 UNION ALL
            SELECT 'edges_' || etype, count(*) FROM edges GROUP BY 1"""))

    def check_session(self, steps, answers):
        """steps: the op lines of one round; answers: kind -> list of rows."""
        if len(answers["node"]) != len(steps) or len(answers["page"]) != len(steps):
            return [f"{len(steps)} write steps, {len(answers['node'])} read-backs"]
        errs = []
        valid = {i: (c, a, s) for i, c, a, s in self.facts}
        inval = 0
        for n, f in enumerate(steps):
            new, content, attr, score = f[2], f[3], f[4], float(f[5])
            valid[new] = (content, attr, score)
            if f[7] != "-":
                valid.pop(f[7], None)
                inval += 1
            got_node = [tuple(r) for r in answers["node"][n]]
            if got_node != [(new, "fact", content, attr, score)]:
                errs.append(f"step {n}: node({new}) read back {got_node}")
            page = sorted(valid.items(), key=lambda kv: (-kv[1][2], kv[0]))[:10]
            exp = [(p + 1, i, c, a, s, len(valid))
                   for p, (i, (c, a, s)) in enumerate(page)]
            got = [tuple(r) for r in answers["page"][n]]
            if got != exp:
                errs.append(f"step {n}: valid page {got[:2]}... expected {exp[:2]}...")
        exp_stats = dict(self.stats)
        exp_stats["nodes_fact"] += len(steps)
        exp_stats["edges_fact_entity"] += len(steps)
        exp_stats["edges_invalidates"] += inval
        if dict(tuple(r) for r in answers["stats"][0]) != exp_stats:
            errs.append(f"stats {answers['stats'][0]} expected {exp_stats}")
        if answers["invalid_visible"][0]:
            errs.append(f"invalidated facts still valid: {answers['invalid_visible'][0]}")
        for f, rows in zip([f for f in steps if f[8] != "-"], answers["updated"]):
            if len(rows) != 1 or rows[0][3] != f[9]:
                errs.append(f"updateAttr({f[8]}, {f[9]}) reads back {rows}")
        return errs


# --- batch workloads ---------------------------------------------------

def _cache_key(sql, data):
    h = hashlib.sha256(sql.encode())
    for t in TABLES:
        with open(f"{data}/{t}.parquet", "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:32]


def by_name(rel):
    """(column names sorted, rows with their values in that order)."""
    cols = list(rel.columns)
    perm = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in perm], [tuple(r[i] for i in perm) for r in rel.fetchall()]


def oracle_rows(con, sql, data, cache_dir):
    """The oracle's answer as by_name gives it, cached on disk by a key of
    the SQL text and the input files' contents."""
    path = os.path.join(cache_dir, _cache_key(sql, data) + ".json")
    if os.path.exists(path):
        with open(path) as fh:
            c = json.load(fh)
        return c["cols"], [tuple(r) for r in c["rows"]]
    cols, rows = by_name(con.sql(sql))
    if all(isinstance(v, (int, float, str, type(None))) for r in rows for v in r):
        os.makedirs(cache_dir, exist_ok=True)
        with open(path + ".tmp", "w") as fh:
            json.dump({"cols": cols, "rows": rows}, fh)
        os.replace(path + ".tmp", path)
    return cols, rows


def compare(name, got, exp):
    (gc, g), (ec, e) = got, exp
    if gc != ec:
        return [f"{name}: columns {gc} vs oracle {ec}"]
    if len(g) != len(e):
        return [f"{name}: {len(g)} rows vs oracle {len(e)}"]
    g, e = _s(g), _s(e)
    bad = [(a, b) for a, b in zip(g, e) if a != b]
    if bad:
        return [f"{name}: {len(bad)}/{len(g)} rows differ, first {bad[0][0]} "
                f"vs oracle {bad[0][1]}"]
    return []


def columns(got, names):
    cols, rows = got
    idx = [cols.index(n) for n in names]
    return [tuple(r[i] for i in idx) for r in rows]


def check_cc(con, rows):
    """Components of the invalidates graph: every edge's endpoints share
    a component, and each label is the smallest member of its component."""
    cc_rows = pa.table({"node": [r[0] for r in rows],
                        "component": [r[1] for r in rows]},
                       schema=pa.schema([("node", pa.string()),
                                         ("component", pa.string())]))
    con.register("cc_rows", cc_rows)
    con.execute("CREATE OR REPLACE TEMP TABLE cc AS SELECT * FROM cc_rows")
    con.unregister("cc_rows")
    bad = q(con, """SELECT count(*) FROM edges e
        LEFT JOIN cc a ON a.node = e.src LEFT JOIN cc b ON b.node = e.dst
        WHERE e.etype = 'invalidates' AND (a.component IS NULL
          OR b.component IS NULL OR a.component <> b.component)""")[0][0]
    lab = q(con, """SELECT count(*) FROM (SELECT component, min(node) m
        FROM cc GROUP BY 1) WHERE m <> component""")[0][0]
    errs = []
    if bad:
        errs.append(f"cc: {bad} invalidates edges cross components")
    if lab:
        errs.append(f"cc: {lab} labels are not their component's minimum")
    return errs


@functools.lru_cache(maxsize=2)
def true_core(con, k=3):
    """The k-core of the undirected simple graph, peeled to convergence."""
    adj = {}
    for a, b in q(con, "SELECT DISTINCT least(src, dst), greatest(src, dst) "
                       "FROM edges WHERE src <> dst"):
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    alive = set(adj)
    low = {v for v in alive if len(adj[v]) < k}
    while low:
        alive -= low
        nxt = set()
        for v in low:
            nxt |= adj[v]
        low = {v for v in nxt & alive if len(adj[v] & alive) < k}
    return adj, alive


def check_kcore(con, rows, k=3):
    """k-core after a bounded number of peels: each kept node reports its
    degree inside the kept set, no node of the true k-core is peeled, and
    once every kept node has k neighbours kept, the kept set is the core."""
    adj, core = true_core(con, k)
    kept = {n for n, _ in rows}
    errs = []
    for node, deg in rows:
        inner = len(adj.get(node, set()) & kept)
        if inner != deg:
            errs.append(f"kcore: {node} reports degree {deg}, {inner} inside the core")
            break
    if core - kept:
        errs.append(f"kcore: {len(core - kept)} nodes of the {k}-core were peeled")
    if not errs and all(d >= k for _, d in rows) and kept != core:
        errs.append(f"kcore: converged set is not the {k}-core")
    return errs


def check_batch(data, out, cache_dir, ops):
    """Checks every run of every query: the warm-up's answer in
    answers/<query>/warmup and each timed op's in answers/<query>/r<round>
    (ops: the timed ops of measure.json)."""
    con = connect(data)
    with open(f"{out}/oracle_sql.json") as fh:
        oracle = json.load(fh)
    errs = []
    for name, sql in oracle.items():
        if sql is None:
            errs.append(f"{name}: has no oracle SQL")
            continue
        exp = oracle_rows(con, sql, data, cache_dir)
        runs = ["warmup"] + [f"r{o['round']}" for o in ops
                             if o["op"] == name and o["ok"]]
        for run in runs:
            d = f"{out}/answers/{name}/{run}"
            if not os.path.exists(f"{d}/_SUCCESS"):
                errs.append(f"{name}/{run}: no answer written")
                continue
            got = by_name(con.sql(f"SELECT * FROM read_parquet('{d}/*.parquet')"))
            bad = compare(f"{name}/{run}", got, exp)
            errs += bad
            if bad:
                continue
            if name.startswith("b14_"):
                errs += check_cc(con, columns(got, ["node", "component"]))
            if name.startswith("b24_"):
                errs += check_kcore(con, columns(got, ["node", "deg"]))
    return errs


def check_agent(data, out, op_lines):
    con = connect(data)
    answers = [json.loads(l) for l in open(f"{out}/answers.jsonl")]
    sem, wo = Semantic(con), WriteOracle(con)
    errs = []
    for a in answers:
        if a["kind"] == "read":
            errs += check_read(con, sem, a["op"], a["rows"])
    # one write session per timed round (and the warm-up's, round -1),
    # made of the steps of the op-list round it ran
    for r in sorted({a["round"] for a in answers}):
        mine = [a for a in answers if a["round"] == r and a["kind"] != "read"]
        op_rounds = {a["op_round"] for a in mine}
        got = {"updated": []}
        for a in mine:
            got.setdefault(a["kind"], []).append(a["rows"])
        if len(op_rounds) != 1 or \
                set(got) != {"node", "page", "stats", "invalid_visible", "updated"}:
            errs.append(f"round {r}: write session answers missing")
            continue
        o = op_rounds.pop()
        steps = [l[1:] for l in op_lines if l[0] == o and l[1] == "step"]
        errs += [f"round {r}: {e}" for e in wo.check_session(steps, got)]
    return errs


# --- self-test ---------------------------------------------------------

def self_test(data):
    """Every checker must accept a correct answer and reject a perturbed
    one. Correct answers come from the oracles themselves."""
    import ops as opsmod
    con = connect(data)
    fails = []

    def expect(name, errs, want_ok):
        if bool(errs) == want_ok:
            fails.append(f"{name}: {'rejected a correct' if want_ok else 'accepted a perturbed'} answer")

    sem = Semantic(con)
    agent = opsmod.agent_ops(data, 1)
    for line in agent[:len(opsmod.READ_MIX)]:
        f = [str(x) for x in line[1:]]
        if f[0] == "semanticSearch":
            nts, per, k = f[2].split(","), int(f[3]), int(f[4])
            qv = sem.emb(f[1])
            cands = []
            for nt in nts:
                cands += [(-round(s, 6), i, nt) for i, s in sem.sims(nt, qv).items()]
            cands.sort()
            good, seen = [], {}
            for s, i, nt in cands:
                if seen.get(nt, 0) < per:
                    seen[nt] = seen.get(nt, 0) + 1
                    good.append([nt, i, -s])
                if len(good) == k:
                    break
        else:
            good = [list(r) for r in expect_read(con, f)]
        expect(f"read {f[0]}", check_read(con, sem, f, good), True)
        if good:
            expect(f"read {f[0]} empty", check_read(con, sem, f, []), False)
        bad = [list(r) for r in good]
        if bad:
            j = 2 if f[0] == "semanticSearch" else -1
            v = bad[0][j]
            bad[0][j] = v + 0.01 if isinstance(v, (int, float)) else str(v) + "x"
        else:
            bad = [["x"] * 6]
        expect(f"read {f[0]} perturbed", check_read(con, sem, f, bad), False)
    # write session
    wo = WriteOracle(con)
    steps = [l[1:] for l in agent if l[0] == 0 and l[1] == "step"]
    steps = [[str(x) for x in s] for s in steps]
    valid = {i: (c, a, s) for i, c, a, s in wo.facts}
    good = {"node": [], "page": [], "invalid_visible": [[]], "updated": []}
    for f in steps:
        valid[f[2]] = (f[3], f[4], float(f[5]))
        if f[7] != "-":
            valid.pop(f[7], None)
        good["node"].append([[f[2], "fact", f[3], f[4], float(f[5])]])
        page = sorted(valid.items(), key=lambda kv: (-kv[1][2], kv[0]))[:10]
        good["page"].append([[p + 1, i, c, a, s, len(valid)]
                             for p, (i, (c, a, s)) in enumerate(page)])
        if f[8] != "-":
            good["updated"].append([["x", "decision", "c", f[9], 0.0]])
    st = dict(wo.stats)
    st["nodes_fact"] += len(steps)
    st["edges_fact_entity"] += len(steps)
    st["edges_invalidates"] += sum(1 for f in steps if f[7] != "-")
    good["stats"] = [[[k, v] for k, v in st.items()]]
    expect("write session", wo.check_session(steps, good), True)
    for kind, mutate in [
            ("page", lambda g: g["page"][-1].pop(0)),
            ("stats", lambda g: g["stats"][0][0].__setitem__(1, -1)),
            ("invalid_visible", lambda g: g.__setitem__("invalid_visible", [[["fact:1"]]])),
            ("updated", lambda g: g["updated"][0][0].__setitem__(3, "old"))]:
        g = json.loads(json.dumps(good))
        mutate(g)
        expect(f"write {kind} perturbed", wo.check_session(steps, g), False)
    # batch compare and graph properties
    cc = q(con, """SELECT node, min(node) OVER (PARTITION BY user_id, event_type)
        FROM (SELECT user_id, event_type, 'evt:' || event_id AS node,
                     count(*) OVER (PARTITION BY user_id, event_type) AS n
              FROM events) WHERE n >= 2""")
    cols = ["component", "node"]
    exp = (cols, [(c, n) for n, c in cc])
    expect("oracle compare", compare("x", exp, exp), True)
    expect("oracle compare perturbed",
           compare("x", (cols, exp[1][:-1] + [(exp[1][-1][0], "evt:x")]), exp), False)
    expect("cc property", check_cc(con, cc), True)
    j = next(k for k, (n, c) in enumerate(cc) if n != c)
    expect("cc property perturbed",
           check_cc(con, cc[:j] + [(cc[j][0], cc[j][0])] + cc[j + 1:]), False)
    adj, alive = true_core(con)
    core = [(v, len(adj[v] & alive)) for v in alive]
    expect("kcore property", check_kcore(con, core), True)
    expect("kcore property perturbed",
           check_kcore(con, core[1:]), False)
    return fails


if __name__ == "__main__":
    if sys.argv[1:2] != ["--self-test"]:
        sys.exit("usage: checks.py --self-test [data_dir]")
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import datagen
    tmp = None
    if len(sys.argv) > 2:
        d = sys.argv[2]
    else:
        import shutil
        import tempfile
        out = os.path.join(os.path.dirname(os.path.abspath(__file__)), "out")
        os.makedirs(out, exist_ok=True)
        d = tmp = tempfile.mkdtemp(prefix="selftest-", dir=out)
        datagen.write(d, 1, 0.01)
    fails = self_test(d)
    if tmp:
        shutil.rmtree(tmp)
    for f in fails:
        print("FAIL", f)
    print("self-test:", "ok" if not fails else f"{len(fails)} failures")
    sys.exit(1 if fails else 0)
