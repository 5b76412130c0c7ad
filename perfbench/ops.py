"""Seeded op lists for each workload, written as `ops.tsv`.

Each line is `round<TAB>op<TAB>args...`. Every round of a workload has
the same make-up (the same ops in the same number), only the parameters
change with the round and the seed. Round 0 is the warm-up round and is
never timed; the timed phase cycles through rounds 1..ROUNDS, so no timed
call repeats a warm-up call.
"""
import numpy as np
import pyarrow.parquet as pq

# analytics: graph loops over the persisted graph, then corpus operators
ANALYTICS_QUERIES = [
    "b14_connected_components", "b24_kcore", "c2_dedup_ngram_jaccard",
    "c36_bm25_retrieval"]

# agent: the read calls of one round, in order. Each entry fixes the call
# and the kind of parameter (node type, edge type, sort, page, hit or
# miss), so every round has the same make-up; the seed draws the values.
READ_MIX = [
    ("node", "fact"), ("node", "decision"), ("node", "miss"),
    ("findByName", "customer"), ("findByName", "part"), ("findByName", "miss"),
    ("findFactByContent", "hit"), ("list", "fact"), ("list", "event_valid"),
    ("exactSearch", "hit"), ("semanticSearch", "fact,entity"),
    ("semanticSearch", "fact,decision,event"), ("outNeighbors", "decision"),
    ("outNeighbors", "event"), ("inNeighbors", "part"), ("walk", "chain"),
    ("recentContext", ""), ("stats", "")]
WRITE_STEPS = 4      # agent: write steps per session (one per round)
ROUNDS = 32          # timed rounds generated; a run cycles through them


def _col(data, table, name):
    return pq.read_table(f"{data}/{table}.parquet", columns=[name]) \
        .column(0).to_numpy(zero_copy_only=False)


class Picker:
    def __init__(self, data, rng):
        self.rng = rng
        self.doc = _col(data, "documents", "doc_id")
        self.text = _col(data, "documents", "text")
        self.ord = _col(data, "orders", "o_orderkey")
        self.cust = _col(data, "customer", "c_custkey")
        self.cname = _col(data, "customer", "c_name")
        self.sname = _col(data, "supplier", "s_name")
        self.pname = _col(data, "part", "p_name")
        self.part = _col(data, "part", "p_partkey")
        self.ev = _col(data, "events", "event_id")
        user = _col(data, "events", "user_id")
        etype = _col(data, "events", "event_type")
        # the newest event of each (user, type): the head of a chain
        last = {}
        for i, u, t in zip(self.ev, user, etype):
            last[(u, t)] = (i, t)
        self.heads = sorted(last.values())

    def pick(self, a):
        return a[int(self.rng.integers(0, len(a)))]

    def words(self, n):
        words = self.pick(self.text).split(" ")
        i = int(self.rng.integers(0, max(1, len(words) - n)))
        return " ".join(words[i:i + n])

    def read_op(self, name, kind):
        p = self.pick
        if name == "node":
            return ["node", {"fact": f"fact:{p(self.doc)}",
                             "decision": f"dec:{p(self.ord)}",
                             "miss": f"evt:-{p(self.ev) + 1}"}[kind]]
        if name == "findByName":
            nm = {"customer": p(self.cname).upper(), "part": p(self.pname),
                  "miss": f"Supplier#{p(self.ord) + 10**8}"}[kind]
            return ["findByName", "entity", nm]
        if name == "findFactByContent":
            return ["findFactByContent", self.words(3)]
        if name == "list":
            if kind == "fact":
                return ["list", "fact", p(["en", "de", "fr"]), "score_desc", "10",
                        "0", "0"]
            return ["list", "event", "-", "id", "10", "10", "1"]
        if name == "exactSearch":
            return ["exactSearch", self.words(2), "fact,entity", "5"]
        if name == "semanticSearch":
            return ["semanticSearch", self.words(4), kind, "3", "5"]
        if name == "outNeighbors":
            if kind == "decision":
                return ["outNeighbors", f"dec:{p(self.ord)}", "decision_entity"]
            return ["outNeighbors", f"evt:{p(self.ev)}", "event_decision"]
        if name == "inNeighbors":
            return ["inNeighbors", f"ent:p:{p(self.part)}", "decision_entity"]
        if name == "walk":
            ev, et = p(self.heads)
            return ["walk", f"evt:{ev}", str(et), "200"]
        return [name]


def write_steps(p, r, n):
    """One write session: fact ids are fresh (above every document id);
    every third step supersedes the previous step's fact, every fourth
    updates a decision's status."""
    base = int(p.doc.max()) + 1000
    out = []
    for s in range(n):
        new = f"fact:{base + s}"
        inval = f"fact:{base + s - 1}" if s % 3 == 2 else "-"
        upd, upd_attr = (f"dec:{p.pick(p.ord)}", f"S{r}.{s}") if s % 4 == 3 \
            else ("-", "-")
        out.append([r, "step", str(s), new, p.words(6),
                    p.pick(["en", "de", "fr"]), f"{100000.0 + s}",
                    f"ent:c:{p.pick(p.cust)}", inval, upd, upd_attr])
    return out


def agent_ops(data, seed, steps=WRITE_STEPS):
    p = Picker(data, np.random.default_rng(seed))
    out = []
    for r in range(ROUNDS + 1):
        out += [[r] + p.read_op(name, kind) for name, kind in READ_MIX]
        out += write_steps(p, r, steps)
    return out


def batch_ops(names):
    return [[r, q] for r in range(ROUNDS + 1) for q in names]


def make(workload, data, seed, steps=WRITE_STEPS):
    if workload == "agent":
        return agent_ops(data, seed, steps)
    return batch_ops(ANALYTICS_QUERIES)


def write(path, rows):
    with open(path, "w") as f:
        for row in rows:
            f.write("\t".join(str(x) for x in row) + "\n")
