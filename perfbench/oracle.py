"""Expected results, computed once per (workload, seed) outside timing.

Exact operators are checked against DuckDB SQL or a numpy twin. The
engine's own SQL twins (its standardization lookup tables and the
SparkEntry oracles of curation, the streaming near-dup gate and the age
parse), dumped at build time to `sql_twins.json`, are reused here on the
benchmark's inputs; the rest are written here. Approximate operators are checked against their exact twin:
MinHash candidates must contain every planted pair whose exact 5-gram
Jaccard is >= 0.8, and IVF top-10 is scored against brute force.
"""
import hashlib
import json
import os
import re

import duckdb
import numpy as np
import pyarrow.parquet as pq

from digest import of_rows, of_texts


# where DuckDB may spill; run.py points it into the build directory
TEMP_DIR = None


def connect(data):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    if TEMP_DIR:
        con.execute(f"SET temp_directory = '{TEMP_DIR}'")
    for name in sorted(os.listdir(data)):
        if name.endswith(".parquet"):
            p = os.path.join(data, name)
            src = f"{p}/*.parquet" if os.path.isdir(p) else p
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{src}')")
    return con


def _twins(classes):
    with open(os.path.join(classes, "sql_twins.json")) as f:
        return json.load(f)


def std_sql(lut, table, cols):
    """SELECT id + standardized columns; `cols` maps output -> (lut, raw col)."""
    ctes = [f'c{i} AS (SELECT incident_id, {lut[k]} AS v FROM '
            f'(SELECT incident_id, "{raw}" AS raw FROM {table}))'
            for i, (k, raw) in enumerate(cols.values())]
    sel = ", ".join(f"c{i}.v AS {name}" for i, name in enumerate(cols))
    joins = " ".join(f"JOIN c{i} USING (incident_id)" for i in range(1, len(cols)))
    return f"WITH {', '.join(ctes)} SELECT c0.incident_id, {sel} FROM c0 {joins}"


# ---- api_interactive -------------------------------------------------------

CATALOG = """CREATE VIEW cat AS
SELECT n_name AS state, r_name AS region, c_custkey AS source_id,
       c_name AS source_name, c_mktsegment AS table_type, year
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
JOIN (SELECT DISTINCT o_custkey, CAST(year(o_orderdate) AS BIGINT) AS year
      FROM orders) cov ON o_custkey = c_custkey"""


def _q(s):
    return "'" + str(s).replace("'", "''") + "'"


def api_op(con, twins, o, segments):
    """(sql, ordered, scalar) for one call."""
    k = o["kind"]

    def years(y0, y1):
        return (f"o_orderdate >= TIMESTAMP '{int(y0):04d}-01-01' AND "
                f"o_orderdate < TIMESTAMP '{int(y1) + 1:04d}-01-01'")

    def has(col, sub):
        return f"contains(lower({col}), lower({_q(sub)}))"

    if k == "load_year":
        return (f"SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
                f"WHERE {years(o['year'], o['year'])}", False, False)
    if k == "load_years":
        return (f"SELECT o_orderkey, o_orderpriority FROM orders WHERE "
                f"{years(o['y0'], o['y1'])} AND {has('o_orderpriority', o['priority'])}",
                False, False)
    if k == "load_dates":
        return (f"SELECT event_id, user_id, event_type, value FROM events WHERE "
                f"ts >= TIMESTAMP {_q(o['start'])} AND "
                f"ts < TIMESTAMP {_q(o['stop'])} + INTERVAL 1 DAY", False, False)
    if k == "load_agency":
        return (f"SELECT event_id, event_type, value FROM events WHERE "
                f"ts >= TIMESTAMP {_q(o['start'])} AND ts < TIMESTAMP {_q(o['end'])} "
                f"AND {has('event_type', o['agency'])}", False, False)
    if k == "page":
        return (f"SELECT event_id, event_type, value FROM events ORDER BY event_id "
                f"LIMIT {o['nrows']} OFFSET {o['offset']}", True, False)
    if k == "page_after":
        return (f"SELECT event_id, user_id FROM events WHERE event_id > {o['last']} "
                f"ORDER BY event_id LIMIT {o['nrows']}", True, False)
    if k == "load_iter":
        return (f"SELECT event_id, value FROM events WHERE ts >= TIMESTAMP {_q(o['start'])} "
                f"AND ts < TIMESTAMP {_q(o['end'])} ORDER BY event_id", True, False)
    if k == "count":
        return (f"SELECT count(*) FROM orders WHERE {years(o['year'], o['year'])} "
                f"AND {has('o_orderpriority', o['priority'])}", True, True)
    if k == "get_years":
        return ("SELECT DISTINCT CAST(year(o_orderdate) AS BIGINT) AS yr FROM orders "
                "ORDER BY yr", True, False)
    if k == "get_agencies":
        return (f"SELECT DISTINCT event_type AS agency FROM events WHERE "
                f"{has('event_type', o['partial'])} ORDER BY agency", True, False)
    if k == "catalog_query":
        return (f"SELECT DISTINCT state, source_id, source_name, table_type FROM cat "
                f"WHERE state = {_q(o['state'])} AND table_type = {_q(o['table_type'])}",
                False, False)
    if k == "summary_by_state":
        cols = ", ".join(f"count(DISTINCT CASE WHEN table_type = {_q(s)} THEN source_id END)"
                         for s in segments)
        return f"SELECT state, {cols} FROM cat GROUP BY state", False, False
    if k == "summary_by_type":
        return ("SELECT table_type, year, count(DISTINCT source_id) FROM cat "
                "GROUP BY table_type, year", False, False)
    if k == "num_unique":
        return f"SELECT count(DISTINCT {o['column']}) FROM cat", True, True
    if k == "merge_related":
        return (f"SELECT o_orderkey AS order_id, o_custkey, l_linenumber, l_quantity "
                f"FROM orders JOIN lineitem ON l_orderkey = o_orderkey WHERE "
                f"{years(o['year'], o['year'])} AND {has('o_orderpriority', o['priority'])}",
                False, False)
    if k == "standardize_page":
        con.execute(f"CREATE OR REPLACE TEMP TABLE pg AS SELECT * FROM incidents "
                    f"WHERE incident_id > {o['last']} ORDER BY incident_id LIMIT {o['nrows']}")
        return incident_rows(twins, "pg"), False, False
    raise ValueError(k)


def api_expect(data, truth, twins):
    con = connect(data)
    con.execute(CATALOG)
    con.execute(f"CREATE VIEW truth AS SELECT * FROM "
                f"read_parquet('{truth}/incident_truth.parquet')")
    with open(os.path.join(data, "ops.json")) as f:
        spec = json.load(f)
    out = {}
    for r, ops in enumerate(spec["rounds"]):
        for i, o in enumerate(ops):
            sql, ordered, scalar = api_op(con, twins, o, spec["segments"])
            rows = con.execute(sql).fetchall()
            out[f"api:{r}:{i}"] = (of_texts([str(rows[0][0])], True) if scalar
                                   else of_rows(rows, ordered))
    return {"digests": out}


def age_sql(twins):
    """The scalar age parse of the engine's standardize twin, on `raw`."""
    sql = twins["q_standardize_e2e"]
    end = sql.index(" AS age_subject")
    return sql[sql.rindex("CASE WHEN trim(agex)", 0, end):end].replace("agex", "raw")


def incident_rows(twins, table):
    """One row per incident and involved officer, standardized: the rows
    the standardize -> parse-dates -> expand chain must return."""
    std = std_sql(dict(twins, age=age_sql(twins)), table,
                  {"race": ("race", "subject race"), "eth": ("eth", "subject ethnicity"),
                   "gender": ("gender", "officer gender"), "age": ("age", "subject age")})
    return f"""WITH s AS ({std}),
      x AS (SELECT incident_id,
              unnest(generate_series(0, len(string_split("involved officers", ';')) - 1)) AS pos,
              string_split("involved officers", ';') AS offs
            FROM {table})
      SELECT x.incident_id, CAST(x.pos AS INTEGER), x.offs[x.pos + 1],
             strftime(t.incident_date, '%Y-%m-%d'), s.race, s.eth, s.gender, s.age,
             t.report_date
      FROM x JOIN s USING (incident_id) JOIN truth t USING (incident_id)"""


# ---- llm_curation ----------------------------------------------------------

def curation_sql(twins):
    """The engine's curation twin on the plain corpus: its injected-line
    CTEs give way to the documents as they are."""
    sql = twins["q_curation_e2e"]
    return ("WITH inj AS (SELECT doc_id, text AS t FROM documents),\n"
            + sql[re.search(r"^fp AS \(", sql, re.M).start():])


def _grams(text, k=5):
    t = " ".join(text.split()).lower()
    return {t[i:i + k] for i in range(max(len(t) - k + 1, 1))}


def _round4(x):
    return np.floor(np.asarray(x) * 1e4 + 0.5) / 1e4


def llm_expect(data, truth, twins):
    con = connect(data)
    with open(os.path.join(data, "params.json")) as f:
        params = json.load(f)
    e = {"digests": {}, "rows": {}}
    verdicts = con.execute(curation_sql(twins)).fetchall()
    e["digests"]["llm:curation"] = of_rows(verdicts, False)
    e["kept"] = sorted(d for d, keep, _ in verdicts if keep)
    # survivors of the streaming near-dup gate: one per signature, the
    # lowest id (event time follows the id)
    e["stream_neardup"] = of_rows(con.execute(twins["q_stream_neardup"]).fetchall(), False)

    docs = con.execute("SELECT doc_id, text FROM documents ORDER BY doc_id").fetchall()
    text = dict(docs)
    clusters = pq.read_table(os.path.join(truth, "clusters.parquet")).to_pydict()
    members = {}
    for d, c in zip(clusters["doc_id"], clusters["cluster"]):
        if c >= 0:
            members.setdefault(c, []).append(d)
    pairs = []
    for ms in members.values():
        ms.sort()
        g = {d: _grams(text[d]) for d in ms}
        for i, a in enumerate(ms):
            for b in ms[i + 1:]:
                inter = len(g[a] & g[b])
                if inter / (len(g[a]) + len(g[b]) - inter) >= 0.8:
                    pairs.append((a, b))
    e["digests"]["llm:confirm"] = of_rows(pairs, False)
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    e["digests"]["llm:components"] = of_rows([(x, find(x)) for x in list(parent)], False)

    toks = {d: (t or "").lower().split(" ") for d, t in docs}
    df = {}
    for ts in toks.values():
        for w in set(ts):
            if w:
                df[w] = df.get(w, 0) + 1
    vocab = {w for w, c in df.items() if c >= params["min_df"]}
    e["digests"]["llm:tokenize"] = of_rows(
        [(d, len(ts), sum(1 for w in ts if w not in vocab)) for d, ts in toks.items()], False)

    terms = sorted({t.lower() for t in params["bm25_terms"]})
    n_docs = len(toks)
    avg_dl = sum(len(ts) for ts in toks.values()) / n_docs
    k1, b = 1.2, 0.75
    scores = []
    for d, ts in toks.items():
        s, hit = 0.0, False
        for t in terms:
            tf = ts.count(t)
            if tf:
                hit = True
                idf = np.log(1.0 + (n_docs - df[t] + 0.5) / (df[t] + 0.5))
                s += idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * len(ts) / avg_dl))
        if hit:
            scores.append((d, float(_round4(s))))
    scores.sort(key=lambda x: (-x[1], x[0]))
    e["rows"]["llm:bm25"] = scores[:10]

    embs = con.execute("SELECT vec_id, embedding, label FROM embeddings ORDER BY vec_id").fetchall()
    ids = np.array([x[0] for x in embs])
    vec = np.array([x[1] for x in embs], dtype=np.float64)
    lab = np.array([x[2] for x in embs])
    unit = vec / np.linalg.norm(vec, axis=1, keepdims=True)
    removed = set()
    for c in np.unique(lab):
        idx = np.flatnonzero(lab == c)
        cos = _round4(unit[idx] @ unit[idx].T)
        for i, j in zip(*np.nonzero(np.triu(cos >= params["semantic_threshold"], 1))):
            removed.add(int(max(ids[idx[i]], ids[idx[j]])))
    e["digests"]["llm:semantic"] = of_rows([(int(i),) for i in ids if int(i) not in removed], False)

    q = np.flatnonzero(ids % params["query_every"] == 0)
    cos = _round4(unit[q] @ unit.T)
    top = {}
    for qi, row in zip(q, cos):
        order = np.lexsort((ids, -row))[:10]
        top[int(ids[qi])] = [(int(ids[j]), float(row[j])) for j in order]
    e["rows"]["llm:bruteforce"] = top

    links = con.execute("SELECT src, dst FROM links").fetchall()
    e["rows"]["llm:pagerank"] = pagerank(links, params["pagerank_iters"])
    return e


def pagerank(edges, iterations, damping=0.85, digits=9):
    """numpy twin of Graph.pageRank: undirected distinct edges, degree =
    neighbours, rounds rounded to `digits`."""
    sym = {(a, b) for a, b in edges} | {(b, a) for a, b in edges}
    nodes = sorted({a for a, _ in sym})
    pos = {v: i for i, v in enumerate(nodes)}
    deg = np.zeros(len(nodes))
    for a, _ in sym:
        deg[pos[a]] += 1
    n = float(len(nodes))
    f = 10.0 ** digits
    pr = np.full(len(nodes), np.floor((1.0 / n) * f + 0.5) / f)
    src = np.array([pos[a] for a, _ in sym])
    dst = np.array([pos[b] for _, b in sym])
    for _ in range(iterations):
        s = np.bincount(dst, weights=pr[src] / deg[src], minlength=len(nodes))
        pr = np.floor((s * damping + (1.0 - damping) / n) * f + 0.5) / f
    return {int(v): (int(deg[i]), float(pr[i])) for i, v in enumerate(nodes)}


def version(twins):
    """What the expected results depend on besides the inputs: the
    engine's SQL twins and the code that turns them into digests."""
    h = hashlib.sha256(json.dumps(twins, sort_keys=True).encode())
    here = os.path.dirname(os.path.abspath(__file__))
    for name in ("oracle.py", "digest.py"):
        with open(os.path.join(here, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compute(workload, data, truth, classes):
    """Expected results, cached in the truth directory per `version`."""
    twins = _twins(classes)
    v = version(twins)
    path = os.path.join(truth, f"oracle-{workload}.json")
    if os.path.exists(path):
        with open(path) as f:
            cached = json.load(f)
        if cached.get("version") == v:
            return cached
    if workload == "api_interactive":
        e = api_expect(data, truth, twins)
    else:
        e = llm_expect(data, truth, twins)
    e["version"] = v
    with open(path, "w") as f:
        json.dump(e, f)
    return e
