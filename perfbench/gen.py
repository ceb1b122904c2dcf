"""Seeded input generator for the graft benchmark.

`generate(workload, seed, root)` writes the program's inputs to
`root/<workload>-<seed>-<version>/` and the truth the checks need (never
read by the program) to the same path plus `.truth`; the version is a hash
of this file. The same seed gives byte-identical inputs; `fingerprint()`
hashes them, and `properties()` measures the stated properties each seed
must keep.

Stated properties (`STATED`; selfcheck.py checks them for a new seed):
  api_interactive  sf0.1-shaped tables: 150k orders, ~600k lineitems, 100k
                   events, 15k customers; 2 rounds of 16 calls, one of each
                   call kind;
                   20k messy incidents whose race/ethnicity/gender/age cells
                   come from the engine's fixture vocabularies with
                   JUNK_SHARE unmapped junk, with three incident-date and
                   four report-date formats, and MULTI_SHARE of
                   `involved officers` cells holding 2-4 ';'-separated ids.
  llm_curation     DOCS documents; NEAR_DUP_SHARE of them are perturbed
                   copies in planted clusters of 2-8 (cluster size does not
                   grow with DOCS); 64-d embeddings in 16 cells with the
                   same clusters; a preferential-attachment link graph.
"""
import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

INCIDENTS = 20_000
MULTI_SHARE = 0.30
JUNK_SHARE = 0.05
DOCS = 800
NEAR_DUP_SHARE = 0.30
EXACT_DUP_SHARE = 0.02

# Raw cell vocabularies, drawn from the engine's standardization fixtures.
RACE = ["WHITE", "White", "W", "CAUCASIAN", "WHTE", "B", "BLACK",
        "African American", "BLK", "AFR AM", "SOUTH ASIAN", "ME", "ARABIC",
        "A", "ASIAN", "ORIENTAL", "ASIAN/PACIFIC ISLANDER", "HAWAIIAN",
        "PACIFIC ISLANDER", "H", "HISPANIC", "LATINO", "I", "INDIAN",
        "AMERICAN INDIAN", "NATIVE AMERICAN", "MIXED", "BIRACIAL",
        "TWO OR MORE", "U", "UNKNOWN", "UNK", "O", "OTHER", "MISSING",
        "NOT SPECIFIED", "N/A", "", None, "BLACK/AFRICAN AMERICAN",
        "WHITE, NON-HISPANIC", "W - WHITE"]
ETH = [None, "", "MISSING", "NOT SPECIFIED", "N/A", "N", "NH",
       "NON HISPANIC", "NON-HISPANIC", "NOT HISPANIC", "H", "HISP",
       "HISPANIC", "LATINO", "HISPANIC OR LATINO", "U", "UNK", "UNKNOWN"]
GENDER = ["M", "MALE", "Male", "MAN", "F", "FEMALE", "female", "WOMAN",
          "OTHER", "TRANSGENDER", "NONBINARY", "U", "UNKNOWN", "MISSING",
          "", None]
AGE = ["25", "0", "117", "150", "17.4", "2.5", "3.5", "-3", "UNKNOWN", "",
       None, "44", "63.0"]
JUNK = ["ZEBRA", "XQZ", "N0T-A-VALUE", "###", "QWERTY"]
DEPARTMENTS = ["Patrol North", "Patrol South", "Traffic Unit", "Narcotics",
               "K9 Unit", "Gang Unit", "Airport Division", "Harbor Patrol"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _ts_us(dates):
    return pa.array(np.asarray(dates, dtype="datetime64[us]"), pa.timestamp("us"))


def _write(table, path, row_group_size):
    pq.write_table(table, path, row_group_size=row_group_size,
                   compression="snappy", use_dictionary=True)


def _write_parts(table, path, parts, row_group_size):
    """A table as a directory of `parts` parquet files, so a scan splits
    into several tasks however small the table is."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        _write(table.slice(i * step, step), f"{path}/part-{i:03d}.parquet", row_group_size)


def _pick(rng, vocab, n, junk_share=0.0):
    idx = rng.integers(0, len(vocab), n)
    vals = [vocab[i] for i in idx]
    if junk_share:
        junk = rng.random(n) < junk_share
        jx = rng.integers(0, len(JUNK), n)
        vals = [JUNK[j] if b else v for v, b, j in zip(vals, junk, jx)]
    return vals


# ---- messy incident table --------------------------------------------------

def incidents(seed, n, stream=2):
    """Incident rows with raw demographic cells, mixed date formats and
    multi-value officer cells; returns (table, truth)."""
    r = _rng(seed, stream)
    ids = np.arange(1, n + 1, dtype=np.int64) * 7 + r.integers(0, 7, n)
    day0 = np.datetime64("2019-01-01")
    days = r.integers(0, 5 * 365, n)
    dates = day0 + days.astype("timedelta64[D]")
    secs = r.integers(0, 86400, n)
    fmt = r.integers(0, 3, n)
    py_dates = dates.astype(dt.date)
    inc_date = [d.strftime("%m/%d/%Y") if f == 0 else
                d.strftime("%Y-%m-%d") if f == 1 else
                f"{d.month}/{d.day}/{d.year}" for d, f in zip(py_dates, fmt)]
    no_time = r.random(n) < 0.1
    occ = [None if z else f"{s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}"
           for s, z in zip(secs, no_time)]
    rep_days = days + r.integers(0, 30, n)
    rep = (day0 + rep_days.astype("timedelta64[D]")).astype(dt.date)
    rfmt = r.integers(0, 4, n)
    report = []
    for d, f in zip(rep, rfmt):
        if f == 0:
            report.append(str(int(dt.datetime(d.year, d.month, d.day,
                tzinfo=dt.timezone.utc).timestamp() * 1000) + 43_200_000))
        elif f == 1:
            report.append(d.strftime("%Y%m%d"))
        elif f == 2:
            report.append(d.strftime("%m/%d/%Y"))
        else:
            report.append(d.strftime("%Y-%m-%d") + " 12:00:00")
    nof = np.where(r.random(n) < MULTI_SHARE, r.integers(2, 5, n), 1)
    offs = r.integers(1000, 3000, int(nof.sum()))
    officers, k = [], 0
    for m in nof:
        officers.append(";".join(f"O{o}" for o in offs[k:k + m]))
        k += m
    table = pa.table({
        "incident_id": pa.array(ids, pa.int64()),
        "incident date": inc_date,
        "occurred time": occ,
        "subject race": _pick(r, RACE, n, JUNK_SHARE),
        "subject ethnicity": _pick(r, ETH, n, JUNK_SHARE),
        "officer gender": _pick(r, GENDER, n, JUNK_SHARE),
        "subject age": _pick(r, AGE + [str(a) for a in range(15, 80)], n),
        "department": _pick(r, DEPARTMENTS, n),
        "report date": report,
        "involved officers": officers,
    })
    truth = pa.table({"incident_id": pa.array(ids, pa.int64()),
                      "incident_date": pa.array(py_dates, pa.date32()),
                      "report_date": pa.array(rep, pa.date32()),
                      "n_officers": pa.array(nof, pa.int64())})
    return table, truth


# ---- api_interactive -----------------------------------------------------

def api_tables(seed, d, truth):
    r = _rng(seed, 1)
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
           f"{d}/region.parquet", 100)
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{k}" for k in range(25)],
                     "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32())}),
           f"{d}/nation.parquet", 100)
    nc = 15_000
    _write(pa.table({
        "c_custkey": pa.array(np.arange(1, nc + 1), pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in range(1, nc + 1)],
        "c_nationkey": pa.array(r.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999, 9999, nc), 2),
        "c_mktsegment": _pick(r, SEGMENTS, nc)}), f"{d}/customer.parquet", 8192)
    no = 150_000
    okey = np.arange(1, no + 1, dtype=np.int64) * 4 - r.integers(0, 4, no)
    odate = np.datetime64("1992-01-01") + r.integers(0, 2405, no).astype("timedelta64[D]")
    _write(pa.table({
        "o_orderkey": pa.array(okey, pa.int64()),
        "o_custkey": pa.array(r.integers(1, nc + 1, no) // 3 * 3 + 1, pa.int64()),
        "o_orderstatus": _pick(r, ["F", "O", "P"], no),
        "o_totalprice": np.round(r.uniform(900, 500_000, no), 2),
        "o_orderdate": _ts_us(odate),
        "o_orderpriority": _pick(r, PRIORITIES, no)}), f"{d}/orders.parquet", 32768)
    lines = r.integers(1, 8, no)
    nl = int(lines.sum())
    lok = np.repeat(okey, lines)
    lnum = np.concatenate([np.arange(1, m + 1) for m in lines]).astype(np.int32)
    ship = np.repeat(odate, lines) + r.integers(1, 122, nl).astype("timedelta64[D]")
    _write(pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(r.integers(1, 20_001, nl), pa.int64()),
        "l_suppkey": pa.array(r.integers(1, 1_001, nl), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": r.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900, 100_000, nl), 2),
        "l_discount": np.round(r.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": _pick(r, ["A", "N", "R"], nl),
        "l_linestatus": _pick(r, ["F", "O"], nl),
        "l_shipdate": _ts_us(ship)}), f"{d}/lineitem.parquet", 65536)
    ne = 100_000
    off = np.sort(r.integers(0, 30 * 86400 * 10**6, ne))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + off.astype("timedelta64[us]")
    _write(pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[ns]"), pa.timestamp("ns")),
        "user_id": pa.array(r.integers(0, 1000, ne), pa.int64()),
        "event_type": _pick(r, EVENT_TYPES, ne),
        "value": np.round(r.uniform(0, 50, ne), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, ne)]}),
        f"{d}/events.parquet", 32768)
    inc, tr = incidents(seed, INCIDENTS)
    _write(inc, f"{d}/incidents.parquet", 8192)
    _write(tr, f"{truth}/incident_truth.parquet", 65536)
    ops = api_ops(seed, inc.column("incident_id").to_numpy())
    with open(f"{d}/ops.json", "w") as f:
        json.dump({"segments": SEGMENTS, "rounds": ops}, f, indent=0)


def api_ops(seed, inc_ids, rounds=2):
    """A seeded call sequence: `rounds` rounds, each calling every kind
    once, in a seeded order with seeded arguments. No traffic log of the
    reference's users exists to weight the kinds, so the mix is uniform."""
    r = _rng(seed, 3)
    kinds = ["load_year", "load_years", "load_dates", "load_agency",
             "page", "page_after", "load_iter", "count", "get_years", "get_agencies",
             "catalog_query", "summary_by_state", "summary_by_type",
             "num_unique", "merge_related", "standardize_page"]
    return [_api_round(r, [kinds[i] for i in r.permutation(len(kinds))], inc_ids)
            for _ in range(rounds)]


def _api_round(r, seq, inc_ids):
    ops = []
    for k in seq:
        o = {"kind": k}
        y = int(r.integers(1992, 1999))
        day = int(r.integers(1, 28))
        if k == "load_year":
            o["year"] = y
        elif k == "load_years":
            y0 = int(r.integers(1992, 1998))
            o.update(y0=str(y0), y1=str(y0 + 1), priority=PRIORITIES[int(r.integers(0, 5))][:6])
        elif k == "load_dates":
            o.update(start=f"2024-01-{day:02d}", stop=f"2024-01-{min(day + 2, 30):02d}")
        elif k in ("load_agency", "load_iter"):
            o.update(start=f"2024-01-{day:02d}", end=f"2024-01-{day + 1:02d}")
            if k == "load_agency":
                o["agency"] = ["CLI", "iew", "ur", "ERR", "sign"][int(r.integers(0, 5))]
            else:
                o["chunk"] = 1000
        elif k == "page":
            o.update(offset=int(r.integers(0, 90_000)), nrows=100)
        elif k == "page_after":
            o.update(last=int(r.integers(0, 90_000)), nrows=100)
        elif k in ("count", "merge_related"):
            o.update(year=y, priority=["URG", "HIGH", "LOW", "MED"][int(r.integers(0, 4))])
        elif k == "get_agencies":
            o["partial"] = ["i", "c", "e", "ur"][int(r.integers(0, 4))]
        elif k == "catalog_query":
            o.update(state=f"NATION_{int(r.integers(0, 25))}",
                     table_type=SEGMENTS[int(r.integers(0, 5))])
        elif k == "num_unique":
            o["column"] = ["state", "source_id", "table_type", "year"][int(r.integers(0, 4))]
        elif k == "standardize_page":
            o.update(last=int(r.choice(inc_ids[:15_000])), nrows=500)
        ops.append(o)
    return ops


# ---- llm_curation --------------------------------------------------------

def vocabulary(r, n=4000):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        m = int(r.integers(3, 10))
        words.add("".join(r.choice(letters, m)))
    return STOPWORDS + sorted(words)


def llm_tables(seed, d, truth):
    r = _rng(seed, 20)
    vocab = vocabulary(r)
    nv = len(vocab)
    # Zipf-like word weights; stopwords lead
    w = 1.0 / np.arange(1, nv + 1) ** 0.9
    w /= w.sum()
    n_base = int(DOCS * (1 - NEAR_DUP_SHARE))
    texts, cluster = [], []
    words_of = []
    for i in range(n_base):
        nlines = int(r.integers(2, 12)) if r.random() < 0.1 else int(r.integers(6, 12))
        lines = []
        allw = []
        for _ in range(nlines):
            ln = r.choice(nv, int(r.integers(6, 13)), p=w)
            ws = [vocab[j] for j in ln]
            allw.append(ws)
            lines.append(" ".join(ws) + ("." if r.random() < 0.8 else ""))
        if r.random() < 0.02:
            lines.append("lorem ipsum dolor sit amet.")
        texts.append("\n".join(lines))
        words_of.append(allw)
        cluster.append(-1)
    # planted near-duplicate clusters: copies of a base doc with a few
    # words replaced (cluster size 2..8, independent of DOCS)
    n_copy = DOCS - n_base
    made = 0
    cid = 0
    while made < n_copy:
        size = min(int(r.integers(1, 8)), n_copy - made)
        base = int(r.integers(0, n_base))
        if cluster[base] >= 0:
            continue
        cluster[base] = cid
        for _ in range(size):
            lines = []
            for ws in words_of[base]:
                ws = list(ws)
                for j in range(len(ws)):
                    if r.random() < 0.02:
                        ws[j] = vocab[int(r.integers(0, nv))]
                lines.append(" ".join(ws) + ".")
            texts.append("\n".join(lines) if r.random() > EXACT_DUP_SHARE / NEAR_DUP_SHARE
                         else texts[base])
            cluster.append(cid)
            made += 1
        cid += 1
    n = len(texts)
    perm = r.permutation(n)
    ids = np.arange(n, dtype=np.int64)
    texts = [texts[i] for i in perm]
    cluster = np.array(cluster)[perm]
    _write_parts(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": ["en"] * n,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{d}/documents.parquet", 8, 500)
    # embeddings: 16 cells; cluster members are tiny perturbations of the
    # cluster's first vector
    cells = 16
    cent = r.normal(0, 1, (cells, 64))
    label = r.integers(0, cells, n)
    vec = cent[label] + r.normal(0, 1.2, (n, 64))
    first = {}
    for i in range(n):
        c = cluster[i]
        if c >= 0:
            if c in first:
                j = first[c]
                label[i] = label[j]
                vec[i] = vec[j] + r.normal(0, 0.03, 64)
            else:
                first[c] = i
    emb = pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32()))
    _write_parts(pa.table({"vec_id": pa.array(ids, pa.int64()), "embedding": emb,
                     "label": pa.array(label, pa.int32())}),
           f"{d}/embeddings.parquet", 8, 500)
    # link graph: each doc links to 4 targets, preferential by id rank
    src = np.repeat(ids, 4)
    dst = (n * r.random(len(src)) ** 2).astype(np.int64)
    keep = src != dst
    _write(pa.table({"src": pa.array(src[keep], pa.int64()),
                     "dst": pa.array(dst[keep], pa.int64())}),
           f"{d}/links.parquet", 16384)
    mid = vocab[40:400]
    params = {"bm25_terms": [mid[int(i)] for i in r.integers(0, len(mid), 3)],
              "min_df": 20, "semantic_threshold": 0.95, "query_every": 60,
              "pagerank_iters": 2}
    with open(f"{d}/params.json", "w") as f:
        json.dump(params, f)
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "cluster": pa.array(cluster, pa.int64())}),
                   f"{truth}/clusters.parquet")


GENERATORS = {"api_interactive": api_tables, "llm_curation": llm_tables}


def generate(workload, seed, root):
    """Write inputs once per (workload, seed, generator version); returns
    (input dir, truth dir)."""
    with open(__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:10]
    d = os.path.join(root, f"{workload}-{seed}-{version}")
    truth = d + ".truth"
    done = os.path.join(truth, "DONE")
    if not os.path.exists(done):
        os.makedirs(d, exist_ok=True)
        os.makedirs(truth, exist_ok=True)
        GENERATORS[workload](seed, d, truth)
        with open(done, "w") as f:
            f.write(fingerprint(d))
    return d, truth


def _files(d):
    for base, dirs, names in os.walk(d):
        dirs.sort()
        for n in sorted(names):
            yield os.path.join(base, n)


def fingerprint(d):
    """sha256 over every input file's relative path and bytes."""
    h = hashlib.sha256()
    for p in _files(d):
        h.update(os.path.relpath(p, d).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def input_stats(d):
    """Per-table rows and bytes of an input directory."""
    out = {}
    for name in sorted(os.listdir(d)):
        if name.endswith(".parquet"):
            p = os.path.join(d, name)
            files = list(_files(p)) if os.path.isdir(p) else [p]
            out[name[:-8]] = {"rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
                              "bytes": sum(os.path.getsize(f) for f in files)}
    return out


# stated properties: name -> (target, absolute tolerance)
STATED = {
    "api_interactive": {"orders": (150_000, 0), "events": (100_000, 0),
                        "lineitem_per_order": (4.0, 0.05), "calls": (32, 0),
                        "incidents": (INCIDENTS, 0), "multi_share": (MULTI_SHARE, 0.02),
                        "junk_share": (JUNK_SHARE, 0.01)},
    "llm_curation": {"documents": (DOCS, 0), "near_dup_share": (NEAR_DUP_SHARE, 0.01),
                     "max_cluster": (8, 0), "min_cluster": (2, 0)},
}


def properties(workload, d, truth):
    """Measured values of the stated properties of one generated input."""
    if workload == "api_interactive":
        orders = pq.read_table(f"{d}/orders.parquet").num_rows
        with open(f"{d}/ops.json") as f:
            calls = sum(len(r) for r in json.load(f)["rounds"])
        race = pq.read_table(f"{d}/incidents.parquet").column("subject race").to_pylist()
        n_off = pq.read_table(f"{truth}/incident_truth.parquet").column("n_officers").to_numpy()
        return {"orders": orders, "events": pq.read_table(f"{d}/events.parquet").num_rows,
                "lineitem_per_order": pq.read_table(f"{d}/lineitem.parquet").num_rows / orders,
                "calls": calls, "incidents": len(race),
                "multi_share": float((n_off > 1).mean()),
                "junk_share": sum(r in JUNK for r in race) / len(race)}
    cl = pq.read_table(f"{truth}/clusters.parquet").column("cluster").to_numpy()
    sizes = np.bincount(cl[cl >= 0])
    return {"documents": len(cl), "near_dup_share": float((sizes - 1).sum() / len(cl)),
            "max_cluster": int(sizes.max()), "min_cluster": int(sizes.min())}
