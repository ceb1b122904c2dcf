"""Output checks and the per-layer report of one run.

Every timed operation counts as attempted. It fails when it raised, when
its digest differs from the oracle's, or when an output it wrote does not
match the oracle. Files the curation passes write (the exported corpus,
the stream sink) are checked once, after the run: every pass runs the same
code on the same inputs, so a wrong file fails the operation in every
pass.
"""
import json
import os

import gen
from digest import of_rows
from oracle import connect

# per-layer metrics in report order, with units
PER_LAYER = [
    ("spark.analyze_ms", "ms"), ("spark.optimize_ms", "ms"), ("spark.plan_ms", "ms"),
    ("spark.codegen_ms", "ms"), ("spark.codegen_classes", "count"),
    ("spark.driver_ms", "ms"), ("spark.in_stage_share", "ratio"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.stage_ms", "ms"), ("spark.task_busy_ms", "ms"), ("spark.task_cpu_ms", "ms"),
    ("spark.gc_ms", "ms"), ("spark.task_wait_ms", "ms"), ("spark.core_util", "ratio"),
    ("spark.shuffle_write_mb", "MB"), ("spark.shuffle_read_mb", "MB"),
    ("spark.spill_mb", "MB"), ("spark.peak_exec_mem_mb", "MB"),
    ("sources.call_ms", "ms"), ("sources.rows_read", "count"), ("sources.bytes_read", "B"),
    ("sources.read_per_returned", "ratio"), ("sources.export_ms", "ms"),
    ("sources.bytes_written", "B"), ("sources.files_written", "count"),
    ("sources.stored_bytes_per_input_byte", "ratio"),
    ("catalog.call_ms", "ms"), ("ops.build_ms", "ms"), ("ops.standardize_ms", "ms"),
    ("ops.dates_ms", "ms"), ("ops.expand_ms", "ms"), ("ops.expand_fanout", "ratio"),
    ("functions.codegen_fallbacks", "count"),
    ("streaming.run_ms", "ms"), ("streaming.batches", "count"), ("streaming.plan_ms", "ms"),
    ("streaming.add_batch_ms", "ms"), ("streaming.commit_ms", "ms"),
    ("streaming.offset_ms", "ms"), ("streaming.state_rows", "count"),
    ("streaming.state_mb", "MB"),
    ("text.curation_ms", "ms"), ("text.keep_ratio", "ratio"), ("text.tokenize_ms", "ms"),
    ("text.bm25_ms", "ms"),
    ("dedup.minhash_ms", "ms"), ("dedup.candidate_pairs", "count"),
    ("dedup.confirmed_pairs", "count"), ("dedup.pair_yield", "ratio"),
    ("dedup.components_ms", "ms"), ("dedup.components_jobs", "count"),
    ("dedup.semantic_ms", "ms"),
    ("sim.ann_ms", "ms"), ("sim.ann_recall_at_10", "ratio"),
    ("analytics.pagerank_ms", "ms"), ("analytics.pagerank_jobs", "count"),
]

# IVF with nprobe=2 is approximate; below this recall its output is wrong
MIN_ANN_RECALL = 0.9


def _close(a, b, tol):
    return abs(a - b) <= tol


def check_bm25(rows, want):
    got = [(int(r.split("|")[0]), float(r.split("|")[1])) for r in rows]
    if len(got) != len(want):
        return False
    for i, ((gd, gs), (wd, ws)) in enumerate(zip(got, want)):
        if not _close(gs, ws, 2e-4):
            return False
        tied = any(_close(ws, w[1], 2e-4) for j, w in enumerate(want) if j != i)
        if gd != wd and not tied:
            return False
    return True


def check_topk(rows, want):
    got = {}
    for r in rows:
        q, n, c, k = r.split("|")
        got.setdefault(int(q), []).append((int(k), int(n), float(c)))
    if set(got) != {int(q) for q in want}:
        return False
    for q, ws in want.items():
        gs = [(n, c) for _, n, c in sorted(got[int(q)])]
        if len(gs) != len(ws):
            return False
        for (gn, gc), (wn, wc) in zip(gs, ws):
            if not _close(gc, wc, 2e-4):
                return False
            if gn != wn and not any(_close(wc, x[1], 2e-4) for x in ws if x[0] == gn):
                return False
    return True


def check_pagerank(rows, want):
    if len(rows) != len(want):
        return False
    for r in rows:
        node, deg, pr = r.split("|")
        w = want.get(str(int(node))) or want.get(int(node))
        if w is None or int(deg) != w[0] or not _close(float(pr), w[1], 2e-9):
            return False
    return True


def _size(path):
    total = 0
    for base, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(base, n))
    return total


def check_export(data, expect, out):
    """Compare the exported curated corpus with the oracle's kept docs;
    returns ({op key: problem}, bytes stored)."""
    bad = {}
    con = connect(data)
    root = os.path.join(out, "curated")
    flat = [os.path.join(root, n) for n in os.listdir(root) if n.endswith(".parquet")]
    kept = ",".join(str(d) for d in expect["kept"]) or "NULL"
    want = f"SELECT doc_id, text, source FROM documents WHERE doc_id IN ({kept})"
    for key, src, cols in (
            ("llm:export", f"read_parquet('{flat[0]}/*.parquet')", "doc_id, text, source"),
            ("llm:export_part", f"read_parquet('{root}/by_source/*/*.parquet', "
                                "hive_partitioning = true)", "doc_id, text, source")):
        got = f"SELECT {cols} FROM {src}"
        d = con.execute(f"SELECT (SELECT count(*) FROM ({got} EXCEPT ALL {want})) + "
                        f"(SELECT count(*) FROM ({want} EXCEPT ALL {got}))").fetchone()[0]
        if d:
            bad[key] = f"{d} rows differ from the kept documents"
    stored = sum(_size(os.path.join(root, p)) for p in os.listdir(root)
                 if p != "stream_neardup")
    return bad, stored


def sink_digest(data, out):
    rows = connect(data).execute(f"SELECT keep_id, sig FROM read_parquet("
                                 f"'{out}/curated/stream_neardup/data/*.parquet')").fetchall()
    return of_rows(rows, False)


def check(workload, res, expect, data, out):
    ops = res["ops"]
    failures = []
    wrong_keys = {}
    derived = {}
    last = res["last_rows"]
    notes = res["notes"]
    if workload == "llm_curation":
        tol = {"llm:bm25": check_bm25(last.get("llm:bm25", []), expect["rows"]["llm:bm25"]),
               "llm:bruteforce": check_topk(last.get("llm:bruteforce", []),
                                            expect["rows"]["llm:bruteforce"]),
               "llm:pagerank": check_pagerank(last.get("llm:pagerank", []),
                                              expect["rows"]["llm:pagerank"])}
        wrong_keys.update({k: "rows differ from the oracle" for k, ok in tol.items() if not ok})
        if notes.get("sim.ann_recall_at_10", 0.0) < MIN_ANN_RECALL:
            wrong_keys["llm:ivf"] = f"recall@10 {notes.get('sim.ann_recall_at_10')} < {MIN_ANN_RECALL}"
        bad, stored = check_export(data, expect, out)
        wrong_keys.update(bad)
        got = sink_digest(data, out)
        if got != expect["stream_neardup"]:
            wrong_keys["llm:stream_neardup"] = (
                f"sink digest {got} != oracle {expect['stream_neardup']}")
        in_bytes = sum(t["bytes"] for t in gen.input_stats(data).values())
        derived["sources.stored_bytes_per_input_byte"] = stored / in_bytes
    if workload == "api_interactive":
        with open(os.path.join(data, "ops.json")) as f:
            rounds = json.load(f)["rounds"]
        pages = [o for o in ops if o["name"] == "ops.standardize"]
        asked = sum(rounds[int(o["key"].split(":")[1])][int(o["key"].split(":")[2])]["nrows"]
                    for o in pages)
        derived["ops.expand_fanout"] = sum(o["returned"] for o in pages) / asked if asked else 0.0
    # the digest every pass of a key must repeat (tolerance-checked and
    # path-returning ops must still be deterministic across passes)
    final = {}
    for o in ops:
        final[o["key"]] = o["digest"]
    for o in ops:
        k, dg = o["key"], o["digest"]
        why = None
        if dg.startswith("ERROR"):
            why = dg
        elif k in expect.get("digests", {}):
            if dg != expect["digests"][k]:
                why = f"digest {dg} != oracle {expect['digests'][k]}"
        elif dg != final[k]:
            why = f"digest {dg} differs between passes"
        if why is None and k in wrong_keys:
            why = wrong_keys[k]
        # MinHash is approximate: its exact twin is the confirm step, which
        # matches the oracle only if the candidates held every oracle pair
        if why is None and k == "llm:minhash" and \
                final.get("llm:confirm") != expect["digests"].get("llm:confirm"):
            why = "candidates missed an oracle pair"
        if why:
            failures.append({"pass": o["pass"], "op": o["name"], "key": k, "why": why[:300]})
    return {"attempted": len(ops), "failed": len(failures), "failures": failures,
            "derived": derived}


def per_layer(res, checked):
    """Every per-layer metric with its unit; idle layers read 0."""
    vals = dict(res["per_layer"], **checked["derived"])
    return {name: (float(vals.get(name, 0.0)), unit) for name, unit in PER_LAYER}

