"""Answer checks for every op of a run.

Exact results are compared with the program's own DuckDB oracle SQL
(`SparkEntry.oracleSql`, exported into the run record) by the method of
`tools/check.py`: columns sorted by name, values canonicalised to strings,
rows sorted, then compared. Approximate results are checked by recall:
MinHash pairs against the exact `q31_jaccard_pairs` oracle, IVF top-5
against brute force. An op whose answer is wrong counts as failed.
"""
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "orders", "lineitem", "events",
          "documents", "embeddings"]
MIN_RECALL = 0.9
TOP_K = 5


def _files(path):
    return sorted(os.path.join(path, f) for f in os.listdir(path)
                  if f.endswith(".parquet"))


def connect(data_dir):
    """DuckDB with every generated table as a view."""
    con = duckdb.connect()
    for t in TABLES:
        listed = ",".join(f"'{f}'" for f in _files(f"{data_dir}/{t}.parquet"))
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet([{listed}])")
    return con


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "NaN" if v != v else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def _canon_rows(rel):
    cols = [d[0] for d in rel.description]
    idx = [cols.index(c) for c in sorted(cols)]
    return sorted(cols), sorted(tuple(canon(r[i]) for i in idx) for r in rel.fetchall())


def compare(con, result, sql):
    """(ok, message) for one result ({"columns": [...], "rows": [[...]]})
    against its oracle SQL."""
    cols = result["columns"]
    idx = [cols.index(c) for c in sorted(cols)]
    got_cols = sorted(cols)
    got = sorted(tuple(canon(r[i]) for i in idx) for r in result["rows"])
    exp_cols, exp = _canon_rows(con.execute(sql))
    if got_cols != exp_cols:
        return False, f"columns {got_cols} != {exp_cols}"
    if got != exp:
        diff = next((i for i, (a, b) in enumerate(zip(got, exp)) if a != b),
                    min(len(got), len(exp)))
        return False, f"rows differ at {diff} ({len(got)} vs {len(exp)} rows)"
    return True, "match"


def exact_pairs(con, sql):
    return {(int(a), int(b)) for a, b in
            con.execute(f"SELECT id1, id2 FROM ({sql})").fetchall()}


def recall(exact, got):
    return len(exact & got) / len(exact) if exact else 1.0


def components_ok(pairs, comps):
    """Every node of the pair graph labelled with the smallest id of its
    connected component (union-find reference)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in list(parent)}
    return want == {int(a): int(c) for a, c in comps}


def load_vectors(path):
    t = pq.read_table(path, columns=["vec_id", "embedding"])
    flat = t.column("embedding").combine_chunks().flatten().to_numpy()
    return t.column("vec_id").to_numpy(), flat.reshape(t.num_rows, -1).astype(np.float64)


def brute_topk(ids, emb, qids, k=TOP_K):
    """Exact cosine top-k per query id, the query itself excluded."""
    unit = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    pos = {int(v): i for i, v in enumerate(ids)}
    out = set()
    for q in qids:
        sims = unit @ unit[pos[int(q)]]
        order = np.lexsort((ids, -sims))
        out.update((int(q), int(c)) for c in ids[order][ids[order] != q][:k])
    return out


def _pairs(xs):
    return {(int(a), int(b)) for a, b in xs}


def verify(workload, record, data_dir):
    """One boolean per timed op, plus notes on what was checked."""
    ops, warm = record["ops"], record["warmup"]
    oracle = record["oracle"]
    notes = {}
    con = connect(data_dir)

    def oracle_ok(q):
        ok, msg = compare(con, record["firsts"][q], oracle[q])
        notes[f"oracle.{q}"] = msg
        return ok

    def no_error(o):
        return o["kind"] != "error"

    if workload == "analytics":
        ref = {w["kind"]: w["result"]["digest"] for w in warm}
        good = {q: oracle_ok(q) for q in ref}
        return [no_error(o) and good[o["kind"]] and
                o["result"]["digest"] == ref[o["kind"]] for o in ops], notes

    if workload == "tuned_curation":
        # The warm-up round is the reference: its exact results are
        # checked against the oracle, its approximate ones by recall, and
        # every timed op of a kind must reproduce them.
        ref = {w["kind"]: w["result"] for w in warm}
        pairs = ref["nearDuplicates"]["pairs"]
        exact = exact_pairs(con, oracle["q31_jaccard_pairs"])
        notes["minhash_recall"] = recall(exact, _pairs(pairs))
        notes["minhash_precision"] = recall(_pairs(pairs), exact)
        notes["components"] = components_ok(
            pairs, ref["connectedComponents"]["components"])
        good = {
            "q30_exact_dedup": oracle_ok("q30_exact_dedup"),
            "nearDuplicates": notes["minhash_recall"] >= MIN_RECALL and
            notes["minhash_precision"] >= MIN_RECALL,
            "connectedComponents": notes["components"],
            "q_simhash": oracle_ok("q_simhash"),
            "AnnIvf.fit": True, "AnnIvf.search": True, "store_history": True}
        same = {"q30_exact_dedup": ["digest"], "nearDuplicates": ["digest"],
                "connectedComponents": ["pairs_digest", "components"],
                "q_simhash": ["digest"]}
        ids, emb = load_vectors(f"{data_dir}/embeddings.parquet")
        truth = brute_topk(ids, emb, ids[ids % 50 == 0])
        # Tuner: run ids strictly increase, recommendations are positive
        # and the store holds every run made so far, warm-up included.
        tuned = [w["result"]["run_id"] for w in warm if "run_id" in w["result"]]
        runs, prev = len(tuned), max(tuned)
        oks = []
        for o in ops:
            if not no_error(o):
                oks.append(False)
                continue
            kind, r = o["kind"], o["result"]
            ok = good[kind] and all(r[k] == ref[kind][k] for k in same.get(kind, []))
            if kind == "AnnIvf.search":
                rec = recall(truth, _pairs(r["hits"]))
                notes.setdefault("ivf_recall", []).append(rec)
                ok = ok and rec >= MIN_RECALL
            if "run_id" in r:
                ok = ok and r["run_id"] > prev and r["partitions"] > 0
                runs, prev = runs + 1, r["run_id"]
            if kind == "store_history":
                ok = ok and r["store_runs"] == runs
            oks.append(ok)
        return oks, notes

    raise ValueError(f"unknown workload {workload}")
