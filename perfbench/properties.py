"""Property checks for the headline queries that have no DuckDB oracle.

Each check recomputes what it needs from the input tables (through
DuckDB and numpy, never through the engine) and returns a list of
problems; an empty list passes. The floors are recorded in README.md.
"""
import numpy as np

K = 10
QUERY_ID = 0
# recall@10 against brute force; measured 1.0 (IVF) and 1.0 (HNSW) at sf0.1
RECALL_FLOOR = {"vec_knn_ivf": 0.8, "vec_knn_hnsw": 0.8}
# mean shingle Jaccard of the reported pairs; measured 0.97 at sf0.1 (min 0.89)
JACCARD_FLOOR = 0.6


def _embeddings(con):
    rows = con.execute("SELECT vec_id, embedding FROM embeddings ORDER BY vec_id").fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    m = np.array([np.asarray(r[1], dtype=np.float32).astype(np.float64) for r in rows])
    return ids, m


def _knn(name):
    def chk(con, got):
        probs = []
        ids, m = _embeddings(con)
        q = m[ids == QUERY_ID][0]
        cos = m @ q / np.sqrt((m * m).sum(axis=1) * (q @ q))
        by_id = dict(zip(ids.tolist(), cos.tolist()))
        if not 0 < len(got) <= K or (name != "vec_knn_lsh" and len(got) != K):
            probs.append(f"{len(got)} rows, expected {K}")
        for vid, score in got:
            if vid == QUERY_ID:
                probs.append("the query vector is in its own result")
            elif vid not in by_id:
                probs.append(f"unknown vec_id {vid}")
            elif abs(by_id[vid] - score) > 2e-6:
                probs.append(f"vec_id {vid}: score {score} != recomputed {by_id[vid]:.6f}")
        scores = [s for _, s in got]
        if scores != sorted(scores, reverse=True):
            probs.append("rows are not ordered by score")
        if len({v for v, _ in got}) != len(got):
            probs.append("duplicate vec_id")
        if name in RECALL_FLOOR:
            others = [(s, i) for i, s in by_id.items() if i != QUERY_ID]
            truth = {i for _, i in sorted(others, key=lambda x: (-x[0], x[1]))[:K]}
            recall = len(truth & {v for v, _ in got}) / K
            if recall < RECALL_FLOOR[name]:
                probs.append(f"recall@{K} {recall:.2f} below {RECALL_FLOOR[name]}")
        return probs
    return chk


def _shingles(text):
    tk = text.lower().split(" ")
    return {" ".join(tk[i:i + 3]) for i in range(max(len(tk) - 2, 1))}


def minhash_pairs(con, got):
    probs = []
    texts = dict(con.execute("SELECT doc_id, text FROM documents").fetchall())
    # the query plants first-word-dropped copies of docs < 50 at id + 100000
    for d in [d for d in texts if d < 50]:
        t = texts[d]
        texts[d + 100000] = t[t.find(" ") + 1:]
    pairs = {(a, b): s for a, b, s in got}
    if len(pairs) != len(got):
        probs.append("duplicate pair")
    for (a, b), s in pairs.items():
        if not a < b:
            probs.append(f"pair ({a}, {b}) is not ordered")
        if not 0.5 <= s <= 1.0:
            probs.append(f"pair ({a}, {b}): est_sim {s} outside [0.5, 1]")
    by_text = {}
    for d, t in texts.items():
        by_text.setdefault(t, []).append(d)
    for ds in by_text.values():
        ds.sort()
        for i, a in enumerate(ds):
            for b in ds[i + 1:]:
                if pairs.get((a, b)) != 1.0:
                    probs.append(f"identical texts {a}, {b} not reported with est_sim 1.0")
    jac = []
    for a, b in pairs:
        if a in texts and b in texts:
            x, y = _shingles(texts[a]), _shingles(texts[b])
            jac.append(len(x & y) / len(x | y))
    if not jac:
        probs.append("no pairs")
    elif sum(jac) / len(jac) < JACCARD_FLOOR:
        probs.append(f"mean Jaccard {sum(jac) / len(jac):.3f} below {JACCARD_FLOOR}")
    return probs


CHECKS = {"vec_knn_lsh": _knn("vec_knn_lsh"), "vec_knn_ivf": _knn("vec_knn_ivf"),
          "vec_knn_hnsw": _knn("vec_knn_hnsw"), "txt_minhash_lsh": minhash_pairs}
