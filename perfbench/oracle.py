"""Independent NumPy correctness oracle for filtered top-k answers.

The oracle works on the generated arrays only: exact squared-Euclidean
distances in float64, the filter as the bucket labels of
``operators.filters.NAMED_FILTERS``, and ties broken by id, the same order
the engine documents. It never calls into the engine.
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np

from filtered_ads_vector_search_spark.operators.filters import NAMED_FILTERS

DIST_RTOL = 1e-6


class Oracle:
    def __init__(self, ids: np.ndarray, vecs: np.ndarray, buckets: np.ndarray):
        self.ids = ids
        self.X = vecs.astype(np.float64)
        self.norms = (self.X ** 2).sum(1)
        self.buckets = buckets
        self.row = {int(i): r for r, i in enumerate(ids)}
        self._keep = {f: np.isin(buckets, labels) for f, labels in NAMED_FILTERS.items()}

    def topk(self, Q: np.ndarray, filter_name: str, k: int = 10):
        """(ids, dists) of shape (len(Q), min(k, kept)): exact filtered
        top-k, rows ordered by (distance, id)."""
        keep = self._keep[filter_name]
        Xf, idf, nf = self.X[keep], self.ids[keep], self.norms[keep]
        Q = Q.astype(np.float64)
        D = (Q ** 2).sum(1)[:, None] - 2.0 * Q @ Xf.T + nf[None, :]
        kk = min(k, len(idf))
        # widen the partition so every id tied with the k-th distance is in
        # the candidate set before the exact (dist, id) sort
        part = np.argpartition(D, min(kk + 8, D.shape[1] - 1), axis=1)[:, : kk + 8]
        out_ids = np.empty((len(Q), kk), dtype=np.int64)
        out_d = np.empty((len(Q), kk))
        for i in range(len(Q)):
            cand = part[i]
            d = self.exact_distances(Q[i], idf[cand])
            order = np.lexsort((idf[cand], d))[:kk]
            out_ids[i] = idf[cand][order]
            out_d[i] = d[order]
        return out_ids, out_d

    def exact_distances(self, q: np.ndarray, ids: np.ndarray) -> np.ndarray:
        rows = np.array([self.row[int(i)] for i in ids], dtype=np.int64)
        diff = self.X[rows] - q[None, :]
        return (diff * diff).sum(1)


class CheckResult:
    def __init__(self):
        self.ok = True
        self.reasons: list[str] = []
        self.recall_sum = 0.0
        self.n_queries = 0

    def fail(self, reason: str) -> None:
        self.ok = False
        if len(self.reasons) < 3:
            self.reasons.append(reason)

    @property
    def recall(self) -> float:
        return self.recall_sum / self.n_queries if self.n_queries else 0.0


def check_answer(oracle: Oracle, rows, query_ids, qvecs: dict, expected: dict,
                 filter_name: str, exact: bool, recall_floor: float) -> CheckResult:
    """Validate one answer (rows of query_id, neighbor_id, rank, dist).

    Every query gets min(k, kept) neighbours, ranked 1..k, distinct, passing
    the filter, with reported distances equal to the true ones. The exact
    tier must return the oracle's ids (a differing id is accepted only when
    its true distance ties the oracle's at that rank). The ANN tier's mean
    recall@k against the oracle must clear ``recall_floor``."""
    res = CheckResult()
    got = defaultdict(list)
    for r in rows:
        got[int(r["query_id"])].append((int(r["rank"]), int(r["neighbor_id"]), float(r["dist"])))
    if set(got) - set(query_ids):
        res.fail("answer holds query ids that were not asked")
    keep = set(NAMED_FILTERS[filter_name])
    for qid in query_ids:
        o_ids, o_d = expected[qid]
        hits = sorted(got.get(qid, []))
        res.n_queries += 1
        if [h[0] for h in hits] != list(range(1, len(o_ids) + 1)):
            res.fail(f"query {qid}: ranks {[h[0] for h in hits]}")
            continue
        ids = np.array([h[1] for h in hits], dtype=np.int64)
        dists = np.array([h[2] for h in hits])
        if len(set(ids.tolist())) != len(ids) or any(i not in oracle.row for i in ids.tolist()):
            res.fail(f"query {qid}: duplicate or unknown neighbour ids")
            continue
        if any(oracle.buckets[oracle.row[int(i)]] not in keep for i in ids):
            res.fail(f"query {qid}: neighbour outside filter {filter_name}")
            continue
        true = oracle.exact_distances(qvecs[qid], ids)
        tol = DIST_RTOL * np.maximum(1.0, np.abs(true))
        if np.any(np.abs(dists - true) > tol) or np.any(np.diff(dists) < -tol[1:]):
            res.fail(f"query {qid}: reported distances differ from true distances")
            continue
        if exact:
            wrong = (ids != o_ids) & (np.abs(true - o_d) > tol)
            if wrong.any():
                res.fail(f"query {qid}: exact tier differs from oracle")
                continue
        res.recall_sum += len(set(ids.tolist()) & set(o_ids.tolist())) / len(o_ids)
    if not exact and res.recall < recall_floor:
        res.fail(f"recall {res.recall:.3f} below floor {recall_floor}")
    return res
