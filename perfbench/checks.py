"""Output checks for the four workloads.

Each check takes one operation's result, as plain Python values, and the
generator's expected answers, and returns ``None`` when the result is
correct or a one-line reason when it is not.  They import no Spark, so
``test_perfbench.py`` can feed them corrupted results directly.
"""

from __future__ import annotations

import math
from typing import Optional

import numpy as np

TIE_TOL = 1e-9
SCORE_TOL = 1e-9


def _cos(a: np.ndarray, b: np.ndarray) -> float:
    a = a.astype(np.float64)
    b = b.astype(np.float64)
    return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))


def _doc_index(doc_id: str) -> int:
    return int(doc_id[1:])


def check_search(got: dict, expect: dict) -> Optional[str]:
    """``got`` maps query id -> [(doc id, score), ...] in rank order.

    Ids must equal the brute-force top-k in order; at a rank where they
    differ, the returned id must pass the query's filter and score within
    ``TIE_TOL`` of the expected score there (a tie).  Every reported score
    must equal the numpy cosine of its pair.
    """
    exp_ids, exp_scores = expect["exp_ids"], expect["exp_scores"]
    vecs, qvecs, mask = expect["vectors"], expect["qvectors"], expect["mask"]
    if sorted(got) != list(range(len(exp_ids))):
        return f"query ids {sorted(got)[:5]}... != 0..{len(exp_ids) - 1}"
    for q, rows in got.items():
        want = [i for i in exp_ids[q] if i >= 0]
        if len(rows) != len(want):
            return f"query {q}: {len(rows)} results, expected {len(want)}"
        ids = [_doc_index(d) for d, _ in rows]
        if len(set(ids)) != len(ids):
            return f"query {q}: duplicate ids {ids}"
        for r, (i, (_, score)) in enumerate(zip(ids, rows)):
            if not (0 <= i < len(vecs)) or not mask[q, i]:
                return f"query {q} rank {r}: id {i} fails the filter"
            true = _cos(vecs[i], qvecs[q])
            if abs(true - score) > SCORE_TOL:
                return f"query {q} rank {r}: score {score} != numpy {true}"
            if i != want[r] and abs(true - exp_scores[q, r]) > TIE_TOL:
                return f"query {q} rank {r}: id {i}, expected {want[r]}"
    return None


def check_publish(got: dict, expect: dict) -> Optional[str]:
    """Count, content hash and queries count equal the source's; the
    saved ``metadata.json`` fields round-trip; the catalog lists exactly
    the pre-populated names plus the published one."""
    for key in ("count", "hash", "queries"):
        if got[key] != expect[key]:
            return f"{key} {got[key]} != source {expect[key]}"
    for key, value in expect["metadata"].items():
        if got["metadata"].get(key) != value:
            return f"metadata {key} {got['metadata'].get(key)!r} != {value!r}"
    if sorted(got["names"]) != sorted(expect["names"]):
        extra = set(got["names"]) ^ set(expect["names"])
        return f"listed names differ from expected: {sorted(extra)[:5]}"
    return None


def check_egress(got: dict, expect: dict) -> Optional[str]:
    """Row and batch counts, the id set, sampled vectors and metadata
    dicts, and the queries pass equal the generator's values."""
    vecs = expect["vectors"]
    n = len(vecs)
    if got["rows"] != n:
        return f"{got['rows']} rows, expected {n}"
    want_batches = math.ceil(n / got["batch_size"])
    if got["batches"] != want_batches:
        return f"{got['batches']} batches, expected {want_batches}"
    if got["max_batch"] > got["batch_size"]:
        return f"batch of {got['max_batch']} rows > {got['batch_size']}"
    ids = sorted(_doc_index(d) for d in got["ids"])
    if ids != list(range(n)):
        return "document id set differs from the generated ids"
    for d, row in got["samples"].items():
        i = _doc_index(d)
        if not np.array_equal(np.asarray(row["values"], np.float32), vecs[i]):
            return f"doc {d}: vector differs"
        want = {"genre": f"g{expect['genre'][i]}", "year": int(expect["year"][i])}
        if row["metadata"] != want:
            return f"doc {d}: metadata {row['metadata']!r} != {want!r}"
    qvecs = expect["qvectors"]
    if got["queries"] != len(qvecs):
        return f"{got['queries']} queries, expected {len(qvecs)}"
    for q, vec in got["query_samples"].items():
        if not np.array_equal(np.asarray(vec, np.float32), qvecs[q]):
            return f"query {q}: vector differs"
    return None


def _recall(found: set, planted: np.ndarray) -> float:
    if len(planted) == 0:
        return 1.0
    return sum((int(a), int(b)) in found for a, b in planted) / len(planted)


def check_dedup(got: dict, expect: dict) -> Optional[str]:
    """Exact dedup keeps exactly the lowest id of each distinct text;
    MinHash candidates are ordered, distinct and find the planted
    near-duplicates at least at the seed's recall floor; every semantic
    pair has numpy cosine >= 0.95 and the planted near-copies are found
    at least at their floor."""
    if sorted(got["kept"]) != expect["kept_ids"].tolist():
        return (
            f"exact dedup kept {len(got['kept'])} ids,"
            f" expected {len(expect['kept_ids'])} distinct texts"
        )
    cands = got["candidates"]
    if any(a >= b for a, b in cands):
        return "candidate pair with id_a >= id_b"
    found = set(cands)
    if len(found) != len(cands):
        return "duplicate candidate pairs"
    recall = _recall(found, expect["near_pairs"])
    if recall < float(expect["near_recall_floor"]):
        return f"near-duplicate recall {recall:.3f} below floor"
    emb = expect["embeddings"]
    for a, b, cos in got["sem_pairs"]:
        if a >= b:
            return f"semantic pair ({a}, {b}) not ordered"
        true = _cos(emb[a], emb[b])
        if true < 0.95 - SCORE_TOL or abs(true - cos) > 1e-6:
            return f"semantic pair ({a}, {b}): cosine {cos}, numpy {true}"
    sem = {(a, b) for a, b, _ in got["sem_pairs"]}
    if _recall(sem, expect["sem_pairs"]) < float(expect["sem_recall_floor"]):
        return "planted semantic near-copies below the recall floor"
    return None


def planted_found(cands: list, expect: dict) -> int:
    """Planted exact and near-duplicate pairs among the candidates."""
    found = set(cands)
    return sum(
        (int(a), int(b)) in found
        for a, b in np.concatenate([expect["exact_pairs"], expect["near_pairs"]])
    )


CHECKS = {
    "search_replay": check_search,
    "publish": check_publish,
    "egress": check_egress,
    "corpus_dedup": check_dedup,
}
