"""Seeded input generator for the benchmark workloads.

Everything the program under test sees is written here, with numpy and
pyarrow only, so the same seed gives byte-identical files and identical
expected answers.  Datasets use the reference on-disk layout:
``<name>/documents/*.parquet``, ``<name>/queries/*.parquet`` and
``<name>/metadata.json``.

A workload is made of parts (``WORKLOADS``); each part has its own
generator, seeded from the workload seed and the part's name.  A part
generator writes its inputs under ``out_dir`` and returns ``(info,
expect)``: ``info`` is a small JSON-able dict of input sizes, ``expect``
holds the numpy arrays the output checks compare against.
"""

from __future__ import annotations

import json
import math
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 128
TOP_K = 10
N_GENRES = 16
YEAR0 = 1990
N_YEARS = 32
DOC_PARTS = 4  # part files per documents table, independent of the host

# Sizes: a warm operation takes about 2-6 s on a 4-core host, most of it
# Spark's fixed per-job cost; larger inputs would leave too few warm
# samples in a run (see README.md, "Why two workloads").
SEARCH_DOCS = 2000
SEARCH_QUERIES = 32
PUBLISH_DOCS = 4000
PUBLISH_QUERIES = 1000
PUBLISH_CATALOG = 100
DEDUP_DOCS = 500
DEDUP_DIM = 64
DEDUP_VOCAB = 4000


def _rng(workload: str, seed: int) -> np.random.Generator:
    salt = zlib.crc32(workload.encode())
    return np.random.default_rng(np.random.SeedSequence([int(seed), salt]))


def doc_id(i: int) -> str:
    return f"d{i:07d}"


def _metadata_json(name: str, documents: int, queries: int) -> str:
    return json.dumps(
        {
            "name": name,
            "created_at": "2024-01-01 00:00:00.000000",
            "documents": documents,
            "queries": queries,
            "source": "perfbench",
            "license": "cc0",
            "bucket": None,
            "task": "benchmark",
            "dense_model": {"name": "perfbench-dense", "dimension": DIM},
            "sparse_model": None,
            "description": f"generated input {name}",
            "tags": ["perfbench"],
            "args": None,
        },
        sort_keys=True,
    )


def _vec_array(vectors: np.ndarray) -> pa.Array:
    n, d = vectors.shape
    flat = pa.array(vectors.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, n * d + 1, d, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def _write_parts(table: pa.Table, table_dir: str, parts: int) -> None:
    os.makedirs(table_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, parts + 1).astype(int)
    for p in range(parts):
        pq.write_table(
            table.slice(bounds[p], bounds[p + 1] - bounds[p]),
            os.path.join(table_dir, f"part-{p}.parquet"),
        )


def _write_dataset(
    root: str, name: str, docs: pa.Table, queries: pa.Table
) -> str:
    path = os.path.join(root, name)
    _write_parts(docs, os.path.join(path, "documents"), DOC_PARTS)
    _write_parts(queries, os.path.join(path, "queries"), 1)
    with open(os.path.join(path, "metadata.json"), "w") as f:
        f.write(_metadata_json(name, docs.num_rows, queries.num_rows))
    return path


def _genre_year(rng: np.random.Generator, n: int):
    return rng.integers(0, N_GENRES, n), YEAR0 + rng.integers(0, N_YEARS, n)


def _doc_metadata(genre: np.ndarray, year: np.ndarray) -> list[str]:
    return [
        json.dumps({"genre": f"g{g}", "year": int(y)})
        for g, y in zip(genre, year)
    ]


# -- stored filters ----------------------------------------------------------
# Each template maps an rng to (filter dict, numpy mask function of
# (genre, year)); the comment gives its selectivity.


def _genres(rng: np.random.Generator, m: int) -> list[int]:
    return sorted(int(g) for g in rng.choice(N_GENRES, m, replace=False))


def _in_filter(rng, m):
    gs = _genres(rng, m)
    return {"genre": {"$in": [f"g{g}" for g in gs]}}, (
        lambda genre, year: np.isin(genre, gs)
    )


def _eq_filter(rng):
    (g,) = _genres(rng, 1)
    return {"genre": {"$eq": f"g{g}"}}, (lambda genre, year: genre == g)


def _gte_filter(rng, years):
    y = YEAR0 + N_YEARS - years
    return {"year": {"$gte": y}}, (lambda genre, year: year >= y)


def _and_filter(rng):
    (g,) = _genres(rng, 1)
    y = YEAR0 + N_YEARS - N_YEARS // 4
    return (
        {"$and": [{"genre": {"$eq": f"g{g}"}}, {"year": {"$gte": y}}]},
        lambda genre, year: (genre == g) & (year >= y),
    )


FILTER_TEMPLATES = (
    lambda rng: _in_filter(rng, N_GENRES // 2),  # 1/2
    lambda rng: _gte_filter(rng, N_YEARS // 4),  # 1/4
    lambda rng: _in_filter(rng, N_GENRES // 8),  # 1/8
    _eq_filter,  # 1/16
    lambda rng: _gte_filter(rng, 1),  # 1/32
    _and_filter,  # 1/64
)


def _topk(scores: np.ndarray, mask: np.ndarray, k: int):
    """Top-k doc indices by (score desc, id asc); -1 / nan pad."""
    idx = np.flatnonzero(mask)
    order = idx[np.lexsort((idx, -scores[idx]))][:k]
    ids = np.full(k, -1, dtype=np.int64)
    sc = np.full(k, np.nan)
    ids[: len(order)] = order
    sc[: len(order)] = scores[order]
    return ids, sc


def cosine_scores(docs: np.ndarray, q: np.ndarray) -> np.ndarray:
    d64 = docs.astype(np.float64)
    q64 = q.astype(np.float64)
    return (d64 @ q64) / (np.linalg.norm(d64, axis=1) * np.linalg.norm(q64))


def gen_search_egress(rng, out_dir):
    n, nq = SEARCH_DOCS, SEARCH_QUERIES
    vecs = rng.standard_normal((n, DIM), dtype=np.float32)
    genre, year = _genre_year(rng, n)
    qvecs = rng.standard_normal((nq, DIM), dtype=np.float32)
    filters, masks = [], []
    for i in range(nq):
        if i % 2:
            f, fn = FILTER_TEMPLATES[(i // 2) % len(FILTER_TEMPLATES)](rng)
            filters.append(json.dumps(f))
            masks.append(fn(genre, year))
        else:
            filters.append(None)
            masks.append(np.ones(n, dtype=bool))
    exp_ids = np.zeros((nq, TOP_K), dtype=np.int64)
    exp_scores = np.zeros((nq, TOP_K))
    for i in range(nq):
        exp_ids[i], exp_scores[i] = _topk(
            cosine_scores(vecs, qvecs[i]), masks[i], TOP_K
        )
    docs = pa.table(
        {
            "id": [doc_id(i) for i in range(n)],
            "values": _vec_array(vecs),
            "metadata": _doc_metadata(genre, year),
        }
    )
    queries = pa.table(
        {
            "vector": _vec_array(qvecs),
            "filter": pa.array(filters, type=pa.string()),
            "top_k": pa.array([TOP_K] * nq, type=pa.int32()),
            "blob": [json.dumps({"qid": i}) for i in range(nq)],
        }
    )
    _write_dataset(os.path.join(out_dir, "catalog"), "search", docs, queries)
    mask = np.stack(masks)
    selectivity = mask.mean(axis=1)
    info = {
        "docs": n,
        "dim": DIM,
        "queries": nq,
        "top_k": TOP_K,
        "filtered_queries": nq // 2,
        "selectivity_min": float(selectivity.min()),
        "pairs": int(mask.sum()),
        "batch_size": 100,
    }
    expect = {
        "vectors": vecs,
        "genre": genre,
        "year": year,
        "qvectors": qvecs,
        "mask": mask,
        "exp_ids": exp_ids,
        "exp_scores": exp_scores,
    }
    return info, expect


def _sparse_array(rng, n: int) -> pa.Array:
    """Sparse values on every other row, null elsewhere."""
    rows = []
    for i in range(n):
        if i % 2:
            rows.append(None)
            continue
        nnz = int(rng.integers(4, 17))
        idx = np.sort(rng.choice(30000, nnz, replace=False)).astype(np.int64)
        val = rng.random(nnz, dtype=np.float32)
        rows.append({"indices": idx.tolist(), "values": val.tolist()})
    return pa.array(
        rows,
        type=pa.struct(
            [("indices", pa.list_(pa.int64())), ("values", pa.list_(pa.float32()))]
        ),
    )


def gen_publish(rng, out_dir):
    n, nq = PUBLISH_DOCS, PUBLISH_QUERIES
    vecs = rng.standard_normal((n, DIM), dtype=np.float32)
    genre, year = _genre_year(rng, n)
    docs = pa.table(
        {
            "id": [doc_id(i) for i in range(n)],
            "values": _vec_array(vecs),
            "sparse_values": _sparse_array(rng, n),
            "metadata": _doc_metadata(genre, year),
            "blob": [json.dumps({"src": int(i % 97)}) for i in range(n)],
        }
    )
    qvecs = rng.standard_normal((nq, DIM), dtype=np.float32)
    queries = pa.table(
        {
            "vector": _vec_array(qvecs),
            "filter": [
                json.dumps(FILTER_TEMPLATES[i % len(FILTER_TEMPLATES)](rng)[0])
                for i in range(nq)
            ],
            "top_k": pa.array([TOP_K] * nq, type=pa.int32()),
        }
    )
    src = os.path.join(out_dir, "source")
    os.makedirs(src)
    pq.write_table(docs, os.path.join(src, "documents.parquet"))
    pq.write_table(queries, os.path.join(src, "queries.parquet"))
    names = []
    for j in range(PUBLISH_CATALOG):
        name = f"pre{j:03d}"
        path = os.path.join(out_dir, "catalog", name)
        os.makedirs(path)
        with open(os.path.join(path, "metadata.json"), "w") as f:
            f.write(
                _metadata_json(name, int(rng.integers(1, 10**6)), 0)
            )
        names.append(name)
    info = {
        "docs": n,
        "dim": DIM,
        "queries": nq,
        "sparse_rows": (n + 1) // 2,
        "catalog_datasets": PUBLISH_CATALOG,
        "arrow_bytes": int(docs.nbytes + queries.nbytes),
    }
    return info, {"catalog_names": np.array(names)}


# -- corpus_dedup --------------------------------------------------------------


def _vocab(rng: np.random.Generator, size: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < size:
        ln = int(rng.integers(3, 10))
        words.add("".join(rng.choice(letters, ln)))
    return sorted(words)


def shingles(text: str, k: int = 5) -> set[str]:
    t = " ".join(text.lower().split())
    return {t[i : i + k] for i in range(max(len(t) - k + 1, 1))}


def gen_corpus_dedup(rng, out_dir):
    n = DEDUP_DOCS
    vocab = np.array(_vocab(rng, DEDUP_VOCAB))
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    weights /= weights.sum()
    n_exact = n // 20
    n_near = n // 20
    n_base = n - n_exact - n_near
    texts = [
        " ".join(rng.choice(vocab, int(rng.integers(60, 201)), p=weights))
        for _ in range(n_base)
    ]
    exact_pairs, near_pairs = [], []
    for _ in range(n_exact):
        src = int(rng.integers(0, n_base))
        exact_pairs.append((src, len(texts)))
        texts.append(texts[src])
    for _ in range(n_near):
        src = int(rng.integers(0, n_base))
        words = texts[src].split(" ")
        pos = int(rng.integers(0, len(words)))
        new = words[pos]
        while new == words[pos]:
            new = str(rng.choice(vocab))
        words[pos] = new
        near_pairs.append((src, len(texts)))
        texts.append(" ".join(words))
    # Shuffle ids so planted copies are spread over the id range.
    perm = rng.permutation(n)
    ids = np.empty(n, dtype=np.int64)
    ids[perm] = np.arange(n)  # row i gets doc id ids[i]
    first_id: dict[str, int] = {}
    for i, t in enumerate(texts):
        key = " ".join(t.lower().split())
        first_id[key] = min(first_id.get(key, n), int(ids[i]))
    kept = np.sort(np.array(list(first_id.values()), dtype=np.int64))

    def id_pairs(pairs):
        return np.array(
            sorted(tuple(sorted((int(ids[a]), int(ids[b])))) for a, b in pairs),
            dtype=np.int64,
        ).reshape(-1, 2)

    # MinHash-LSH with 32 hashes in 8 bands finds a pair of Jaccard J
    # with probability 1 - (1 - J^4)^8.
    jac = [
        len(shingles(texts[a]) & shingles(texts[b]))
        / len(shingles(texts[a]) | shingles(texts[b]))
        for a, b in near_pairs
    ]
    near_expected = float(np.mean([1 - (1 - j**4) ** 8 for j in jac]))

    emb = rng.standard_normal((n, DEDUP_DIM)).astype(np.float32)
    hot = rng.choice(n, n // 20, replace=False)
    center = rng.standard_normal(DEDUP_DIM)
    center /= np.linalg.norm(center)
    emb[hot] = (center + 0.06 * rng.standard_normal((len(hot), DEDUP_DIM))).astype(
        np.float32
    )
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    n_copies = n // 50
    rows = rng.choice(n, 2 * n_copies, replace=False)
    sem_pairs = []
    for a, b in zip(rows[:n_copies], rows[n_copies:]):
        emb[b] = emb[a] + 0.01 * rng.standard_normal(DEDUP_DIM).astype(np.float32)
        sem_pairs.append((int(a), int(b)))
    table = pa.table(
        {
            "doc_id": pa.array(ids),
            "text": texts,
            "embedding": _vec_array(emb),
        }
    )
    _write_parts(table, os.path.join(out_dir, "corpus"), DOC_PARTS)
    cos = [
        float(cosine_scores(emb[[a]], emb[b])[0]) for a, b in sem_pairs
    ]
    # SRP cells with `bits` planes keep a pair of angle t together with
    # probability (1 - t/pi)^bits; bits follows the corpus size.
    bits = min(max(math.ceil(math.log2(max(n / 200, 2.0))), 1), 30)
    sem_expected = float(
        np.mean([(1 - math.acos(min(c, 1.0)) / math.pi) ** bits for c in cos])
    )
    info = {
        "docs": n,
        "exact_dups": n_exact,
        "near_dups": n_near,
        "embedding_dim": DEDUP_DIM,
        "planted_semantic_pairs": n_copies,
        "hot_cluster_rows": len(hot),
        "distinct_texts": int(len(kept)),
    }
    emb_by_id = np.empty_like(emb)
    emb_by_id[ids] = emb
    expect = {
        "kept_ids": kept,
        "exact_pairs": id_pairs(exact_pairs),
        "near_pairs": id_pairs(near_pairs),
        "near_recall_floor": np.array(0.5 * near_expected),
        "sem_pairs": id_pairs(sem_pairs),
        "sem_recall_floor": np.array(0.5 * sem_expected),
        "embeddings": emb_by_id,
    }
    return info, expect


PARTS = {
    "search_egress": gen_search_egress,
    "corpus_dedup": gen_corpus_dedup,
    "publish": gen_publish,
}
# Each workload runs its parts one after the other in one operation.
WORKLOADS = {
    "search_egress": ("search_egress",),
    "dedup_publish": ("corpus_dedup", "publish"),
}


def generate(workload: str, seed: int, out_dir: str):
    """Write every part's inputs; return ``({part: info}, {part: expect})``."""
    info, expect = {}, {}
    for part in WORKLOADS[workload]:
        info[part], expect[part] = PARTS[part](_rng(part, seed), out_dir)
    np.savez(
        os.path.join(out_dir, "expect.npz"),
        **{f"{p}.{k}": v for p, e in expect.items() for k, v in e.items()},
    )
    with open(os.path.join(out_dir, "info.json"), "w") as f:
        json.dump(info, f, sort_keys=True)
    return info, expect


def load_expect(out_dir: str) -> tuple[dict, dict]:
    with open(os.path.join(out_dir, "info.json")) as f:
        info = json.load(f)
    expect: dict[str, dict] = {}
    with np.load(os.path.join(out_dir, "expect.npz")) as z:
        for key in z.files:
            part, name = key.split(".", 1)
            expect.setdefault(part, {})[name] = z[key]
    return info, expect
