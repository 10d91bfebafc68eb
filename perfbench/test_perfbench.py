"""Self-tests of the benchmark: the generator is deterministic, and every
output check passes the generator's own answer and fails a corrupted one.

    python3 -m pytest perfbench/test_perfbench.py -q

No Spark is started.
"""

from __future__ import annotations

import copy
import filecmp
import os

import numpy as np
import pytest

import checks
import gen


def _files(root: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, names in os.walk(root)
        for f in names
    )


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    """Every workload generated with seed 7 and seed 8."""
    out = {}
    for workload in gen.WORKLOADS:
        for seed in (7, 8):
            d = str(tmp_path_factory.mktemp(f"{workload}-{seed}"))
            info, expect = gen.generate(workload, seed, d)
            out[workload, seed] = (d, info, expect)
    return out


@pytest.mark.parametrize("workload", sorted(gen.WORKLOADS))
def test_same_seed_gives_identical_inputs(workload, inputs, tmp_path):
    d, info, expect = inputs[workload, 7]
    info2, expect2 = gen.generate(workload, 7, str(tmp_path))
    assert info2 == info
    assert _files(str(tmp_path)) == _files(d)
    _, mismatch, errors = filecmp.cmpfiles(d, str(tmp_path), _files(d), shallow=False)
    assert mismatch == [] and errors == []
    for part in expect:
        for key, value in expect[part].items():
            assert np.array_equal(value, expect2[part][key]), (part, key)


@pytest.mark.parametrize("workload", sorted(gen.WORKLOADS))
def test_second_seed_same_shape_other_values(workload, inputs):
    d7, info7, expect7 = inputs[workload, 7]
    d8, info8, expect8 = inputs[workload, 8]
    assert _files(d7) == _files(d8)
    for part in info7:
        assert info7[part].keys() == info8[part].keys()
        for key in ("docs", "queries", "dim", "exact_dups", "near_dups"):
            assert info7[part].get(key) == info8[part].get(key)
    for part in expect7:
        for key, value in expect7[part].items():
            assert value.shape == expect8[part][key].shape or key.endswith("pairs")
    assert not filecmp.cmp(
        os.path.join(d7, "expect.npz"), os.path.join(d8, "expect.npz"), shallow=False
    )


def test_filter_selectivity_per_template(inputs):
    """Each stored-filter template keeps its nominal share on both seeds."""
    for seed in (7, 8):
        mask = inputs["search_egress", seed][2]["search_egress"]["mask"]
        for t, nominal in enumerate((1 / 2, 1 / 4, 1 / 8, 1 / 16, 1 / 32, 1 / 64)):
            rows = mask[1 + 2 * t :: 2 * len(gen.FILTER_TEMPLATES)]
            assert len(rows) > 0
            assert np.all(np.abs(rows.mean(axis=1) - nominal) < 0.5 * nominal + 0.01)
        assert mask[0::2].all()  # unfiltered half


# -- search and egress -----------------------------------------------------


def _search_answer(e: dict) -> dict:
    return {
        q: [
            (gen.doc_id(int(i)), float(s))
            for i, s in zip(e["exp_ids"][q], e["exp_scores"][q])
            if i >= 0
        ]
        for q in range(len(e["exp_ids"]))
    }


def _egress_answer(e: dict, batch: int = 100) -> dict:
    n = len(e["vectors"])
    samples = {
        gen.doc_id(i): {
            "id": gen.doc_id(i),
            "values": e["vectors"][i].tolist(),
            "metadata": {"genre": f"g{e['genre'][i]}", "year": int(e["year"][i])},
        }
        for i in range(0, n, 97)
    }
    return {
        "rows": n,
        "batches": -(-n // batch),
        "max_batch": batch,
        "batch_size": batch,
        "ids": [gen.doc_id(i) for i in range(n)],
        "samples": samples,
        "queries": len(e["qvectors"]),
        "query_samples": {q: e["qvectors"][q].tolist() for q in range(0, len(e["qvectors"]), 5)},
    }


@pytest.fixture
def search_expect(inputs):
    return inputs["search_egress", 7][2]["search_egress"]


def test_search_check_accepts_the_answer(search_expect):
    assert checks.check_search(_search_answer(search_expect), search_expect) is None


def _swap_ranks(got):
    got[0][0], got[0][1] = got[0][1], got[0][0]


def _drop_last(got):
    got[1].pop()


def _bad_score(got):
    d, s = got[2][0]
    got[2][0] = (d, s + 1e-3)


def _filtered_out(e):
    def corrupt(got):
        q = next(q for q in range(len(e["mask"])) if not e["mask"][q].all())
        i = int(np.flatnonzero(~e["mask"][q])[0])
        got[q][0] = (gen.doc_id(i), gen.cosine_scores(e["vectors"][[i]], e["qvectors"][q])[0])

    return corrupt


def _missing_query(got):
    del got[3]


@pytest.mark.parametrize(
    "corrupt", [_swap_ranks, _drop_last, _bad_score, "filter", _missing_query]
)
def test_search_check_rejects_corruption(corrupt, search_expect):
    got = _search_answer(search_expect)
    (_filtered_out(search_expect) if corrupt == "filter" else corrupt)(got)
    assert checks.check_search(got, search_expect) is not None


def test_egress_check_accepts_the_answer(search_expect):
    assert checks.check_egress(_egress_answer(search_expect), search_expect) is None


@pytest.mark.parametrize(
    "corrupt",
    [
        lambda g: g.update(rows=g["rows"] - 1),
        lambda g: g.update(batches=g["batches"] + 1),
        lambda g: g["ids"].__setitem__(0, g["ids"][1]),
        lambda g: next(iter(g["samples"].values()))["values"].__setitem__(0, 9.0),
        lambda g: next(iter(g["samples"].values()))["metadata"].update(year=1),
        lambda g: g["query_samples"][0].__setitem__(3, 0.0),
        lambda g: g.update(queries=g["queries"] + 1),
    ],
)
def test_egress_check_rejects_corruption(corrupt, search_expect):
    got = _egress_answer(search_expect)
    corrupt(got)
    assert checks.check_egress(got, search_expect) is not None


# -- publish -----------------------------------------------------------------


def _publish_expect() -> dict:
    return {
        "count": 10,
        "hash": 12345,
        "queries": 3,
        "metadata": {"name": "published", "documents": 10, "tags": ["a"]},
        "names": ["pre000", "pre001", "published"],
    }


def test_publish_check_accepts_the_answer():
    e = _publish_expect()
    assert checks.check_publish(copy.deepcopy(e), e) is None


@pytest.mark.parametrize(
    "corrupt",
    [
        lambda g: g.update(hash=54321),
        lambda g: g.update(count=9),
        lambda g: g.update(queries=0),
        lambda g: g["metadata"].update(documents=11),
        lambda g: g["metadata"].pop("tags"),
        lambda g: g["names"].pop(),
        lambda g: g["names"].append("stray"),
    ],
)
def test_publish_check_rejects_corruption(corrupt):
    e = _publish_expect()
    got = copy.deepcopy(e)
    corrupt(got)
    assert checks.check_publish(got, e) is not None


# -- corpus dedup ------------------------------------------------------------


@pytest.fixture
def dedup_expect(inputs):
    return inputs["dedup_publish", 7][2]["corpus_dedup"]


def _dedup_answer(e: dict) -> dict:
    emb = e["embeddings"]
    return {
        "kept": e["kept_ids"].tolist(),
        "candidates": [
            (int(a), int(b)) for a, b in np.concatenate([e["exact_pairs"], e["near_pairs"]])
        ],
        "sem_pairs": [
            (int(a), int(b), float(gen.cosine_scores(emb[[a]], emb[b])[0]))
            for a, b in e["sem_pairs"]
        ],
    }


def test_dedup_check_accepts_the_answer(dedup_expect):
    assert checks.check_dedup(_dedup_answer(dedup_expect), dedup_expect) is None


@pytest.mark.parametrize(
    "corrupt",
    [
        lambda g: g["kept"].pop(),
        lambda g: g["kept"].append(max(g["kept"]) + 1),
        lambda g: g.update(candidates=g["candidates"][: len(g["candidates"]) // 4]),
        lambda g: g["candidates"].append(g["candidates"][0]),
        lambda g: g["candidates"].append((g["candidates"][0][1], g["candidates"][0][0])),
        lambda g: g["sem_pairs"].append((0, 1, 0.99)),
        lambda g: g.update(sem_pairs=[]),
        lambda g: g["sem_pairs"].__setitem__(0, g["sem_pairs"][0][:2] + (0.5,)),
    ],
)
def test_dedup_check_rejects_corruption(corrupt, dedup_expect):
    got = _dedup_answer(dedup_expect)
    corrupt(got)
    assert checks.check_dedup(got, dedup_expect) is not None
