"""The inputs are the project's fixtures, and the seeded x10 derivation is
deterministic and keeps the shape the curation workload relies on. No
Spark needed."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

import fixtures


def _bytes(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as fh:
            out[name] = fh.read()
    return out


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    root = tmp_path_factory.mktemp("inputs")
    return {
        key: fixtures.build(str(root / key), seed, ("x10",))
        for key, seed in (("a", 7), ("b", 7), ("c", 8))
    }


def test_same_seed_gives_identical_parquet(built):
    for which in fixtures.DIR_NAMES:
        a, b = _bytes(built["a"][which]), _bytes(built["b"][which])
        assert sorted(a) == [f"{t}.parquet" for t in sorted(fixtures.TABLES)]
        assert a == b, which


def test_other_seed_gives_other_inputs(built):
    a, c = _bytes(built["a"]["x10"]), _bytes(built["c"]["x10"])
    assert a["documents.parquet"] != c["documents.parquet"]
    assert a["embeddings.parquet"] != c["embeddings.parquet"]


def test_sets_are_copies_of_the_fixtures(built):
    base = built["a"]["base"]
    assert os.path.basename(base) == "sf0.1"
    assert _bytes(base) == _bytes(os.path.join(fixtures.DATA, "sf0.1"))
    docs = pd.read_parquet(os.path.join(base, "documents.parquet"))
    assert len(docs) == 5000


def test_x10_derivation(built):
    base, x10 = built["a"]["base"], built["a"]["x10"]
    docs = pd.read_parquet(os.path.join(base, "documents.parquet"))
    big = pd.read_parquet(os.path.join(x10, "documents.parquet"))
    n = len(docs)
    assert len(big) == fixtures.X10_COPIES * n
    assert big["doc_id"].is_unique
    pd.testing.assert_frame_equal(big.iloc[:n].reset_index(drop=True), docs)
    copy = big.iloc[n : 2 * n].reset_index(drop=True)
    assert (copy["doc_id"] == docs["doc_id"] + n).all()
    assert (copy["text"].str.split().map(sorted) == docs["text"].str.split().map(sorted)).all()
    assert (copy["text"] != docs["text"]).any()
    assert (copy["n_chars"] == copy["text"].str.len()).all()

    emb = pd.read_parquet(os.path.join(base, "embeddings.parquet"))
    big_emb = pd.read_parquet(os.path.join(x10, "embeddings.parquet"))
    vecs = np.stack(big_emb["embedding"].to_numpy())
    assert len(big_emb) == fixtures.X10_COPIES * len(emb)
    assert big_emb["vec_id"].is_unique
    assert np.allclose(np.linalg.norm(vecs[len(emb) :], axis=1), 1.0, atol=1e-5)

    for table in ("orders", "part", "customer"):
        assert _bytes(base)[f"{table}.parquet"] == _bytes(x10)[f"{table}.parquet"]
