"""Benchmark inputs.

``data/sf0.1`` holds byte-identical copies of the project's sf0.1
synthetic fixture tables (seed 42), limited to the eight tables the
benchmark's ops and oracles read (``lineitem`` and ``events`` are left
out). ``build`` copies them into the run's working directory, so every run
starts from the same files.

``derive_x10`` builds the corpus-curation input from the sf0.1 copy:
``documents`` and ``embeddings`` grow ten-fold, every other table is
copied as is. Copy 0 is verbatim; copy k > 0 offsets the ids by
``k * rows``, shuffles each document's token order and perturbs each
vector with seeded noise before renormalising it. The same seed gives
byte-identical parquet.

Nothing here starts Spark: numpy draws the noise and pyarrow writes.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "documents",
    "embeddings",
)
X10_COPIES = 10


def _write(df: pd.DataFrame, path: str, schema: pa.Schema | None = None) -> None:
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, path, compression="snappy")


def _unit_rows(m: np.ndarray) -> np.ndarray:
    return (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32)


EMBEDDING_SCHEMA = pa.schema(
    [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]
)


def _embeddings_frame(vec_id: np.ndarray, vecs: np.ndarray, label: np.ndarray) -> pd.DataFrame:
    return pd.DataFrame({"vec_id": vec_id, "embedding": list(vecs), "label": label})


def copy_set(src_dir: str, out_dir: str) -> None:
    """Copy the benchmark's tables from ``src_dir`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        shutil.copyfile(
            os.path.join(src_dir, f"{name}.parquet"), os.path.join(out_dir, f"{name}.parquet")
        )


def derive_x10(base_dir: str, out_dir: str, seed: int) -> None:
    """Write ten-fold ``documents`` and ``embeddings`` derived from
    ``base_dir`` into ``out_dir``; copy every other table unchanged."""
    copy_set(base_dir, out_dir)
    rng = np.random.default_rng([seed, 0x0A10])

    docs = pd.read_parquet(os.path.join(base_dir, "documents.parquet"))
    n = len(docs)
    frames = [docs]
    for k in range(1, X10_COPIES):
        texts = []
        for text in docs["text"]:
            tokens = text.split(" ")
            texts.append(" ".join(tokens[i] for i in rng.permutation(len(tokens))))
        frames.append(
            docs.assign(
                doc_id=docs["doc_id"] + k * n,
                text=texts,
                n_chars=np.array([len(t) for t in texts], dtype=np.int64),
            )
        )
    _write(pd.concat(frames, ignore_index=True), os.path.join(out_dir, "documents.parquet"))

    emb = pd.read_parquet(os.path.join(base_dir, "embeddings.parquet"))
    base_vecs = np.stack(emb["embedding"].to_numpy()).astype(np.float32)
    m = len(emb)
    ids, vecs, labels = [emb["vec_id"].to_numpy()], [base_vecs], [emb["label"].to_numpy()]
    for k in range(1, X10_COPIES):
        noise = rng.standard_normal(base_vecs.shape) * 0.05
        ids.append(emb["vec_id"].to_numpy() + k * m)
        vecs.append(_unit_rows(base_vecs + noise))
        labels.append(emb["label"].to_numpy())
    _write(
        _embeddings_frame(np.concatenate(ids), np.concatenate(vecs), np.concatenate(labels)),
        os.path.join(out_dir, "embeddings.parquet"),
        EMBEDDING_SCHEMA,
    )


#: Directory name of each input set; index names are keyed on it.
DIR_NAMES = {"base": "sf0.1", "x10": "x10"}


def build(root: str, seed: int, which: tuple[str, ...]) -> dict[str, str]:
    """Write the input sets ``which`` (keys of ``DIR_NAMES``; ``base`` is
    always made) under ``root`` and return their directories."""
    dirs = {w: os.path.join(root, DIR_NAMES[w]) for w in ("base", *which)}
    copy_set(os.path.join(DATA, "sf0.1"), dirs["base"])
    if "x10" in dirs:
        derive_x10(dirs["base"], dirs["x10"], seed)
    return dirs
