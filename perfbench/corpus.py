"""Input generation for the benchmark, independent of the program under test.

The base tables are the committed fixture in `data/base` (the repository's
synthetic sf0.01 star schema plus events, documents and embeddings). The
x10 curation corpus is built here from that fixture, so no change to the
program can change what the benchmark feeds it:

  - copy 0 is the base corpus unchanged;
  - copy i (1..9) offsets doc_id and vec_id by i * 10^8;
  - in copy i, every third word of each document (the words whose index
    is congruent to i mod 3) gets the suffix "·c<i>", and n_chars is
    recomputed;
  - in copy i, every embedding element is scaled by
    1 + (pmod(vec_id * 31 + idx * 7 + i, 997) - 498) * 1e-4, a
    deterministic spread of about +-5 %, computed in float32.

The other tables are copied unchanged. Output is one file per table with
rows in copy order, so a rebuild is byte-for-byte reproducible.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
OFFSET_UNIT = 100_000_000
VERSION = "x10-v1"


def _mangle_text(text: str, copy: int) -> str:
    words = text.split(" ")
    return " ".join(w + f"·c{copy}" if k % 3 == copy % 3 else w
                    for k, w in enumerate(words))


def _documents(base: pa.Table, factor: int) -> pa.Table:
    ids = base.column("doc_id").to_pylist()
    texts = base.column("text").to_pylist()
    out_ids, out_text, langs, sources = [], [], [], []
    for i in range(factor):
        out_ids += [d + i * OFFSET_UNIT for d in ids]
        out_text += texts if i == 0 else [_mangle_text(t, i) for t in texts]
        langs += base.column("lang").to_pylist()
        sources += base.column("source").to_pylist()
    return pa.table({
        "doc_id": pa.array(out_ids, pa.int64()),
        "text": pa.array(out_text, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in out_text], pa.int64()),
    })


def _embeddings(base: pa.Table, factor: int) -> pa.Table:
    ids = np.asarray(base.column("vec_id").to_pylist(), dtype=np.int64)
    vecs = base.column("embedding").to_pylist()
    dim = len(vecs[0])
    if any(len(v) != dim for v in vecs):
        raise ValueError("embeddings: ragged vectors in the base fixture")
    mat = np.asarray(vecs, dtype=np.float32)
    idx = np.arange(dim, dtype=np.int64)
    out_ids, out_vecs, labels = [], [], []
    for i in range(factor):
        if i == 0:
            scaled = mat
        else:
            m = np.mod(ids[:, None] * 31 + idx[None, :] * 7 + i, 997)
            factor_f32 = (np.float32(1.0) +
                          (m.astype(np.float32) - np.float32(498.0)) * np.float32(1e-4))
            scaled = (mat * factor_f32).astype(np.float32)
        out_ids.append(ids + i * OFFSET_UNIT)
        out_vecs += scaled.tolist()
        labels += base.column("label").to_pylist()
    return pa.table({
        "vec_id": pa.array(np.concatenate(out_ids), pa.int64()),
        "embedding": pa.array(out_vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def build_x10(base_dir: str, out_dir: str, factor: int = 10) -> None:
    """Builds the scaled corpus into `out_dir` unless it is already there."""
    marker = os.path.join(out_dir, "_READY")
    want = f"{VERSION} factor={factor}"
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read().strip() == want:
                return
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    for t in TABLES:
        src = os.path.join(base_dir, f"{t}.parquet")
        dst = os.path.join(out_dir, f"{t}.parquet")
        if t == "documents":
            pq.write_table(_documents(pq.read_table(src), factor), dst)
        elif t == "embeddings":
            pq.write_table(_embeddings(pq.read_table(src), factor), dst)
        else:
            shutil.copyfile(src, dst)
    with open(marker, "w") as f:
        f.write(want + "\n")


def row_counts(data_dir: str) -> dict:
    return {t: pq.ParquetFile(os.path.join(data_dir, f"{t}.parquet")).metadata.num_rows
            for t in TABLES}
