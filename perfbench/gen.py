"""Seeded input generators. The same seed gives byte-identical files.

Every generator writes plain parquet (and, for the snapshot workloads,
SQLite targets); the engine only ever sees these files.
"""

from __future__ import annotations

import hashlib
import sqlite3

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Columns of the `files` table (FIXTURES.md A1). The source carries the
# Cassandra key name `id`; the job renames it to `file_id`.
STRING_SANITIZED = ["client_name", "client_zone", "fid", "name"]
TS_DEFAULT = "1970-01-01 00:00:00"
TARGET_COLS = [
    "file_id", "client_name", "client_zone", "cluster", "duration", "ext",
    "fid", "name", "mime", "size", "type", "height", "width", "modified",
]

# Reference DDL (mysql-init/init.sql): surrogate id plus a unique file_id.
TARGET_DDL = """
CREATE TABLE files (
  id INTEGER PRIMARY KEY AUTOINCREMENT,
  file_id VARCHAR(32) NOT NULL,
  client_name VARCHAR(64) NOT NULL DEFAULT '',
  client_zone VARCHAR(8) NOT NULL DEFAULT '',
  cluster VARCHAR(16),
  duration INTEGER,
  ext VARCHAR(50),
  fid VARCHAR(32) NOT NULL DEFAULT '',
  name VARCHAR(255) NOT NULL DEFAULT '',
  mime VARCHAR(127),
  size INTEGER,
  type VARCHAR(100),
  height INTEGER,
  width INTEGER,
  modified DATETIME NOT NULL,
  UNIQUE (file_id)
)
"""

_EPOCH_2024_US = 1_704_067_200 * 1_000_000
_EXTS = ["mp4", "jpg", "png", "mkv", "pdf", "txt"]


def _with_nulls(rng, values: list, share: float) -> list:
    mask = rng.random(len(values)) < share
    return [None if m else v for v, m in zip(values, mask)]


def files_rows(seed: int, n_keys: int, dup_share: float = 0.01) -> dict:
    """Column lists of the source `files` table: n_keys distinct MD5 ids
    plus ~dup_share duplicate rows, NULLs in every sanitized column.

    A duplicate copies its original with a later, non-NULL `modified`, so
    the job's survivor order (modified, name, fid) always keeps the
    original."""
    rng = np.random.default_rng(seed)
    ids = [hashlib.md5(f"{seed}:{i}".encode()).hexdigest() for i in range(n_keys)]
    n = n_keys
    cols = {
        "id": ids,
        "client_name": _with_nulls(
            rng, [f"client{x}" for x in rng.integers(0, 500, n)], 0.05
        ),
        "client_zone": _with_nulls(
            rng, [f"z{x}" for x in rng.integers(0, 8, n)], 0.05
        ),
        "cluster": _with_nulls(rng, [f"c{x}" for x in rng.integers(0, 16, n)], 0.05),
        "duration": _with_nulls(rng, [int(x) for x in rng.integers(0, 7200, n)], 0.05),
        "ext": _with_nulls(rng, [_EXTS[x] for x in rng.integers(0, 6, n)], 0.05),
        "fid": _with_nulls(rng, [f"f{seed}-{i}" for i in range(n)], 0.05),
        "name": _with_nulls(rng, [f"file_{i}.bin" for i in range(n)], 0.05),
        "mime": _with_nulls(rng, ["application/octet-stream"] * n, 0.05),
        "size": _with_nulls(rng, [int(x) for x in rng.integers(0, 2**31 - 1, n)], 0.05),
        "type": _with_nulls(rng, ["blob"] * n, 0.05),
        "height": _with_nulls(rng, [int(x) for x in rng.integers(0, 4096, n)], 0.05),
        "width": _with_nulls(rng, [int(x) for x in rng.integers(0, 4096, n)], 0.05),
        "modified": _with_nulls(
            rng,
            [_EPOCH_2024_US + int(x) * 1_000_000 for x in rng.integers(0, 10**7, n)],
            0.05,
        ),
    }
    dups = sorted(int(i) for i in rng.choice(n, max(1, int(n * dup_share)), replace=False))
    for i in dups:
        for c in cols:
            cols[c].append(cols[c][i])
        cols["name"][-1] = f"copy_of_{i}.bin"
        base = cols["modified"][i] if cols["modified"][i] is not None else _EPOCH_2024_US
        cols["modified"][-1] = base + int(rng.integers(1, 100)) * 1_000_000
    order = rng.permutation(len(cols["id"]))
    return {c: [v[j] for j in order] for c, v in cols.items()}


def write_files_parquet(path: str, cols: dict) -> None:
    schema = pa.schema(
        [("id", pa.string())]
        + [
            (c, pa.int32() if c in ("duration", "size", "height", "width") else pa.string())
            for c in TARGET_COLS[1:-1]
        ]
        + [("modified", pa.timestamp("us", tz="UTC"))]
    )
    arrays = []
    for field in schema:
        if field.name == "modified":
            arrays.append(pa.array(cols["modified"], pa.int64()).cast(field.type))
        else:
            arrays.append(pa.array(cols[field.name], field.type))
    pq.write_table(pa.Table.from_arrays(arrays, schema=schema), path)


def expected_target_rows(cols: dict) -> dict[str, tuple]:
    """file_id -> the sanitized surviving row, computed from the generator's
    own knowledge of which copy survives (used only to pre-fill resume
    targets; the checker derives its expectation independently)."""
    best: dict[str, tuple] = {}
    n = len(cols["id"])
    for j in range(n):
        key = cols["id"][j]
        mod = cols["modified"][j]
        rank = (mod if mod is not None else 0, cols["name"][j] or "", cols["fid"][j] or "")
        if key in best and best[key][0] <= rank:
            continue
        row = []
        for c in TARGET_COLS:
            v = cols["id"][j] if c == "file_id" else cols[c][j]
            if c in STRING_SANITIZED and v is None:
                v = ""
            if c == "modified":
                v = TS_DEFAULT if v is None else _fmt_ts(v)
            row.append(v)
        best[key] = (rank, tuple(row))
    return {k: r for k, (_, r) in best.items()}


def _fmt_ts(us: int) -> str:
    return str(np.datetime64(us, "us").astype("datetime64[s]")).replace("T", " ")


def create_target(path: str, rows: list[tuple] | None = None) -> None:
    con = sqlite3.connect(path)
    try:
        con.execute(TARGET_DDL)
        if rows:
            ph = ", ".join("?" * len(TARGET_COLS))
            con.executemany(
                f"INSERT INTO files ({', '.join(TARGET_COLS)}) VALUES ({ph})", rows
            )
        con.commit()
    finally:
        con.close()


def resume_target_rows(
    seed: int, expected: dict[str, tuple], missing_share: float = 0.01
) -> tuple[list[tuple], set[str]]:
    """The migrated rows minus a seeded ~missing_share of keys."""
    rng = np.random.default_rng(seed + 1)
    keys = sorted(expected)
    missing = {keys[i] for i in rng.choice(len(keys), max(1, int(len(keys) * missing_share)), replace=False)}
    return [expected[k] for k in keys if k not in missing], missing


def _vocab(n: int) -> tuple[list[str], np.ndarray]:
    """Words w0..w{n-1} and the cumulative Zipf distribution over them."""
    p = 1.0 / np.arange(1, n + 1)
    return [f"w{i}" for i in range(n)], np.cumsum(p / p.sum())


def _draw(rng, cdf: np.ndarray, k: int) -> np.ndarray:
    return np.minimum(np.searchsorted(cdf, rng.random(k)), len(cdf) - 1)


VOCAB_SIZE = 4000
DOC_WORDS = 60


def neardup_corpus(
    seed: int, n_docs: int, chain_share: float = 0.3, max_depth: int = 4,
    edits: int = 5,
) -> dict:
    """Zipf-vocabulary documents; a share of them start a planted chain of
    near-duplicates (each copy edits `edits` words of the previous copy),
    up to max_depth copies deep. `cluster` is the planted chain id."""
    rng = np.random.default_rng(seed)
    vocab, cdf = _vocab(VOCAB_SIZE)
    texts: list[str] = []
    cluster: list[int] = []
    chain = 0
    while len(texts) < n_docs:
        words = _draw(rng, cdf, DOC_WORDS)
        texts.append(" ".join(vocab[w] for w in words))
        cluster.append(chain)
        if rng.random() < chain_share:
            for _ in range(int(rng.integers(1, max_depth + 1))):
                words = words.copy()
                words[rng.integers(0, DOC_WORDS, edits)] = _draw(rng, cdf, edits)
                texts.append(" ".join(vocab[w] for w in words))
                cluster.append(chain)
        chain += 1
    texts, cluster = texts[:n_docs], cluster[:n_docs]
    return {
        "doc_id": list(range(n_docs)),
        "text": texts,
        "quality": [int(x) for x in rng.integers(0, 100, n_docs)],
        "cluster": cluster,
    }


def write_corpus_parquet(path: str, corpus: dict) -> None:
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(corpus["doc_id"], pa.int64()),
                "text": pa.array(corpus["text"], pa.string()),
                "quality": pa.array(corpus["quality"], pa.int64()),
            }
        ),
        path,
    )


def clustered_embeddings(
    seed: int, n_vecs: int, dim: int, n_clusters: int = 16, n_queries: int = 20
) -> dict:
    """Gaussian blobs around n_clusters centres, plus query vectors drawn
    from the same blobs (query ids start at 10**9, outside the corpus)."""
    rng = np.random.default_rng(seed + 7)
    centres = rng.normal(size=(n_clusters, dim))
    labels = rng.integers(0, n_clusters, n_vecs)
    vecs = centres[labels] + 0.35 * rng.normal(size=(n_vecs, dim))
    q_labels = rng.integers(0, n_clusters, n_queries)
    queries = centres[q_labels] + 0.35 * rng.normal(size=(n_queries, dim))
    return {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "label": labels.astype(np.int64),
        "vecs": vecs,
        "q_ids": np.arange(10**9, 10**9 + n_queries, dtype=np.int64),
        "queries": queries,
    }


def write_embeddings_parquet(path: str, emb: dict) -> None:
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(emb["vec_id"], pa.int64()),
                "label": pa.array(emb["label"], pa.int64()),
                "embedding": pa.ListArray.from_arrays(
                    np.arange(0, emb["vecs"].size + 1, emb["vecs"].shape[1], dtype=np.int32),
                    pa.array(emb["vecs"].ravel(), pa.float64()),
                ),
            }
        ),
        path,
    )


def search_steps(seed: int, n: int, emb: dict) -> list[tuple]:
    """A seeded sequence of search steps, each one BM25 request (a head
    term plus a tail term) and one IVF-PQ re-rank request (a fresh query
    vector from the blobs): (terms, q_id, qv)."""
    rng = np.random.default_rng(seed + 11)
    vocab, _ = _vocab(VOCAB_SIZE)
    dim = emb["vecs"].shape[1]
    out = []
    for i in range(n):
        terms = [vocab[int(rng.integers(0, 20))], vocab[int(rng.integers(200, 2000))]]
        base = emb["queries"][int(rng.integers(0, len(emb["queries"])))]
        qv = [float(x) for x in base + 0.2 * rng.normal(size=dim)]
        out.append((terms, 2 * 10**9 + i, qv))
    return out
