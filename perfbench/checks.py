"""Output checks, run after the timed region. Each check returns a list of
problems; an empty list means the output is correct.

The references are independent of the engine: DuckDB evaluates the
snapshot's sanitize/dedup and the BM25 top-k, plain Python re-derives the
LSH -> components -> keep chain, and NumPy gives exact cosine neighbours.
"""

from __future__ import annotations

import hashlib
import sqlite3

import duckdb
import numpy as np

from perfbench.gen import STRING_SANITIZED, TARGET_COLS, TS_DEFAULT


def _duck() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    return con


def snapshot_expected(source_parquet: str) -> set[tuple]:
    """DuckDB evaluation of rename -> NULL-sanitize -> key dedup (survivor
    by modified, name, fid) over the source parquet."""
    sel = []
    for c in TARGET_COLS:
        src = "id" if c == "file_id" else c
        if c in STRING_SANITIZED:
            sel.append(f"coalesce({src}, '') AS {c}")
        elif c == "modified":
            sel.append(
                "strftime(coalesce(CAST(modified AS TIMESTAMP),"
                f" TIMESTAMP '{TS_DEFAULT}'), '%Y-%m-%d %H:%M:%S') AS modified"
            )
        else:
            sel.append(f"{src} AS {c}")
    cols = ", ".join(TARGET_COLS)
    sql = f"""
    WITH s AS (SELECT {', '.join(sel)} FROM read_parquet('{source_parquet}')),
    r AS (SELECT *, row_number() OVER (PARTITION BY file_id
                 ORDER BY modified, name, fid) AS rn FROM s)
    SELECT {cols} FROM r WHERE rn = 1
    """
    con = _duck()
    try:
        return set(con.execute(sql).fetchall())
    finally:
        con.close()


def check_target(db: str, expected: set[tuple]) -> list[str]:
    """The target's rows equal the expectation, and the last validation
    verdict reads OK with diff 0."""
    con = sqlite3.connect(db)
    try:
        got = con.execute(f"SELECT {', '.join(TARGET_COLS)} FROM files").fetchall()
        verdict = con.execute(
            "SELECT diff, status FROM snapshot_validation ORDER BY rowid DESC LIMIT 1"
        ).fetchone()
    finally:
        con.close()
    problems = []
    got_set = set(got)
    if len(got) != len(got_set):
        problems.append(f"{len(got) - len(got_set)} duplicate target rows")
    if got_set != expected:
        problems.append(
            f"target differs: {len(expected - got_set)} rows missing,"
            f" {len(got_set - expected)} unexpected"
        )
    if verdict != (0, "OK"):
        problems.append(f"validation verdict {verdict}")
    return problems


def wal_counts(db: str) -> tuple[int, int]:
    """(COMMITTED batches, rows in them) from the sink's WAL."""
    con = sqlite3.connect(db)
    try:
        n, rows = con.execute(
            "SELECT count(*), coalesce(sum(n_rows), 0) FROM snapshot_wal"
            " WHERE status = 'COMMITTED'"
        ).fetchone()
    finally:
        con.close()
    return int(n), int(rows)


# --- near-duplicate curation -------------------------------------------------


def _shingles(text: str, k: int) -> set[str]:
    toks = text.strip().split()
    if len(toks) < k:
        return set()
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def lsh_pairs(
    docs: list[tuple[int, str]], k: int = 3, n_hashes: int = 8, band_size: int = 2
) -> set[tuple[int, int]]:
    """MinHash LSH candidate pairs as the engine defines them: lane h of a
    shingle is the h-th 16-bit half-word of its md5, the signature is the
    per-lane minimum, and a pair is a candidate when any band agrees."""
    buckets: dict[tuple[int, tuple], list[int]] = {}
    for doc_id, text in docs:
        sh = _shingles(text, k)
        if not sh:
            continue
        sig = [None] * n_hashes
        for s in sh:
            m = hashlib.md5(s.encode()).hexdigest()
            for h in range(n_hashes):
                word = int(m[(h // 2) * 8 : (h // 2) * 8 + 8], 16)
                lane = word >> 16 if h % 2 == 0 else word & 0xFFFF
                if sig[h] is None or lane < sig[h]:
                    sig[h] = lane
        for b in range(n_hashes // band_size):
            key = tuple(sig[b * band_size : (b + 1) * band_size])
            buckets.setdefault((b, key), []).append(doc_id)
    pairs = set()
    for ids in buckets.values():
        ids = sorted(set(ids))
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                pairs.add((a, b))
    return pairs


def expected_keep(
    docs: list[tuple[int, str, int]], pairs: set[tuple[int, int]]
) -> dict[int, tuple[int, int, bool]]:
    """doc_id -> (component, canonical_id, keep): union-find components
    (minimum id), canonical = highest quality, ties to the lowest id."""
    parent = {d: d for d, _, _ in docs}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    quality = {d: q for d, _, q in docs}
    members: dict[int, list[int]] = {}
    for d in parent:
        members.setdefault(find(d), []).append(d)
    out = {}
    for comp, ids in members.items():
        canon = min(ids, key=lambda d: (-quality[d], d))
        for d in ids:
            out[d] = (min(ids), canon, d == canon)
    return out


def check_keep(rows: list[tuple], expected: dict[int, tuple]) -> list[str]:
    """rows: (doc_id, component, canonical_id, keep) from the engine."""
    got = {int(d): (int(c), int(k), bool(keep)) for d, c, k, keep in rows}
    problems = []
    if len(got) != len(rows):
        problems.append("duplicate doc ids in keep/drop output")
    wrong = [d for d in expected if got.get(d) != expected[d]]
    extra = set(got) - set(expected)
    if wrong or extra:
        problems.append(f"keep/drop differs on {len(wrong)} docs, {len(extra)} extra")
    return problems


# --- search ------------------------------------------------------------------


class Bm25Oracle:
    """DuckDB top-k over the given documents of the corpus with the
    catalog's BM25 expression; they are tokenized once per oracle."""

    def __init__(self, corpus_parquet: str, doc_ids: list[int]) -> None:
        self.con = _duck()
        self.con.execute(
            "CREATE TABLE t AS SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks"
            f" FROM read_parquet('{corpus_parquet}')"
            " WHERE doc_id IN (SELECT unnest($1::BIGINT[]))",
            [doc_ids],
        )

    def close(self) -> None:
        self.con.close()

    def topk(self, terms: list[str], k: int) -> list[tuple]:
        from migrate_cassandra_to_mysql_spark.plans.textplans import _bm25_score_sql

        tf = ", ".join(
            f"CAST(len(list_filter(toks, x -> x = '{t}')) AS BIGINT) AS tf{i}"
            for i, t in enumerate(terms)
        )
        df = ", ".join(
            f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
            for i in range(len(terms))
        )
        hits = " + ".join(f"tf{i}" for i in range(len(terms)))
        return self.con.execute(
            f"""
            WITH d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, {tf} FROM t),
            s AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                         CAST(sum(dl) AS BIGINT) AS sum_dl, {df} FROM d)
            SELECT doc_id, CAST({hits} AS BIGINT) AS n_hits,
                   {_bm25_score_sql(len(terms))} AS bm25
            FROM d, s WHERE {hits} > 0
            ORDER BY bm25 DESC, doc_id LIMIT {k}
            """
        ).fetchall()


def check_bm25(got: list[tuple], expected: list[tuple]) -> list[str]:
    norm = lambda rows: [(int(d), int(h), round(float(s), 8)) for d, h, s in rows]  # noqa: E731
    return [] if norm(got) == norm(expected) else ["bm25 top-k differs from DuckDB"]


def _unit(x: np.ndarray) -> np.ndarray:
    return x / np.linalg.norm(x, axis=-1, keepdims=True)


def check_rerank(got: list[tuple], qv: list[float], vecs: np.ndarray, k: int) -> list[str]:
    """got: (n_id, cos_sim, rnk) for one query. Each score is the exact
    cosine of that pair (rounded to 6 dp) and the ranks follow the scores."""
    if len(got) != k:
        return [f"re-rank returned {len(got)} rows, wanted {k}"]
    got = sorted(got, key=lambda r: r[2])
    exact = _unit(vecs[[int(r[0]) for r in got]]) @ _unit(np.asarray(qv))
    if np.max(np.abs(exact - np.array([r[1] for r in got]))) > 2e-6:
        return ["re-rank score is not the exact cosine"]
    order = [(-r[1], r[0]) for r in got]
    return [] if order == sorted(order) else ["re-rank order broken"]


def exact_topk(queries: np.ndarray, vecs: np.ndarray, k: int) -> list[list[int]]:
    """Brute-force cosine top-k, scores rounded to 6 dp, ties to the lower id."""
    sims = np.round(_unit(queries) @ _unit(vecs).T, 6)
    ids = np.arange(vecs.shape[0])
    return [list(np.lexsort((ids, -row))[:k]) for row in sims]


def recall_at_k(got: dict[int, list[int]], truth: list[list[int]], q_ids) -> float:
    hits = sum(len(set(got.get(int(q), [])) & set(t)) for q, t in zip(q_ids, truth))
    return hits / sum(len(t) for t in truth)
