"""The benchmark's own tests: seeded generators, output checkers and the
metric schema. No Spark session is needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sqlite3

from perfbench import checks, gen, metrics
from perfbench.workloads import error_rate

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _write_all(d: str, seed: int) -> list[str]:
    cols = gen.files_rows(seed, 500)
    gen.write_files_parquet(f"{d}/files.parquet", cols)
    rows, _ = gen.resume_target_rows(seed, gen.expected_target_rows(cols))
    gen.create_target(f"{d}/target.db", rows)
    gen.write_corpus_parquet(f"{d}/docs.parquet", gen.neardup_corpus(seed, 200))
    emb = gen.clustered_embeddings(seed, 100, 8)
    gen.write_embeddings_parquet(f"{d}/emb.parquet", emb)
    with open(f"{d}/requests.json", "w") as f:
        json.dump(gen.search_steps(seed, 40, emb), f)
    return sorted(os.listdir(d))


def test_generators_are_deterministic(tmp_path):
    a, b, c = (tmp_path / n for n in "abc")
    for d in (a, b, c):
        d.mkdir()
    names = _write_all(str(a), 5)
    assert _write_all(str(b), 5) == names
    _write_all(str(c), 6)
    for n in names:
        assert _digest(f"{a}/{n}") == _digest(f"{b}/{n}"), n
    assert _digest(f"{a}/files.parquet") != _digest(f"{c}/files.parquet")


def test_generated_source_has_nulls_and_duplicates():
    cols = gen.files_rows(3, 1000)
    assert len(cols["id"]) - len(set(cols["id"])) == 10
    for c in gen.STRING_SANITIZED + ["modified"]:
        assert any(v is None for v in cols[c]), c


def test_planted_chains_share_clusters():
    corpus = gen.neardup_corpus(3, 400)
    pairs = checks.lsh_pairs(list(zip(corpus["doc_id"], corpus["text"])))
    planted = sum(1 for a, b in pairs if corpus["cluster"][a] == corpus["cluster"][b])
    assert pairs and planted / len(pairs) > 0.9


def _migrated_target(tmp_path, seed=4):
    cols = gen.files_rows(seed, 300)
    src = str(tmp_path / "files.parquet")
    gen.write_files_parquet(src, cols)
    db = str(tmp_path / "target.db")
    gen.create_target(db, list(gen.expected_target_rows(cols).values()))
    con = sqlite3.connect(db)
    con.execute(
        "CREATE TABLE snapshot_validation (table_name TEXT, source_count INT,"
        " target_count INT, diff INT, status TEXT)"
    )
    con.execute("INSERT INTO snapshot_validation VALUES ('files', 300, 300, 0, 'OK')")
    con.commit()
    con.close()
    return src, db


def test_snapshot_checker_flags_one_corrupted_row(tmp_path):
    src, db = _migrated_target(tmp_path)
    expected = checks.snapshot_expected(src)
    good = {"problems": checks.check_target(db, expected)}
    assert good["problems"] == []
    con = sqlite3.connect(db)
    con.execute("UPDATE files SET name = name || 'x' WHERE id = 7")
    con.commit()
    con.close()
    bad = {"problems": checks.check_target(db, expected)}
    assert bad["problems"]
    assert error_rate([good, bad]) == 0.5


def test_snapshot_checker_flags_mismatch_verdict(tmp_path):
    src, db = _migrated_target(tmp_path)
    con = sqlite3.connect(db)
    con.execute("INSERT INTO snapshot_validation VALUES ('files', 300, 299, 1, 'MISMATCH')")
    con.commit()
    con.close()
    assert checks.check_target(db, checks.snapshot_expected(src))


def test_keep_checker_flags_one_corrupted_row():
    corpus = gen.neardup_corpus(8, 300)
    docs = list(zip(corpus["doc_id"], corpus["text"], corpus["quality"]))
    expected = checks.expected_keep(docs, checks.lsh_pairs([(d, t) for d, t, _ in docs]))
    rows = [(d, c, k, keep) for d, (c, k, keep) in expected.items()]
    assert checks.check_keep(rows, expected) == []
    dropped = next(i for i, r in enumerate(rows) if not r[3])
    rows[dropped] = rows[dropped][:3] + (True,)
    assert checks.check_keep(rows, expected)


def test_rerank_checker_flags_a_wrong_score():
    emb = gen.clustered_embeddings(2, 200, 8)
    qv = [float(x) for x in emb["queries"][0]]
    top = checks.exact_topk(emb["queries"][:1], emb["vecs"], 10)[0]
    import numpy as np

    vecs = emb["vecs"]
    sims = (vecs[top] / np.linalg.norm(vecs[top], axis=1, keepdims=True)) @ (
        np.asarray(qv) / np.linalg.norm(qv)
    )
    rows = [(n, round(float(s), 6), i + 1) for i, (n, s) in enumerate(zip(top, sims))]
    assert checks.check_rerank(rows, qv, vecs, 10) == []
    rows[3] = (rows[3][0], rows[3][1] + 0.01, rows[3][2])
    assert checks.check_rerank(rows, qv, vecs, 10)


def test_benchmark_json_matches_schema():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        assert json.load(f) == metrics.benchmark_json()


def test_layer_targets_name_real_metrics_and_workloads():
    for name, (_u, better, layer, moves, on) in metrics.PER_LAYER.items():
        assert better in ("lower", "higher"), name
        assert moves in metrics.END_TO_END, name
        assert set(on) <= set(metrics.WORKLOADS), name
        assert layer, name
    assert "setup_s" in metrics.END_TO_END
    assert max(b for _u, _b, b in metrics.END_TO_END.values()) == metrics.END_TO_END["setup_s"][2]
