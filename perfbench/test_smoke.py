"""Smoke test of the benchmark harness on tiny seeded inputs.

    python3 -m pytest perfbench/test_smoke.py -q

The first three tests need no Spark and take seconds. The last two run
``run.py`` end to end (untraced, then traced) on a tiny input per
workload kind and take a few minutes.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import inputs  # noqa: E402


def _digest(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def _tables(d: str) -> dict[str, str]:
    return {f: _digest(os.path.join(d, f)) for f in sorted(os.listdir(d))}


def test_corpus_is_seeded_and_keeps_keyed_values(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    inputs.write_corpus(a, 3, 2, 60, 24)
    inputs.write_corpus(b, 3, 2, 60, 24)
    sizes = inputs.write_corpus(c, 4, 2, 60, 24)
    assert _tables(a) == _tables(b)
    assert _tables(a)["documents.parquet"] != _tables(c)["documents.parquet"]
    assert sizes == {"documents": 120, "embeddings": 48}
    con = duckdb.connect()
    for d in (a, c):
        ids = {r[0] for r in con.execute(f"select vec_id from '{d}/embeddings.parquet'").fetchall()}
        assert set(range(16)) <= ids  # centroid seeds, PQ codebook and query ids
        n_src0 = con.execute(
            f"select count(*) from '{d}/documents.parquet' where source = 'src0'"
        ).fetchone()[0]
        assert n_src0 > 0
    # the bijection keeps each replica's token structure
    lens = con.execute(
        f"select len(string_split(x.text, ' ')) = len(string_split(y.text, ' '))"
        f" from '{a}/documents.parquet' x join '{c}/documents.parquet' y using (doc_id)"
    ).fetchall()
    assert lens and all(r[0] for r in lens)


def test_star_offset_keeps_foreign_keys(tmp_path):
    d = str(tmp_path / "star")
    rows = inputs.write_star(d, 9, 0.001)
    assert rows["lineitem"] == 4 * rows["orders"]
    con = duckdb.connect()
    for child, col, parent, pk in [
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("nation", "n_regionkey", "region", "r_regionkey"),
    ]:
        orphans = con.execute(
            f"select count(*) from '{d}/{child}.parquet' where {col} not in"
            f" (select {pk} from '{d}/{parent}.parquet')"
        ).fetchone()[0]
        assert orphans == 0, (child, col)
    assert con.execute(f"select min(r_regionkey) from '{d}/region.parquet'").fetchone()[0] > 0


def test_materialized_oracles_equal_plain(tmp_path):
    from run import QUERY_LIST
    from sparksync.queries import ORACLES

    d = str(tmp_path / "corpus")
    inputs.write_corpus(d, 5, 2, 120, 24)
    con = checks.duckdb_connect(d, str(tmp_path))
    for name in QUERY_LIST:
        digests = set()
        for sql in (ORACLES[name], checks.materialized(ORACLES[name])):
            cur = con.execute(sql)
            digests.add(checks.value_hash([c[0] for c in cur.description], cur.fetchall()))
        assert len(digests) == 1, name
        assert checks.materialized(ORACLES[name]) != ORACLES[name]


def _run(workload: str, trace: int, scale: float) -> dict:
    res = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "5",
         "--seconds", "5", "--trace", str(trace), "--scale", str(scale)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=400,
    )
    assert res.returncode == 0
    return json.loads(res.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload,scale", [("migrate_jdbc", 0.1), ("curate_10x", 0.1)])
def test_harness_end_to_end(workload, scale):
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        out = _run(workload, trace, scale)
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
        assert list(out["metrics"]) == [m["name"] for m in bench[key]]
        for m in bench[key]:
            assert out["metrics"][m["name"]]["unit"] == m["unit"]
        if trace == 0:
            assert all(v["value"] > 0 for v in out["metrics"].values())
