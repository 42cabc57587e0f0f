"""Output checks. They run after the timed pass and are never timed.

- Migration: every table read back from the JDBC target, cast to the
  source's types (CHAR(n) values rtrimmed, since the target pads them),
  must hold exactly the source's multiset of rows.
- Curation: every query's output digest must equal the digest of its
  DuckDB oracle (``sparksync.queries.ORACLES``) over the same inputs.
  The digest is the correctness gate's value hash: rows as sorted tuples
  over the lowercased, name-sorted columns. Oracle digests are cached
  per (workload, seed, oracle text), so each seed pays for them once.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os
import re

from inputs import CHAR_COLS, GENERATOR_VERSION


# ---------------------------------------------------------------- digests


def _norm(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, decimal.Decimal):
        return ("d", str(v))
    if isinstance(v, float):
        return ("f", float(v))
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return ("i", int(v))
    if isinstance(v, datetime.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, datetime.date):
        return ("ts", v.isoformat() + "T00:00:00")
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def value_hash(columns: list[str], rows: list[tuple]) -> str:
    names = [c.lower() for c in columns]
    order = sorted(range(len(names)), key=lambda i: names[i])
    normed = sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)
    return hashlib.sha256(repr(normed).encode()).hexdigest()[:16]


# ---------------------------------------------------------------- oracles


def materialized(sql: str) -> str:
    """`sql` with each CTE that starts a line marked MATERIALIZED.

    DuckDB 1.0 inlines a CTE at every reference, also inside each step of
    a recursive CTE: q199's closure re-ran its shingle self-join per step
    and took 18-20 s at the curation workload's size, against 0.5 s with
    the CTEs materialized (4-core VM). Materializing changes how an oracle
    is evaluated, not what it returns; test_smoke checks that the digests
    agree."""
    return re.sub(r"(?m)^(\w+) as \(", r"\1 as materialized (", sql)


def duckdb_connect(data_dir: str, tmp_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("set threads = 4")
    con.execute(f"set temp_directory = '{tmp_dir}'")
    for t in ("documents", "embeddings"):
        con.execute(f"create view {t} as select * from '{data_dir}/{t}.parquet'")
    return con


def oracle_digests(
    names: list[str], data_dir: str, cache_dir: str, tmp_dir: str, key: str
) -> dict[str, str]:
    """Oracle digest per query; cached under `cache_dir` by `key` and the
    oracle texts."""
    from sparksync.queries import ORACLES

    texts = {n: ORACLES[n] for n in names}
    tag = hashlib.sha256(
        json.dumps([GENERATOR_VERSION, texts], sort_keys=True).encode()
    ).hexdigest()[:12]
    path = os.path.join(cache_dir, f"oracle-{key}-{tag}.json")
    if os.path.exists(path):
        with open(path, encoding="utf-8") as fh:
            return json.load(fh)
    con = duckdb_connect(data_dir, tmp_dir)
    try:
        out = {}
        for n in names:
            cur = con.execute(materialized(texts[n]))
            out[n] = value_hash([d[0] for d in cur.description], cur.fetchall())
    finally:
        con.close()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(out, fh)
    os.replace(tmp, path)
    return out


# ---------------------------------------------------------------- JDBC


def table_matches(spark, src_dir: str, sink, table: str) -> bool:
    """Source rows == target rows read back, as multisets, in one
    aggregation: +1 per source row, -1 per target row, grouped by every
    column; any group with a non-zero sum is a difference."""
    from pyspark.sql import functions as F

    from sparksync.source import load_table

    src = load_table(spark, src_dir, table)
    dst = sink.read(table)
    cols = []
    for f in src.schema.fields:
        d = F.col(f.name).cast(f.dataType)
        s = F.col(f.name)
        if f.name in CHAR_COLS:
            d, s = F.rtrim(d), F.rtrim(s)
        cols.append((s.alias(f.name), d.alias(f.name)))
    both = src.select(F.lit(1).alias("_side"), *[s for s, _ in cols]).unionByName(
        dst.select(F.lit(-1).alias("_side"), *[d for _, d in cols])
    )
    diff = both.groupBy(*[f.name for f in src.schema.fields]).agg(F.sum("_side").alias("n"))
    return diff.where("n != 0").limit(1).count() == 0
