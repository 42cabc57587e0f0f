"""Seeded benchmark inputs.

Every table is built in two steps:

1. A fixed *base* table set, made by a deterministic generator whose own
   seed never changes: a TPC-H-shaped star schema (the seven tables the
   migration path moves) and an LLM corpus (`documents`, `embeddings`)
   shaped like the engine's test fixtures — random sentences over a
   30-word vocabulary, 5% of documents near-duplicates of an earlier one
   (`<text> dup `), 64-dim float embeddings clustered by label.
2. Seed-keyed bijections applied to the base. They move hash-bucket
   placement, key values and row order but keep every size, every pair
   structure and every value a query filters on, so the work of a pass
   is the same for every seed:

   - corpus, per replica r: every token gets a replica prefix
     (``<tag><r>_``, `tag` from the seed), ids are offset by
     ``slot(r) * n`` where `slot` is a seed-keyed permutation of the
     replicas (one replica always holds ids ``0..n-1``, which the PQ
     queries and the centroid seeding key on), and the 64 embedding dims
     are permuted. `source`, `lang` and `label` are kept, so the `src0`
     benchmark slice survives replication. A token bijection keeps
     Jaccard and shingle structure inside a replica; distinct prefixes
     make cross-replica near-duplicates impossible.
   - star schema: one seed-keyed offset added to every key column, on
     the primary and the foreign side alike, and a seeded row order.

Only numpy and pyarrow are used here, so inputs exist before Spark
starts and their cost stays out of every timed figure.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when the generator changes, so cached oracle digests go stale
GENERATOR_VERSION = 1

_BASE_SEED = 20240601

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.3, 0.175, 0.175, 0.175, 0.175]
N_SOURCES = 20
DIM = 64
N_LABELS = 10

#: star-schema rows per unit of scale factor (TPC-H proportions)
STAR_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000, "orders": 1_500_000}
#: key columns shifted by the seed's key offset
KEY_COLS = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey", "n_regionkey"],
    "customer": ["c_custkey", "c_nationkey"],
    "supplier": ["s_suppkey", "s_nationkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
}
#: CHAR(n) columns on the source catalog's side (Derby pads them)
CHAR_COLS = {"c_mktsegment", "p_brand", "o_orderstatus", "l_returnflag", "l_linestatus"}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
    "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
    "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA",
    "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES",
]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
_MATERIALS = ["TIN", "NICKEL", "BRASS", "STEEL", "COPPER"]
_EPOCH_1992_MS = 694_224_000_000
_DAY_MS = 86_400_000


def seed_int(seed: int, label: str, mod: int) -> int:
    """A stable integer in [0, mod) keyed by (seed, label)."""
    digest = hashlib.sha256(f"perfbench:{seed}:{label}".encode()).digest()
    return int.from_bytes(digest[:8], "big") % mod


def _rng(seed: int, label: str) -> np.random.Generator:
    return np.random.default_rng(seed_int(seed, label, 2**63))


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    # whole cents, so NUMBER(12,2) round-trips the double exactly
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> list[str]:
    return [values[i] for i in rng.integers(0, len(values), n)]


# --------------------------------------------------------------------------
# star schema
# --------------------------------------------------------------------------


def base_star(sf: float, gen_seed: int = _BASE_SEED) -> dict[str, dict]:
    """Column dicts of the seven star tables at scale factor `sf`."""
    rng = _rng(gen_seed, "star")
    n_cust, n_supp, n_part, n_ord = (max(1, int(STAR_ROWS[t] * sf)) for t in
                                     ("customer", "supplier", "part", "orders"))
    t = {}
    t["region"] = {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": list(_REGIONS),
    }
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": list(_NATIONS),
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }
    t["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [" ".join(_pick(rng, VOCAB, 3)) for _ in range(n_part)],
        "p_brand": [f"Brand#{a}{b}" for a, b in rng.integers(1, 6, (n_part, 2))],
        "p_type": [f"{x} {y}" for x, y in zip(_pick(rng, _TYPES, n_part),
                                               _pick(rng, _MATERIALS, n_part))],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": _money(rng, 900.0, 2100.0, n_part),
    }
    o_dates = _EPOCH_1992_MS + rng.integers(0, 2400, n_ord) * _DAY_MS
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 800.0, 500_000.0, n_ord),
        "o_orderdate": o_dates,
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    }
    # like the engine's fixtures: four lines per order on average, each
    # with a uniform order key and line number, so (l_orderkey,
    # l_linenumber) repeats and the catalog's pk_lineitem cannot hold
    n_li = 4 * n_ord
    order_idx = rng.integers(0, n_ord, n_li)
    t["lineitem"] = {
        "l_orderkey": order_idx.astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 100_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["R", "A", "N"], n_li),
        "l_linestatus": _pick(rng, ["O", "F"], n_li),
        "l_shipdate": o_dates[order_idx] + rng.integers(1, 122, n_li) * _DAY_MS,
    }
    return t


_TS_COLS = {"o_orderdate", "l_shipdate"}


def write_star(out_dir: str, seed: int, sf: float, gen_seed: int = _BASE_SEED) -> dict[str, int]:
    """Base star tables at `sf`, shifted and shuffled by `seed`; returns
    the row count per table."""
    offset = 1000 * seed_int(seed, "key-offset", 1_000_000)
    rows = {}
    for name, cols in base_star(sf, gen_seed).items():
        n = len(next(iter(cols.values())))
        order = _rng(seed, f"row-order:{name}").permutation(n)
        arrays, fields = [], []
        for col, values in cols.items():
            if isinstance(values, list):
                arr = pa.array([values[i] for i in order], pa.string())
            elif col in _TS_COLS:
                arr = pa.array(values[order], pa.timestamp("ms"))
            else:
                v = values[order]
                if col in KEY_COLS[name]:
                    v = v + v.dtype.type(offset)
                arr = pa.array(v)
            arrays.append(arr)
            fields.append(col)
        _write(out_dir, name, pa.table(arrays, names=fields))
        rows[name] = n
    return rows


# --------------------------------------------------------------------------
# corpus
# --------------------------------------------------------------------------


def base_corpus(n_docs: int, n_vecs: int, gen_seed: int = _BASE_SEED) -> dict[str, dict]:
    rng = _rng(gen_seed, "corpus")
    texts, langs, sources = [], [], []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            j = int(rng.integers(0, i))
            texts.append(texts[j] + " dup ")
        else:
            n_tok = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[k] for k in rng.integers(0, len(VOCAB), n_tok)))
        langs.append(LANGS[int(rng.choice(len(LANGS), p=LANG_P))])
        sources.append(f"src{int(rng.integers(0, N_SOURCES))}")
    centers = rng.normal(0.0, 1.0, (N_LABELS, DIM))
    labels = rng.integers(0, N_LABELS, n_vecs)
    emb = centers[labels] * 0.3 + rng.normal(0.0, 0.15, (n_vecs, DIM))
    return {
        "documents": {"text": texts, "lang": langs, "source": sources},
        "embeddings": {"embedding": emb.astype(np.float32), "label": labels.astype(np.int32)},
    }


def _prefix_tokens(text: str, pfx: str) -> str:
    # splitting on ' ' keeps empty fields, so whitespace maps 1:1 and a
    # trailing space stays a trailing space
    return " ".join(pfx + tok if tok else tok for tok in text.split(" "))


def write_corpus(
    out_dir: str, seed: int, replicas: int, n_docs: int, n_vecs: int,
    gen_seed: int = _BASE_SEED,
) -> dict[str, int]:
    """`replicas` bijective copies of the base corpus, keyed by `seed`."""
    base = base_corpus(n_docs, n_vecs, gen_seed)
    docs, emb = base["documents"], base["embeddings"]
    tag = "".join(chr(97 + seed_int(seed, f"tag{i}", 26)) for i in range(3))
    slots = _rng(seed, "replica-slots").permutation(replicas)
    d_id, d_text, d_lang, d_src, e_id, e_vec, e_lab = [], [], [], [], [], [], []
    for r in range(replicas):
        off = int(slots[r]) * n_docs
        pfx = f"{tag}{r}_"
        d_id.append(np.arange(n_docs, dtype=np.int64) + off)
        d_text += [_prefix_tokens(t, pfx) for t in docs["text"]]
        d_lang += docs["lang"]
        d_src += docs["source"]
        perm = _rng(seed, f"dims:{r}").permutation(DIM)
        e_id.append(np.arange(n_vecs, dtype=np.int64) + off)
        e_vec.append(emb["embedding"][:, perm])
        e_lab.append(emb["label"])
    _write(out_dir, "documents", pa.table(
        {
            "doc_id": np.concatenate(d_id),
            "text": pa.array(d_text, pa.string()),
            "lang": pa.array(d_lang, pa.string()),
            "source": pa.array(d_src, pa.string()),
            "n_chars": np.array([len(t) for t in d_text], dtype=np.int64),
        }
    ))
    vecs = np.concatenate(e_vec)
    _write(out_dir, "embeddings", pa.table(
        {
            "vec_id": np.concatenate(e_id),
            "embedding": pa.FixedSizeListArray.from_arrays(vecs.reshape(-1), DIM).cast(
                pa.list_(pa.float32())
            ),
            "label": np.concatenate(e_lab),
        }
    ))
    return {"documents": len(d_text), "embeddings": len(vecs)}
