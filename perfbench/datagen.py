"""Seeded input generation.

Every input the benchmark feeds the engine is made here from the run's
seed, with numpy's PCG64, so the same seed gives byte-identical inputs and
the engine sees only the generated files.  Shapes follow the engine's
fixture schemas (FIXTURES.md): a TPC-H-like star schema at scale 0.1
(600k lineitem rows) and the ``documents`` / ``embeddings`` tables of the
LLM-data operators.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

_EPOCH_1992_MS = 694224000000  # 1992-01-01T00:00:00Z
_DAY_MS = 86_400_000

NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
    "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN",
    "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA",
    "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES",
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
TYPE_WORDS = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
METALS = ["TIN", "NICKEL", "BRASS", "STEEL", "COPPER"]
VOCAB = (
    "a the data spark table column row key value query join filter group "
    "sort scan hash merge window stream batch agg part line order customer "
    "vector fast slow big small"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per named input, so adding one input never
    shifts the values of another."""
    key = [int(seed)] + [ord(c) for c in stream]
    return np.random.Generator(np.random.PCG64(key))


def _strings(rng, choices, n) -> pa.Array:
    idx = pa.array(rng.integers(0, len(choices), n).astype(np.int32))
    return pa.DictionaryArray.from_arrays(idx, pa.array(choices)).cast(pa.string())


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(_EPOCH_1992_MS + days.astype(np.int64) * _DAY_MS,
                    type=pa.timestamp("ms"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch(seed: int, scale: float = 0.1) -> dict[str, pa.Table]:
    """region, nation, customer, part, orders, lineitem."""
    r = rng_for(seed, "tpch")
    n_cust, n_supp = int(150_000 * scale), int(10_000 * scale)
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array(NATIONS),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    ck = np.arange(1, n_cust + 1, dtype=np.int64)
    customer = pa.table({
        "c_custkey": ck,
        "c_name": pa.array([f"Customer#{k:09d}" for k in ck]),
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": _strings(r, SEGMENTS, n_cust),
    })
    pk = np.arange(1, n_part + 1, dtype=np.int64)
    types = [f"{a} {b}" for a in TYPE_WORDS for b in METALS]
    price = np.round(900 + (pk % 1000) + rng_for(seed, "price").uniform(0, 100, n_part), 2)
    part = pa.table({
        "p_partkey": pk,
        "p_name": pa.array([f"part {k}" for k in pk]),
        "p_brand": _strings(r, [f"Brand#{i}{j}" for i in range(1, 6) for j in range(1, 6)], n_part),
        "p_type": _strings(r, types, n_part),
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": price,
    })
    ok = np.arange(1, n_ord + 1, dtype=np.int64)
    odays = r.integers(0, 2405, n_ord)
    lines = r.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_ok = np.repeat(ok, lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_ln = (np.arange(n_li) - starts + 1).astype(np.int32)
    l_pk = r.integers(1, n_part + 1, n_li).astype(np.int64)
    qty = r.integers(1, 51, n_li).astype(np.float64)
    ext = np.round(qty * price[l_pk - 1], 2)
    disc = r.integers(0, 11, n_li) / 100.0
    ship = np.repeat(odays, lines) + r.integers(1, 122, n_li)
    status = np.where(ship > 1260, "O", "F")
    lineitem = pa.table({
        "l_orderkey": l_ok,
        "l_partkey": l_pk,
        "l_suppkey": r.integers(1, n_supp + 1, n_li).astype(np.int64),
        "l_linenumber": l_ln,
        "l_quantity": qty,
        "l_extendedprice": ext,
        "l_discount": disc,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pa.array(np.where(status == "F", np.array(["A", "R"])[r.integers(0, 2, n_li)], "N")),
        "l_linestatus": pa.array(status),
        "l_shipdate": _ts(ship),
    })
    tot = np.zeros(n_ord)
    np.add.at(tot, l_ok - 1, ext * (1 - disc))
    orders = pa.table({
        "o_orderkey": ok,
        "o_custkey": r.integers(1, n_cust + 1, n_ord).astype(np.int64),
        "o_orderstatus": _strings(r, ["F", "O", "P"], n_ord),
        "o_totalprice": np.round(tot, 2),
        "o_orderdate": _ts(odays),
        "o_orderpriority": _strings(r, PRIORITIES, n_ord),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "part": part, "orders": orders,
        "lineitem": lineitem,
    }


def documents(seed: int, n: int, first_id: int = 0) -> pa.Table:
    """Word-salad documents over the fixture vocabulary, with planted exact
    copies (~3%) and near copies (~8%: one word changed or a short tail
    appended) of earlier documents."""
    r = rng_for(seed, f"documents{first_id}")
    texts: list[str] = []
    for i in range(n):
        u = r.random()
        if i > 10 and u < 0.03:
            texts.append(texts[int(r.integers(0, i))])
        elif i > 10 and u < 0.11:
            words = texts[int(r.integers(0, i))].split()
            if r.random() < 0.5:
                words[int(r.integers(0, len(words)))] = VOCAB[int(r.integers(0, len(VOCAB)))]
            else:
                words += [VOCAB[int(k)] for k in r.integers(0, len(VOCAB), 3)]
            texts.append(" ".join(words))
        else:
            k = int(r.integers(8, 96))
            texts.append(" ".join(VOCAB[int(j)] for j in r.integers(0, len(VOCAB), k)))
    return pa.table({
        "doc_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "text": pa.array(texts),
        "lang": _strings(r, LANGS, n),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(seed: int, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    """Label-clustered float vectors; ~5% are near copies of an earlier
    vector (the semantic-dedup target)."""
    r = rng_for(seed, "embeddings")
    centers = r.normal(0, 1, (labels, dim))
    lab = r.integers(0, labels, n)
    vec = centers[lab] + r.normal(0, 1.2, (n, dim))
    for i in np.nonzero(r.random(n) < 0.05)[0]:
        if i:
            j = int(r.integers(0, i))
            vec[i] = vec[j] + r.normal(0, 0.02, dim)
            lab[i] = lab[j]
    vec = vec.astype(np.float32)
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, pa.array(vec.ravel())),
        "label": lab.astype(np.int32),
    })
