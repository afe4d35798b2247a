"""Seeded input generator for the benchmark.

Everything the engine reads is made here from one integer seed: a
TPC-H-shaped star schema (plus ``events``, ``documents`` and
``embeddings``) written as parquet, the per-cycle deltas the ETL
workload appends, the corpus with planted duplicates, and the query
workload's request pool. The same seed gives byte-identical inputs;
sizes are fixed so that run time does not depend on the seed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts of the generated source tables (TPC-H sf0.01 shape).
SIZES = {
    "customer": 1_500,
    "supplier": 325,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 2_000,
    "embeddings": 4_000,
}
EMBED_DIM = 64
EMBED_CLUSTERS = 32

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["blue", "small", "red", "green", "large", "steel", "tiny", "dark"]
PART_NOUNS = ["anvil", "widget", "gear", "bolt", "ring", "valve", "lever", "spring"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]

DAY0 = datetime(1995, 1, 1)


def _rng(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per named stream, so adding a table
    never shifts another table's values."""
    return np.random.default_rng([seed, *stream.encode()])


def _vocab(n: int) -> np.ndarray:
    """Pronounceable synthetic words: a fixed, seed-independent list."""
    cons, vow = "bcdfghjklmnprstvz", "aeiou"
    words = []
    for i in range(n):
        w, j = "", i + 7
        for _ in range(3):
            w += cons[j % len(cons)] + vow[(j // len(cons)) % len(vow)]
            j //= len(cons) * len(vow)
        words.append(w + cons[i % len(cons)])
    return np.array(sorted(set(words)))


VOCAB = _vocab(3000)


def _texts(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    lens = rng.integers(lo, hi, n)
    idx = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[idx[pos:pos + ln]]))
        pos += ln
    return out


def _counted(rng, n: int, labels: list) -> pa.Array:
    """``n`` labels with pairwise distinct counts (label j of a seeded
    shuffle gets a share proportional to j + 1), in seeded order. Ranking
    questions ("which source has the most documents") then have a single
    right answer."""
    k = len(labels)
    counts = [n * (j + 1) // (k * (k + 1) // 2) for j in range(k)]
    counts[-1] += n - sum(counts)
    order = rng.permutation(k)
    vals = np.repeat(np.array(labels, dtype=object)[order], counts)
    return pa.array(rng.permutation(vals).tolist())


def _distinct(rng, n: int, lo: float, hi: float) -> np.ndarray:
    """``n`` values in [lo, hi) at cent resolution, no two equal."""
    step = (hi - lo) / n
    return np.round(lo + (rng.permutation(n) + rng.uniform(0, 0.9, n)) * step, 2)


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _dates(rng, n: int, days: int) -> pa.Array:
    offs = rng.integers(0, days, n)
    return pa.array([DAY0 + timedelta(days=int(d)) for d in offs], pa.timestamp("us"))


def customer_rows(rng, keys: np.ndarray) -> dict:
    n = len(keys)
    return {
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n)]),
    }


def order_rows(rng, keys: np.ndarray, n_cust: int) -> dict:
    n = len(keys)
    return {
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": pa.array(np.array(STATUSES)[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n), 2)),
        "o_orderdate": _dates(rng, n, 2400),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)]),
    }


def write_star_schema(root: str, seed: int) -> dict[str, int]:
    """Write the ten source tables as ``<root>/<table>.parquet/part-0.parquet``
    (a directory per table, so deltas can be appended as more files).
    Returns the row count per table."""
    tables: dict[str, dict] = {}
    tables["region"] = {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    }
    r = _rng(seed, "nation")
    tables["nation"] = {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(r.integers(0, 5, 25), pa.int32()),
    }
    r = _rng(seed, "customer")
    nc = SIZES["customer"]
    tables["customer"] = customer_rows(r, np.arange(nc))
    tables["customer"]["c_nationkey"] = pa.array(
        _counted(r, nc, list(range(25))).to_pylist(), pa.int32())
    tables["customer"]["c_mktsegment"] = _counted(r, nc, SEGMENTS)
    r = _rng(seed, "supplier")
    ns = SIZES["supplier"]
    tables["supplier"] = {
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(ns)]),
        "s_nationkey": pa.array(_counted(r, ns, list(range(25))).to_pylist(), pa.int32()),
        "s_acctbal": pa.array(np.round(r.uniform(-999, 9999, ns), 2)),
    }
    r = _rng(seed, "part")
    npart = SIZES["part"]
    tables["part"] = {
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": pa.array([
            f"{PART_WORDS[a]} {PART_NOUNS[b]}"
            for a, b in zip(r.integers(0, 8, npart), r.integers(0, 8, npart))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, npart)]),
        "p_type": pa.array(np.array(PART_TYPES)[r.integers(0, 6, npart)]),
        "p_size": pa.array(r.integers(1, 51, npart), pa.int32()),
        "p_retailprice": pa.array(_distinct(r, npart, 900, 1000)),
    }
    r = _rng(seed, "orders")
    no = SIZES["orders"]
    orders = order_rows(r, np.arange(no), nc)
    # every customer places the same number of orders, so orders per
    # nation follow the (distinct) customers per nation
    orders["o_custkey"] = pa.array(r.permutation(np.arange(no) % nc), pa.int64())
    orders["o_orderstatus"] = _counted(r, no, STATUSES)
    orders["o_totalprice"] = pa.array(_distinct(r, no, 1000, 500000))
    tables["orders"] = orders
    r = _rng(seed, "lineitem")
    nl = SIZES["lineitem"]
    qty = r.integers(1, 51, nl).astype(float)
    tables["lineitem"] = {
        "l_orderkey": pa.array(r.integers(0, SIZES["orders"], nl), pa.int64()),
        "l_partkey": pa.array(_part_keys(r, nl, npart), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, nl), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * r.uniform(900, 2100, nl), 2)),
        "l_discount": pa.array(r.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, nl) / 100.0),
        "l_returnflag": _counted(r, nl, ["A", "N", "R"]),
        "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, nl)]),
        "l_shipdate": _dates(r, nl, 2500),
    }
    r = _rng(seed, "events")
    ne = SIZES["events"]
    t0 = datetime(2024, 1, 1)
    secs = np.sort(r.uniform(0, 30 * 86400, ne))
    tables["events"] = {
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(
            [t0 + timedelta(microseconds=int(s * 1e6)) for s in secs],
            pa.timestamp("us"),
        ),
        "user_id": pa.array(r.integers(0, 150, ne), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[r.integers(0, 5, ne)]),
        "value": pa.array(np.round(r.uniform(0.01, 490, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, ne)]),
    }
    r = _rng(seed, "documents")
    nd = SIZES["documents"]
    texts = _texts(r, nd, 12, 60)
    tables["documents"] = {
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": pa.array(texts),
        "lang": _counted(r, nd, LANGS),
        "source": _counted(r, nd, [f"src{s}" for s in range(20)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }
    vecs, labels = embeddings(seed)
    tables["embeddings"] = {
        "vec_id": pa.array(range(len(vecs)), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }
    for name, cols in tables.items():
        _write(pa.table(cols), os.path.join(root, f"{name}.parquet", "part-0.parquet"))
    return {name: len(next(iter(cols.values()))) for name, cols in tables.items()}


def _part_keys(rng, n: int, npart: int) -> np.ndarray:
    """Uniform part keys plus four hot parts with 400/300/200/100 extra
    line items, so the most-ordered parts are unambiguous."""
    hot = rng.choice(npart, 4, replace=False)
    extra = np.repeat(hot, [400, 300, 200, 100])
    keys = np.concatenate([rng.integers(0, npart, n - len(extra)), extra])
    return rng.permutation(keys)


def embeddings(seed: int, n: int | None = None) -> tuple[np.ndarray, np.ndarray]:
    """Clustered unit-ish float32 vectors: ``EMBED_CLUSTERS`` Gaussian
    blobs, the shape an encoder's output has and IVF is built for."""
    r = _rng(seed, "embeddings")
    n = n or SIZES["embeddings"]
    centers = r.normal(size=(EMBED_CLUSTERS, EMBED_DIM))
    labels = r.integers(0, EMBED_CLUSTERS, n)
    vecs = centers[labels] + 0.6 * r.normal(size=(n, EMBED_DIM))
    return vecs.astype(np.float32), labels


def query_vectors(seed: int, step: int, n: int) -> np.ndarray:
    """Search-request query vectors near the corpus clusters."""
    r = _rng(seed, f"qvec{step}")
    base, _ = embeddings(seed)
    pick = base[r.integers(0, len(base), n)].astype(np.float64)
    return (pick + 0.3 * r.normal(size=pick.shape)).astype(np.float32)


def query_texts(seed: int, step: int, n: int) -> list[str]:
    """BM25 request texts: a few words drawn from the documents' vocabulary."""
    return _texts(_rng(seed, f"qtext{step}"), n, 2, 5)


# -- ETL deltas ---------------------------------------------------------------


@dataclass
class Delta:
    """One incremental cycle's appended source rows and what was planted."""

    orders: int
    customers: int
    #: o_orderkey of every planted expectation violator
    violators: list[int] = field(default_factory=list)


def append_delta(root: str, seed: int, cycle: int, next_order: int,
                 next_cust: int) -> Delta:
    """Append ~1% new orders and customers above the current max keys,
    as new part files in the source table directories. A handful of the
    new orders break the pipeline's expectations (negative price, an
    unknown status, a null order date); some new customers carry
    untrimmed or null values for the cleaning stage."""
    r = _rng(seed, f"delta{cycle}")
    n_cust = SIZES["customer"] // 100
    n_ord = SIZES["orders"] // 100
    ckeys = np.arange(next_cust, next_cust + n_cust)
    cust = customer_rows(r, ckeys)
    seg = cust["c_mktsegment"].to_pylist()
    bal = cust["c_acctbal"].to_pylist()
    names = cust["c_name"].to_pylist()
    for i in range(0, n_cust, 3):
        seg[i] = f"  {seg[i]} "
    for i in range(1, n_cust, 5):
        bal[i] = None
    for i in range(2, n_cust, 7):
        names[i] = None
    cust.update(
        c_mktsegment=pa.array(seg), c_acctbal=pa.array(bal, pa.float64()),
        c_name=pa.array(names, pa.string()),
    )
    okeys = np.arange(next_order, next_order + n_ord)
    orders = order_rows(r, okeys, next_cust + n_cust)
    price = orders["o_totalprice"].to_pylist()
    status = orders["o_orderstatus"].to_pylist()
    odate = orders["o_orderdate"].to_pylist()
    # spread over the delta so the violators hit different customers
    bad = r.choice(n_ord, 6, replace=False)
    price[bad[0]] = -price[bad[0]]
    price[bad[1]] = -1.0
    status[bad[2]] = "X"
    status[bad[3]] = "Q"
    odate[bad[4]] = None
    odate[bad[5]] = None
    orders.update(
        o_totalprice=pa.array(price), o_orderstatus=pa.array(status),
        o_orderdate=pa.array(odate, pa.timestamp("us")),
    )
    part = f"part-{cycle + 1}.parquet"
    _write(pa.table(cust), os.path.join(root, "customer.parquet", part))
    _write(pa.table(orders), os.path.join(root, "orders.parquet", part))
    return Delta(n_ord, n_cust, sorted(int(okeys[i]) for i in bad))


def drop_deltas(root: str) -> None:
    """Return the source directories to their base state."""
    for table in ("customer", "orders"):
        d = os.path.join(root, f"{table}.parquet")
        for f in os.listdir(d):
            if f != "part-0.parquet":
                os.remove(os.path.join(d, f))


# -- corpus ----------------------------------------------------------------------


@dataclass
class Corpus:
    table: pa.Table
    base: int
    exact_dups: int
    near_dups: int
    pii_docs: int


def make_corpus(seed: int, base: int, exact: int, near: int) -> Corpus:
    """``base`` distinct documents, then ``exact`` verbatim copies and
    ``near`` one-word-edited copies of other, distinct base documents.
    Every copy gets an id above all base ids, so keep-min dedup keeps
    the original. Some documents carry an e-mail address or phone
    number for the PII scrub."""
    r = _rng(seed, "corpus")
    texts = _texts(r, base, 40, 120)
    pii = r.choice(base, base // 10, replace=False)
    for i in pii:
        w = texts[i].split(" ")
        w.insert(len(w) // 2, f"{VOCAB[i % len(VOCAB)]}{i}@example.com"
                 if i % 2 else f"555-{i % 1000:03d}-{(i * 7) % 10000:04d}")
        texts[i] = " ".join(w)
    src = r.choice(base, exact + near, replace=False)
    copies = [texts[i] for i in src[:exact]]
    for i in src[exact:]:
        w = texts[i].split(" ")
        w[-1] = VOCAB[(r.integers(len(VOCAB)))] + "x"
        copies.append(" ".join(w))
    all_texts = texts + copies
    n = len(all_texts)
    table = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "source": pa.array([f"src{s}" for s in r.integers(0, 20, n)]),
        "text": pa.array(all_texts),
    })
    return Corpus(table, base, exact, near, len(pii))
