"""Seeded benchmark inputs, generated without Spark.

Every generator takes the run's seed and returns plain numpy / pyarrow data:
the same seed gives byte-identical inputs, a different seed different inputs
of the same sizes. The program under test only ever sees what these return
(written to parquet or turned into DataFrames by the workloads).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

# one independent random stream per input kind, so changing one generator
# never shifts the inputs of another
_STEADY, _DOCS, _ORDERS, _EMB = range(4)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


# ------------------------------------------------------------ steady_seen


@dataclass(frozen=True)
class SteadyInputs:
    """A frontier of book-detail ids ``0..n-1`` with a seeded seq order, and
    a seen preload of ``n`` keys of which a seeded ``seen_share`` are
    frontier keys (the rest are books outside the frontier)."""

    seq: np.ndarray  # seq[i] = pop position of book i (a permutation)
    seen_ids: np.ndarray  # sorted book ids preloaded into `seen`

    @property
    def n(self) -> int:
        return len(self.seq)

    def pop_order(self) -> np.ndarray:
        """Book ids in the order the engine must pop them: unseen frontier
        rows by seq (all rows share one priority)."""
        by_seq = np.argsort(self.seq, kind="stable")
        seen = np.zeros(self.n, dtype=bool)
        seen[self.seen_ids[self.seen_ids < self.n]] = True
        return by_seq[~seen[by_seq]]

    def frontier_table(self) -> pa.Table:
        return pa.table({"id": np.arange(self.n, dtype=np.int64), "seq": self.seq})

    def seen_table(self) -> pa.Table:
        return pa.table({"id": self.seen_ids})


def steady_inputs(seed: int, n: int, seen_share: float = 0.5) -> SteadyInputs:
    rng = _rng(seed, _STEADY)
    seq = rng.permutation(n).astype(np.int64)
    k = int(round(n * seen_share))
    in_frontier = np.sort(rng.choice(n, size=k, replace=False)).astype(np.int64)
    outside = np.arange(n, 2 * n - k, dtype=np.int64)
    return SteadyInputs(seq=seq, seen_ids=np.concatenate([in_frontier, outside]))


BOOKS = "http://books.example.com"
# the fetcher's validity rule: status 200 and a body of >= 6000 characters
PAGE_CHARS = 6200
_POOL_WORDS = (
    "crawl frontier spark shuffle partition parquet arrow vector batch round "
    "budget token bucket robots host depth priority queue bloom filter"
).split()
# a fixed ~40 KB word pool; each page body is a slice at a hashed offset
_POOL = " ".join(_POOL_WORDS[(i * 7919) % len(_POOL_WORDS)] for i in range(6000))


def book_url(i: int) -> str:
    return f"{BOOKS}/book/{i}"


def _page_hash(i: int) -> int:
    return int.from_bytes(hashlib.md5(f"hazard:{book_url(i)}".encode()).digest()[:8], "big")


def page_ok(i: int) -> bool:
    """Whether book ``i``'s page fetches ok: 2% answer 500 and 3% serve a
    truncated body, like the engine's own fixtures."""
    return _page_hash(i) % 100 >= 5


def book_pages(ids) -> pa.Table:
    """Web-graph rows (url, host, status, body, latency_ms) for book-detail
    pages, matching the ``detail`` rule of ``fixtures_big`` (author, pages
    and price items)."""
    rows = {"url": [], "host": [], "status": [], "body": [], "latency_ms": []}
    for i in ids:
        i, h = int(i), _page_hash(int(i))
        head = (
            f"<h1>Book {i}</h1>\n"
            f'<meta name="author" content="Author {h % 500}">\n'
            f'<img src="img://media.example.net/cover{i}.jpg"/>\n'
            f"<span>pages: {100 + h % 900}</span>\n"
            f"<span>price: \u00a5{10 + h % 90}.{h % 100:02d}</span>\n"
        )
        start = h % (len(_POOL) - PAGE_CHARS)
        body = head + _POOL[start : start + PAGE_CHARS - len(head)]
        rows["url"].append(book_url(i))
        rows["host"].append("books.example.com")
        rows["status"].append(500 if h % 100 < 2 else 200)
        rows["body"].append(body[:1000] if h % 100 < 5 else body)
        rows["latency_ms"].append(10 + h % 90)
    return pa.table(
        rows,
        schema=pa.schema(
            [
                pa.field("url", pa.string(), False),
                pa.field("host", pa.string(), False),
                pa.field("status", pa.int32(), False),
                pa.field("body", pa.string(), False),
                pa.field("latency_ms", pa.int32(), False),
            ]
        ),
    )


# ------------------------------------------------------- curation_queries

_VOCAB = (
    "crawl frontier spark shuffle partition parquet arrow vector batch round "
    "budget token bucket robots host depth priority queue bloom filter join "
    "window rank seq lineage snapshot the a of and"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)


def documents(seed: int, n: int) -> pa.Table:
    """``documents(doc_id, text, lang, source, n_chars)``: word-salad texts
    of 8-90 words; 10% are near-duplicates (a few words changed) and 2%
    exact duplicates of an earlier document, so the dedup queries have
    clusters to find."""
    rng = _rng(seed, _DOCS)
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    kind = rng.random(n)
    for i in range(n):
        if i > 10 and kind[i] < 0.02:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and kind[i] < 0.12:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), size=max(1, len(words) // 20)):
                words[int(j)] = vocab[int(rng.integers(0, len(vocab)))]
        else:
            words = list(vocab[rng.integers(0, len(vocab), size=int(rng.integers(8, 91)))])
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(_LANGS)[rng.choice(len(_LANGS), size=n, p=_LANG_P)],
            "source": np.char.add("src", rng.integers(0, 20, size=n).astype(str)),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def orders_lineitem(seed: int, n_orders: int) -> tuple[pa.Table, pa.Table]:
    """TPC-H-shaped ``orders`` and ``lineitem`` (1-7 lines per order) with
    ``n_orders / 10`` customers and ``n_orders / 150`` suppliers."""
    rng = _rng(seed, _ORDERS)
    n_cust = max(10, n_orders // 10)
    n_supp = max(10, n_orders // 150)
    day = np.datetime64("1992-01-01", "us")
    odate = day + rng.integers(0, 2400, size=n_orders).astype("timedelta64[D]")
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, size=n_orders).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, size=n_orders)],
            "o_totalprice": np.round(rng.uniform(900, 500_000, size=n_orders), 2),
            "o_orderdate": odate,
            "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                rng.integers(0, 5, size=n_orders)
            ],
        }
    )
    # 1-7 lines per order in a seeded order: the total is the same for any seed
    lines = rng.permutation(np.resize(np.arange(1, 8), n_orders))
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    n = len(okey)
    lineno = (np.arange(n) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": okey,
            "l_partkey": rng.integers(0, max(10, n_orders // 8), size=n).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, size=n).astype(np.int64),
            "l_linenumber": lineno,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2000, size=n), 2),
            "l_discount": np.round(rng.integers(0, 11, size=n) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, size=n) / 100.0, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, size=n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, size=n)],
            "l_shipdate": np.repeat(odate, lines)
            + rng.integers(1, 122, size=n).astype("timedelta64[D]"),
        }
    )
    return orders, lineitem


def embeddings(seed: int, n: int, dim: int = 64, k_clusters: int = 10) -> pa.Table:
    """``embeddings(vec_id, embedding float[dim], label)``: unit-norm
    cluster centers plus Gaussian noise."""
    rng = _rng(seed, _EMB)
    centers = rng.standard_normal((k_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, k_clusters, size=n)
    pts = (centers[labels] + 0.3 * rng.standard_normal((n, dim))).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(pts.ravel(), dim).cast(
                pa.list_(pa.float32())
            ),
            "label": labels.astype(np.int32),
        }
    )


def curation_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """The tables the curation queries read, at ``scale`` (1.0 = 5000
    documents, 150k orders, 2000 embeddings; at least 500 embeddings)."""
    orders, lineitem = orders_lineitem(seed, max(100, int(150_000 * scale)))
    return {
        "documents": documents(seed, max(50, int(5000 * scale))),
        "orders": orders,
        "lineitem": lineitem,
        # the IVF query's default centroids are vec_ids up to 266
        "embeddings": embeddings(seed, max(500, int(2000 * scale))),
    }
