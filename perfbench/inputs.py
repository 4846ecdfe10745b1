"""Seeded input generators for the benchmark workloads.

Every input derives from the ``--seed`` argument alone; the program under
test only ever sees the files written here. The ``code_files`` corpus comes
from the program's own generator (``sparkcodec.tables``); the operator
tables are generated here with the shapes of the repository's ``sf0.1``
test tables (same columns, types, row counts and value ranges), so the
benchmark reads nothing outside its checkout.
"""

from __future__ import annotations

import collections
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# sub-seeds: one stream per purpose, so adding a draw to one purpose never
# shifts another purpose's inputs
_CORPUS, _KEYS, _CHURN, _OPS, CHURN_PICKS = 0, 1, 2, 3, 4


def rng_for(seed: int, purpose: int) -> np.random.Generator:
    return np.random.default_rng([seed, purpose])


def corpus_seed(seed: int) -> int:
    return int(rng_for(seed, _CORPUS).integers(1 << 31))


def read_keys(path: str) -> pa.Table:
    return pq.read_table(path, columns=["repo", "path"])


def key_counts(keys: pa.Table) -> collections.Counter:
    return collections.Counter(zip(keys.column("repo").to_pylist(), keys.column("path").to_pylist()))


def draw_lookup_keys(keys: pa.Table, n: int, seed: int) -> list[tuple[str, str]]:
    """Keys drawn uniformly over rows, so repos are hit in proportion to
    their size (the giant repo holds ~30% of rows)."""
    idx = rng_for(seed, _KEYS).integers(0, keys.num_rows, size=n)
    repos, paths = keys.column("repo"), keys.column("path")
    return [(repos[int(i)].as_py(), paths[int(i)].as_py()) for i in idx]


def csr_index(path: str, node_col: str, order_cols: list[str]):
    """The two index levels computed here, as sorted row tuples: the
    maximal runs of ``node_col`` over the ``order_cols`` row order as
    (node, start, end), and per node (node, offset_start, offset_end) into
    that run list sorted by node."""
    t = pq.read_table(path, columns=sorted({node_col, *order_cols}))
    order = pc.sort_indices(t, sort_keys=[(c, "ascending") for c in order_cols])
    nodes = t.column(node_col).take(order).to_pylist()
    ranges, start = [], 0
    for i in range(1, len(nodes) + 1):
        if i == len(nodes) or nodes[i] != nodes[start]:
            ranges.append((nodes[start], start, i))
            start = i
    per_node = collections.Counter(r[0] for r in ranges)
    offsets, off = [], 0
    for node in sorted(per_node):
        offsets.append((node, off, off + per_node[node]))
        off += per_node[node]
    return sorted(ranges), offsets


def split_churn(src: str, dst: str, base_rows: int, batch_rows: int, n_batches: int, seed: int):
    """Shuffle the corpus rows (seeded) and cut them into a base file and
    ``n_batches`` append batches; returns (base_path, [batch_paths])."""
    t = pq.read_table(src)
    need = base_rows + batch_rows * n_batches
    if t.num_rows < need:
        raise ValueError(f"churn corpus has {t.num_rows} rows, needs {need}")
    perm = rng_for(seed, _CHURN).permutation(t.num_rows)[:need]
    t = t.take(pa.array(perm))
    os.makedirs(dst, exist_ok=True)
    base = os.path.join(dst, "base.parquet")
    pq.write_table(t.slice(0, base_rows), base)
    batches = []
    for i in range(n_batches):
        p = os.path.join(dst, f"batch-{i:03d}.parquet")
        pq.write_table(t.slice(base_rows + i * batch_rows, batch_rows), p)
        batches.append(p)
    return base, batches


_WORDS = (
    "a the spark table column row value key hash sort scan query filter join "
    "agg group merge batch stream window order line customer vector data fast "
    "slow big small part index block codec page"
).split()
_LANGS = ["en", "zh", "fr", "es", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lens = rng.integers(8, 100, size=n)
    texts = [" ".join(rng.choice(_WORDS, size=int(k))) for k in lens]
    # a few exact duplicates so the dedup query has groups to find
    dup = rng.random(n) < 0.01
    src = rng.integers(0, n, size=n)
    texts = [texts[int(src[i])] if dup[i] else texts[i] for i in range(n)]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, size=n, p=_LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })


def _lineitem(rng: np.random.Generator, n: int, n_orders: int) -> pa.Table:
    day0 = np.datetime64("1995-01-01", "us")
    days = rng.integers(1, 2500, size=n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, size=n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n // 30, size=n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, max(1, n // 600), size=n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, size=n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, size=n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, size=n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], size=n), pa.string()),
        "l_linestatus": pa.array(rng.choice(["O", "F"], size=n), pa.string()),
        "l_shipdate": pa.array(day0 + days, pa.timestamp("us")),
    })


def _orders(rng: np.random.Generator, n: int) -> pa.Table:
    day0 = np.datetime64("1995-01-01", "us")
    days = rng.integers(0, 2500, size=n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, max(1, n // 10), size=n, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], size=n), pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(800, 500000, size=n), 2)),
        "o_orderdate": pa.array(day0 + days, pa.timestamp("us")),
        "o_orderpriority": pa.array(
            rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], size=n),
            pa.string(),
        ),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.normal(0.0, 0.1, size=(n, dim)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), dim).cast(pa.list_(pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, size=n, dtype=np.int32)),
    })


def write_operator_tables(sf_dir: str, scale: float, seed: int) -> str:
    """The four tables the operator suite reads, at ``scale`` (1.0 = the
    row counts of the repository's sf0.1 tables), as one parquet file each."""
    rng = rng_for(seed, _OPS)
    n_orders = max(100, int(150_000 * scale))
    os.makedirs(sf_dir, exist_ok=True)
    tables = {
        "documents": _documents(rng, max(100, int(5_000 * scale))),
        "lineitem": _lineitem(rng, max(400, int(600_000 * scale)), n_orders),
        "orders": _orders(rng, n_orders),
        "embeddings": _embeddings(rng, max(50, int(2_000 * scale))),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"))
    return sf_dir


def fingerprint(paths: list[str]) -> str:
    """Content hash of input files: differs between seeds, equal for one."""
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def files_under(path: str) -> list[str]:
    return sorted(
        os.path.join(r, f) for r, _d, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )
