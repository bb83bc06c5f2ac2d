"""Seeded inputs for the benchmark: bucket trees, per-tick drift, and the
ten query tables.

Everything here is a pure function of the seed, so one seed always gives the
same inputs. Nothing imports Spark: the program under test only ever sees the
files these functions write.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

PREFIX_FANOUT = 64
SIZE_MIN, SIZE_MAX = 512, 8 * 1024
CONTENT_TYPES = ("application/octet-stream", "text/plain", "image/png", "application/json")
META_KEY = "user.owner"
CONTENT_TYPE_XATTR = "user.content-type"


@dataclass
class Bucket:
    """One mapping's source bucket as written: object name -> size.
    ``next_id`` numbers the next object drift adds."""

    name: str
    sizes: dict[str, int] = field(default_factory=dict)
    next_id: int = 0


def _object_name(rng: random.Random, idx: int) -> str:
    return f"p{rng.randrange(PREFIX_FANOUT):02d}/obj-{idx:06d}.bin"


def _write_object(path: str, size: int, rng: random.Random, mtime: float) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(rng.randbytes(size))
    for attr in os.listxattr(path):  # a rewrite keeps the inode's xattrs
        os.removexattr(path, attr)
    if rng.random() < 0.5:
        os.setxattr(path, CONTENT_TYPE_XATTR, rng.choice(CONTENT_TYPES).encode())
        os.setxattr(path, META_KEY, f"team-{rng.randrange(8)}".encode())
    # explicit mtimes: the listing's etag is size + mtime in ms, so a rewrite
    # must never land on the previous mtime
    os.utime(path, (mtime, mtime))


def build_buckets(root: str, counts: list[int], seed: int) -> list[Bucket]:
    """Write one source bucket per entry of ``counts`` under ``root`` (as
    ``root/b<i>/p<NN>/obj-<id>.bin``) with a 64-way prefix fan-out, sizes
    uniform in 0.5-8 KiB and half the objects carrying a content-type
    xattr and one more ``user.*`` key."""
    rng = random.Random(seed)
    buckets = []
    for i, n in enumerate(counts):
        b = Bucket(name=f"b{i}")
        for _ in range(n):
            name = _object_name(rng, b.next_id)
            b.next_id += 1
            size = rng.randint(SIZE_MIN, SIZE_MAX)
            _write_object(os.path.join(root, b.name, name), size, rng, 1.7e9)
            b.sizes[name] = size
        buckets.append(b)
    return buckets


def drift_size(n: int) -> int:
    """Objects that drift per tick in a mapping of ``n`` objects: 1%, but at
    least 4 so every tick rewrites, deletes and adds in every mapping."""
    return max(4, math.ceil(n / 100))


@dataclass
class Drift:
    """What one tick must do to one mapping."""

    copy: list[str]
    delete: list[str]
    skip: int

    def counts(self) -> dict[str, int]:
        out = {}
        if self.copy:
            out["copy_success"] = len(self.copy)
        if self.delete:
            out["delete_success"] = len(self.delete)
        if self.skip:
            out["skip"] = self.skip
        return out


def apply_drift(root: str, buckets: list[Bucket], seed: int, tick: int) -> list[Drift]:
    """Mutate every source bucket for ``tick`` and return the exact report
    each mapping must produce. Half the drift rewrites objects (new size and
    mtime), a quarter deletes them and the rest adds new ones."""
    rng = random.Random(f"{seed}/{tick}")
    mtime = 1.7e9 + 60 * (tick + 1)
    out = []
    for b in buckets:
        k = drift_size(len(b.sizes))
        n_rewrite, n_delete = k // 2, k // 4
        picked = rng.sample(sorted(b.sizes), n_rewrite + n_delete)
        rewrites, deletes = picked[:n_rewrite], picked[n_rewrite:]
        for name in rewrites:
            size = b.sizes[name] + rng.randint(1, 256)
            if size > SIZE_MAX:
                size = b.sizes[name] - rng.randint(1, 256)
            _write_object(os.path.join(root, b.name, name), size, rng, mtime)
            b.sizes[name] = size
        for name in deletes:
            os.remove(os.path.join(root, b.name, name))
            del b.sizes[name]
        adds = []
        for _ in range(k - n_rewrite - n_delete):
            name = _object_name(rng, b.next_id)
            b.next_id += 1
            size = rng.randint(SIZE_MIN, SIZE_MAX)
            _write_object(os.path.join(root, b.name, name), size, rng, mtime)
            b.sizes[name] = size
            adds.append(name)
        copies = sorted(rewrites + adds)
        out.append(Drift(copy=copies, delete=sorted(deletes), skip=len(b.sizes) - len(copies)))
    return out


# --------------------------------------------------------------------------
# Query tables: the ten tables of the package's TESTDATA layout, at about
# the row counts of sf0.01, drawn from the seed.
# --------------------------------------------------------------------------

TABLE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
_WORDS = (
    "join hash row batch scan column customer filter small slow merge order vector "
    "line table data agg value key stream window a spark part group big sort query "
    "fast the"
).split()
_LANGS = ("en", "zh", "es", "de", "fr")
_DAY = np.timedelta64(1, "D")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document, like the dedup fixtures
            words = texts[int(rng.integers(0, i))].split()[: int(rng.integers(10, 40))]
            texts.append(" ".join(words + ["dup"]))
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    lang = rng.choice(_LANGS, n, p=[0.44, 0.14, 0.14, 0.14, 0.14])
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": lang,
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def make_tables(seed: int) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    r = TABLE_ROWS
    d1995 = np.datetime64("1995-01-01", "us")
    out = {
        "region": pd.DataFrame(
            {
                "r_regionkey": np.arange(5, dtype="int32"),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype="int32"),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype("int32"),
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(r["customer"], dtype="int64"),
                "c_name": [f"Customer#{i:09d}" for i in range(r["customer"])],
                "c_nationkey": rng.integers(0, 25, r["customer"]).astype("int32"),
                "c_acctbal": _money(rng, -999.99, 9999.99, r["customer"]),
                "c_mktsegment": rng.choice(
                    ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"],
                    r["customer"],
                ),
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(r["supplier"], dtype="int64"),
                "s_name": [f"Supplier#{i:09d}" for i in range(r["supplier"])],
                "s_nationkey": rng.integers(0, 25, r["supplier"]).astype("int32"),
                "s_acctbal": _money(rng, -999.99, 9999.99, r["supplier"]),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": np.arange(r["part"], dtype="int64"),
                "p_name": [
                    f"{a} {b}"
                    for a, b in zip(
                        rng.choice(["small", "red", "blue", "hot", "old", "large", "new", "cold"], r["part"]),
                        rng.choice(["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"], r["part"]),
                    )
                ],
                "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, r["part"])],
                "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], r["part"]),
                "p_size": rng.integers(1, 51, r["part"]).astype("int32"),
                "p_retailprice": 900.0 + rng.integers(0, 1000, r["part"]) / 10.0,
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(r["orders"], dtype="int64"),
                "o_custkey": rng.integers(0, r["customer"], r["orders"]).astype("int64"),
                "o_orderstatus": rng.choice(["P", "F", "O"], r["orders"]),
                "o_totalprice": _money(rng, 1000.0, 500000.0, r["orders"]),
                "o_orderdate": d1995 + rng.integers(0, 2404, r["orders"]) * _DAY,
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], r["orders"]
                ),
            }
        ),
        "lineitem": pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, r["orders"], r["lineitem"]).astype("int64"),
                "l_partkey": rng.integers(0, r["part"], r["lineitem"]).astype("int64"),
                "l_suppkey": rng.integers(0, r["supplier"], r["lineitem"]).astype("int64"),
                "l_linenumber": rng.integers(1, 8, r["lineitem"]).astype("int32"),
                "l_quantity": rng.integers(1, 51, r["lineitem"]).astype("float64"),
                "l_extendedprice": _money(rng, 900.0, 105000.0, r["lineitem"]),
                "l_discount": rng.integers(0, 11, r["lineitem"]) / 100.0,
                "l_tax": rng.integers(0, 9, r["lineitem"]) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], r["lineitem"]),
                "l_linestatus": rng.choice(["F", "O"], r["lineitem"]),
                "l_shipdate": d1995 + (1 + rng.integers(0, 2499, r["lineitem"])) * _DAY,
            }
        ),
        "events": pd.DataFrame(
            {
                "event_id": np.arange(r["events"], dtype="int64"),
                "ts": np.datetime64("2024-01-01", "us")
                + np.sort(rng.integers(0, 30 * 86400 * 10**6, r["events"])).astype("timedelta64[us]"),
                "user_id": rng.integers(0, 150, r["events"]).astype("int64"),
                "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], r["events"]),
                "value": _money(rng, 0.01, 490.0, r["events"]),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, r["events"])],
            }
        ),
        "documents": _documents(rng, r["documents"]),
    }
    emb = rng.normal(0.0, 1.0, (r["embeddings"], 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(r["embeddings"], dtype="int64"),
            "embedding": list(emb),
            "label": rng.integers(0, 10, r["embeddings"]).astype("int32"),
        }
    )
    return out


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write the ten tables as single-row-group parquet files (the layout of
    the package's test data); returns row counts by table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, df in make_tables(seed).items():
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = len(df)
    return rows


def tables_digest(tables: dict[str, pd.DataFrame]) -> str:
    """Content hash of generated tables, independent of parquet encoding."""
    h = hashlib.md5()
    for name in sorted(tables):
        h.update(name.encode())
        h.update(pd.util.hash_pandas_object(tables[name].astype(str), index=False).values.tobytes())
    return h.hexdigest()
