"""Seeded input tables for the benchmark.

The tables mirror the schema and value ranges of the engine's TPC-H-ish
test data (same column names, arrow types and one row group per file), so
every query in ``cql_xmlpipe_spark.plans.QUERIES`` runs on them unchanged.
The same seed always gives byte-identical tables.

Planted structure keeps the dedup outputs non-empty and their sizes fixed:

* ``documents``: near-duplicate families (exact copies and one-token edits
  of a 40-80 token text, Jaccard >= 0.85 on 3-shingles); the rest are
  random texts that share almost no shingles.
* ``embeddings``: exact copies and x2-scaled copies of random vectors
  (cosine 1.0); random 64-dim vectors otherwise sit near cosine 0.

The minhash oracles read LSH band keys from a parquet file keyed by
``md5(text)``.  :func:`write_band_keys` recomputes them for the generated
texts with a clean-room XXH64 (the same construction as
``scripts/make_minhash_fixture.py``), independently of Spark.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: row counts at scale 1.0
BASE_ROWS = {
    "customer": 1000,
    "supplier": 100,
    "part": 1000,
    "orders": 10000,
    "lineitem": 40000,
    "events": 500,
    "documents": 400,
    "embeddings": 400,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "hot", "old", "large", "blue", "cold", "new"]
PART_NOUN = ["ring", "widget", "plate", "rod", "gear", "bolt", "gizmo", "anvil"]
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
VOCAB = (
    "row the query stream fast spark line small customer group value hash "
    "batch sort data big filter dup key agg scan slow table part a merge "
    "window order column join vector"
).split()
EMB_DIM = 64


def _days(rng: np.random.Generator, lo: str, hi: str, n: int) -> pa.Array:
    """n random midnight timestamps in [lo, hi] as timestamp[us]."""
    d0 = dt.date.fromisoformat(lo).toordinal()
    d1 = dt.date.fromisoformat(hi).toordinal()
    epoch = dt.date(1970, 1, 1).toordinal()
    days = rng.integers(d0, d1 + 1, n) - epoch
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal prices: integer cents / 100 (shortest repr has <= 2 dp)."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _pick(rng: np.random.Generator, values: list[str], n: int) -> list[str]:
    return [values[i] for i in rng.integers(0, len(values), n)]


def _text(rng: np.random.Generator, lo: int, hi: int) -> list[str]:
    return [VOCAB[i] for i in rng.integers(0, len(VOCAB), rng.integers(lo, hi + 1))]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = [_text(rng, 8, 90) for _ in range(n)]
    slots = rng.permutation(n)
    pos = 0
    for _ in range(max(2, n // 25)):
        base = _text(rng, 40, 80)
        members = int(rng.integers(2, 5))
        for m in range(members):
            toks = list(base)
            if m and rng.random() < 0.6:  # one-token edit, else exact copy
                j = int(rng.integers(0, len(toks)))
                toks[j] = VOCAB[(VOCAB.index(toks[j]) + 1) % len(VOCAB)]
            texts[slots[pos]] = toks
            pos += 1
    text = [" ".join(t) for t in texts]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(_pick(rng, LANGS, n), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = (rng.standard_normal((n, EMB_DIM)) / 8.0).astype(np.float32)
    slots = rng.permutation(n)
    for k in range(max(2, n // 40)):
        src, dst = slots[2 * k], slots[2 * k + 1]
        vecs[dst] = vecs[src] if k % 2 == 0 else vecs[src] * np.float32(2.0)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM, dtype=np.int32)),
        pa.array(vecs.reshape(-1), pa.float32()),
    )
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def make_tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """Every table ``sources.registry.TABLES`` names, from one seed."""
    rng = np.random.default_rng(seed)
    n = {k: max(8, int(round(v * scale))) for k, v in BASE_ROWS.items()}
    n["supplier"] = max(25, n["supplier"])
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc, ns, npart, no, nl = (n[k] for k in ("customer", "supplier", "part", "orders", "lineitem"))
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(_pick(rng, SEGMENTS, nc), pa.string()),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": pa.array(
            [f"{a} {b}" for a, b in zip(_pick(rng, PART_ADJ, npart), _pick(rng, PART_NOUN, npart))],
            pa.string(),
        ),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, npart)], pa.string()),
        "p_type": pa.array(_pick(rng, PART_TYPES, npart), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(rng.integers(9000, 10000, npart) / 10.0),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": pa.array(_pick(rng, ["F", "O", "P"], no), pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, no)),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": pa.array(_pick(rng, PRIORITIES, no), pa.string()),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, npart, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(_pick(rng, ["A", "N", "R"], nl), pa.string()),
        "l_linestatus": pa.array(_pick(rng, ["F", "O"], nl), pa.string()),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
    })
    ne = n["events"]
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(
            1_704_067_200_000_000 + np.sort(rng.integers(0, 30 * 86_400_000_000, ne)),
            pa.timestamp("us"),
        ),
        "user_id": pa.array(rng.integers(0, 50, ne).astype(np.int64)),
        "event_type": pa.array(_pick(rng, EVENT_TYPES, ne), pa.string()),
        "value": pa.array(_money(rng, 0, 20, ne)),
        "props": pa.array([f'{{"k": {i}}}' for i in rng.integers(0, 100, ne)], pa.string()),
    })
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# MinHash band keys (Spark's xxhash64, seed 42, re-implemented)
# ---------------------------------------------------------------------------

_M = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
    0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5,
)
#: Spark ``xxhash64`` outputs captured from a live session
SPARK_STRING_VECTORS = {
    "": -7444071767201028348,
    "foo": -3075308222547705278,
    "hello world": 7620854247404556961,
    "key agg row": -7147265066264814048,
}
SPARK_CHAIN4_VECTOR = ((11, 22, 33, 44), -9033293537546336914)
N_MINHASH, N_BANDS = 64, 16


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def xxh64_bytes(data: bytes, seed: int = 42) -> int:
    """XXH64 of a byte string (Spark's string path), unsigned."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed & _M, (seed - _P1) & _M]
        while i + 32 <= n:
            for k in range(4):
                v[k] = _round(v[k], int.from_bytes(data[i + 8 * k : i + 8 * k + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for lane in v:
            h = ((h ^ _round(0, lane)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h = (_rotl(h ^ _round(0, int.from_bytes(data[i : i + 8], "little")), 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h = (_rotl(h ^ ((int.from_bytes(data[i : i + 4], "little") * _P1) & _M), 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M), 11) * _P1) & _M
        i += 1
    return _fmix(h)


def _fmix(h):
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    return h ^ (h >> 32)


def _fmix_vec(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * np.uint64(_P2)
    h = h ^ (h >> np.uint64(29))
    h = h * np.uint64(_P3)
    return h ^ (h >> np.uint64(32))


def _rotl_vec(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def xxh64_long_vec(vals: np.ndarray, seeds) -> np.ndarray:
    """Spark ``xxhash64`` of LONG inputs (8-byte little endian), vectorized."""
    h = np.asarray(seeds, dtype=np.uint64) + np.uint64(_P5) + np.uint64(8)
    h = h ^ (_rotl_vec(vals * np.uint64(_P2), 31) * np.uint64(_P1))
    return _fmix_vec(_rotl_vec(h, 27) * np.uint64(_P1) + np.uint64(_P4))


def xxh64_int_vec(val: int, seeds: np.ndarray) -> np.ndarray:
    """Spark ``xxhash64`` of one INT input under a vector of seeds."""
    h = seeds + np.uint64(_P5) + np.uint64(4)
    h = h ^ np.uint64(((val & 0xFFFFFFFF) * _P1) & _M)
    return _fmix_vec(_rotl_vec(h, 23) * np.uint64(_P2) + np.uint64(_P3))


def self_check() -> None:
    """Refuse to model the banding if the hash diverges from Spark's."""
    for s, want in SPARK_STRING_VECTORS.items():
        got = xxh64_bytes(s.encode("utf-8"))
        if got - (1 << 64) * (got >> 63) != want:
            raise RuntimeError(f"xxh64 string path diverges from Spark on {s!r}")
    vals, want = SPARK_CHAIN4_VECTOR
    h = np.full(1, 42, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for v in vals:
            h = xxh64_long_vec(np.array([v], dtype=np.uint64), h)
    if int(h.view(np.int64)[0]) != want:
        raise RuntimeError("xxh64 long path diverges from Spark")


def band_keys(text: str) -> list[int] | None:
    """The 16 LSH band keys of one text (None: fewer than three tokens)."""
    toks = [t for t in re.sub(r"[^a-z0-9]+", " ", text.lower()).split(" ") if t]
    if len(toks) < 3:
        return None
    shingles = {" ".join(toks[j : j + 3]) for j in range(len(toks) - 2)}
    with np.errstate(over="ignore"):
        hs = np.array([xxh64_bytes(s.encode("utf-8")) for s in shingles], dtype=np.uint64)
        t = xxh64_long_vec(hs, np.uint64(42))
        mh = np.array(
            [xxh64_int_vec(i, t).view(np.int64).min() for i in range(N_MINHASH)], dtype=np.int64
        )
        keys = np.full(N_BANDS, 42, dtype=np.uint64)
        lanes = mh.reshape(N_BANDS, N_MINHASH // N_BANDS).astype(np.uint64)
        for r in range(lanes.shape[1]):
            keys = xxh64_long_vec(lanes[:, r], keys)
    return keys.view(np.int64).tolist()


def write_band_keys(texts: list[str], path: str) -> None:
    """(text_md5, band, key) rows for every distinct shingle-bearing text."""
    self_check()
    md5s, bands, keys = [], [], []
    for text in sorted(set(texts)):
        bk = band_keys(text)
        if bk is None:
            continue
        digest = hashlib.md5(text.encode("utf-8")).hexdigest()
        md5s += [digest] * N_BANDS
        bands += list(range(N_BANDS))
        keys += bk
    pq.write_table(
        pa.table({
            "text_md5": pa.array(md5s, pa.string()),
            "band": pa.array(bands, pa.int32()),
            "key": pa.array(keys, pa.int64()),
        }),
        path,
    )
