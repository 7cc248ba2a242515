"""Seeded benchmark inputs: the base tables, thinned by a seed.

About a tenth of the fact tables' rows are dropped: a row goes when
pmod(xxhash64(key, seed), 10) == 0, with xxhash64 as Spark SQL defines it
(XXH64 of the key with seed 42, then of the seed value with that hash as
seed). Lineitems are keyed by their order, so they go with it. The
dimension tables are copied whole. The same seed gives the same files.

A workload may instead keep a fixed number of documents, stratified by
length so that the total text, which per-document kernels scale with,
barely moves between seeds: documents ranked by (n_chars, doc_id) fall
into `doc_sample` equal strata, and each stratum keeps its document with
the smallest xxhash64(doc_id, seed).
"""
import os
import shutil

import numpy as np
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
THIN_KEYS = {"orders": "o_orderkey", "lineitem": "l_orderkey",
             "events": "event_id", "documents": "doc_id"}
THIN_MODULUS = 10

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl(x, r):
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def xxh64_long(values, seed):
    """XXH64 of each 8-byte little-endian value (Spark's XXH64.hashLong)."""
    with np.errstate(over="ignore"):
        v = np.asarray(values, dtype=np.int64).view(np.uint64)
        s = np.asarray(seed, dtype=np.int64).view(np.uint64)
        h = s + _P5 + np.uint64(8)
        k = _rotl(v * _P2, 31) * _P1
        h = _rotl(h ^ k, 27) * _P1 + _P4
        h ^= h >> np.uint64(33)
        h *= _P2
        h ^= h >> np.uint64(29)
        h *= _P3
        h ^= h >> np.uint64(32)
    return h.view(np.int64)


def spark_xxhash64(keys, seed):
    """Spark SQL's xxhash64(key, seed) for BIGINT key and seed columns."""
    keys = np.asarray(keys, dtype=np.int64)
    return xxh64_long(np.full(keys.shape, seed, dtype=np.int64), xxh64_long(keys, 42))


def stratified_sample(table, n, seed):
    """Row mask keeping one document per length stratum (see above)."""
    ids = table.column("doc_id").to_numpy(zero_copy_only=False)
    chars = table.column("n_chars").to_numpy(zero_copy_only=False)
    rank = np.empty(len(ids), dtype=np.int64)
    rank[np.lexsort((ids, chars))] = np.arange(len(ids))
    stratum = rank * n // len(ids)
    h = spark_xxhash64(ids, seed)
    keep = np.zeros(len(ids), dtype=bool)
    for s in range(n):
        members = np.flatnonzero(stratum == s)
        keep[members[np.argmin(h[members])]] = True
    return keep


def write_inputs(base, out, seed, doc_sample=None):
    """Writes <out>/<table>.parquet for every table of `base`."""
    os.makedirs(out, exist_ok=True)
    for t in TABLES:
        src, dst = os.path.join(base, f"{t}.parquet"), os.path.join(out, f"{t}.parquet")
        key = THIN_KEYS.get(t)
        if key is None:
            shutil.copyfile(src, dst)
            continue
        table = pq.read_table(src)
        if t == "documents" and doc_sample:
            keep = stratified_sample(table, doc_sample, seed)
        else:
            keys = table.column(key).to_numpy(zero_copy_only=False)
            keep = np.mod(spark_xxhash64(keys, seed), THIN_MODULUS) != 0
        pq.write_table(table.filter(keep), dst)
