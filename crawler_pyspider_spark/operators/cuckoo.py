"""Partitioned cuckoo-filter URL-seen set (the 10^10-scale dedup tier).

The reference answers "have we seen this URL?" with a per-project sqlite
point lookup (``database/sqlite/taskdb.py:72-85``) fronted by an
in-memory queue-membership dict (``scheduler/task_queue.py:281-286``) —
neither survives 10^10 URLs.  Set-at-a-time, the membership check is the
*pre-filter* in front of the frontier MERGE join (SURVEY.md §4): novel
URLs skip the expensive join entirely; only filter-positive ("possibly
seen") URLs continue to the exact new-vs-old decision join.  False
positives therefore cost an extra join probe, never correctness.

The filter is a partial-key cuckoo filter (Fan et al., CoNEXT'14):

- **Low FP**: 16-bit fingerprints, 4-slot buckets ⇒ FP ≈ 2·4/2^16 ≈
  0.012 % (a k=7 bloom filter at 10 bits/key sits near 0.8 %).
- **Deletion** (`delete_keys`): a crawl frontier "forgets" a URL when
  an itag change, `force_update` or a project delete re-opens it;
  cuckoo removes one fingerprint copy.
- **No false negatives**: every admitted key is either in its two
  candidate buckets or in the per-shard stash (bounded eviction chains
  that fail land in the stash, never dropped), so filter-negative URLs
  may safely APPEND join-free.

Layout — hash-partitioned shards, persisted as ordinary rows:

    shard    int     pmod(xxhash64(taskid), n_shards)  (same shuffle
                     key as the frontier merge)
    table    binary  n_buckets × 4 slots × uint16 fingerprints (LE);
                     0 = empty slot
    stash    binary  overflow entries, 6 B each (bucket:int32, fp:
                     uint16) — statistically tiny below ~95 % load
    n_items  long    inserts so far (per-shard lineage counter)

Probe+insert is ONE ``cogroup().applyInPandas`` pass, all hashes
JVM-side (``F.xxhash64``): fingerprint and candidate bucket i1 derive
from h2; i2 = i1 XOR H(fp) (an involution, so either bucket recovers
the other).  The batch probe is fully vectorized (two gathers + stash
broadcast compare); inserts fill free slots in two vectorized passes
(rank-within-bucket slot assignment) and only the rare loser of both
passes walks the classic per-key eviction loop.

Sizing at 10^10 URLs: n_shards = 2^14, n_buckets = 2^18 per shard ⇒
2 MiB/shard table, 32 GiB total, capacity 10^10 at 95 % load (4-slot
buckets reach ~95 % [Fan §4]), FP 0.012 %.  Defaults here are
test-scale (2^12 buckets × 64 shards ≈ 1M-key capacity).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

DEFAULT_SHARDS = 64
DEFAULT_BUCKETS = 1 << 12  # per shard; power of two
SLOTS = 4
MAX_KICKS = 250
_FP_MULT = np.uint64(0x5BD1E995)  # bucket-from-fingerprint mix

SHARD_SCHEMA = StructType(
    [
        StructField("shard", IntegerType()),
        StructField("table", BinaryType()),
        StructField("stash", BinaryType()),
        StructField("n_items", LongType()),
    ]
)


def empty_shards(
    spark: SparkSession,
    n_shards: int = DEFAULT_SHARDS,
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """All-empty tables for every shard, generated distributed (at
    production sizing the empty filter is tens of GiB)."""
    nbytes = buckets * SLOTS * 2

    def gen(batches):
        zeros = bytes(nbytes)
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "shard": pdf["id"].astype("int32"),
                    "table": [zeros] * len(pdf),
                    "stash": [b""] * len(pdf),
                    "n_items": np.zeros(len(pdf), dtype="int64"),
                }
            )

    return spark.range(n_shards).mapInPandas(gen, SHARD_SCHEMA)


def with_hashes(df: DataFrame, key_col: str = "taskid", n_shards: int = DEFAULT_SHARDS) -> DataFrame:
    """Append JVM-computed hash columns: _h1, _h2 (int64), shard."""
    h1 = F.xxhash64(F.col(key_col))
    h2 = F.xxhash64(F.concat(F.col(key_col), F.lit("#2")))
    return (
        df.withColumn("_h1", h1)
        .withColumn("_h2", h2)
        .withColumn("shard", F.pmod(h1, F.lit(n_shards)).cast("int"))
    )


def _fp_and_buckets(h2: np.ndarray, buckets: int):
    """(fp uint16 nonzero, i1, i2) from the JVM xxhash64 column."""
    u2 = h2.astype(np.int64).view(np.uint64)
    fp = (u2 & np.uint64(0xFFFF)).astype(np.uint16)
    fp = np.where(fp == 0, np.uint16(1), fp)  # 0 marks an empty slot
    mask = np.uint64(buckets - 1)
    i1 = ((u2 >> np.uint64(32)) & mask).astype(np.int64)
    i2 = _alt_bucket(fp, i1, buckets)
    return fp, i1, i2


def _alt_bucket(fp: np.ndarray | int, b: np.ndarray | int, buckets: int):
    """Partner bucket: b XOR H(fp).  XOR makes it an involution —
    alt(alt(b)) == b — so a stored fingerprint's other bucket is always
    recoverable from the one it sits in."""
    mask = np.uint64(buckets - 1)
    h = (np.uint64(1) + np.asarray(fp, dtype=np.uint64)) * _FP_MULT
    return (np.asarray(b, dtype=np.uint64) ^ (h & mask)).astype(np.int64) & np.int64(
        buckets - 1
    )


def _place_free(table: np.ndarray, fps: np.ndarray, bkts: np.ndarray) -> np.ndarray:
    """Vectorized free-slot placement: each fp goes to the rank-th free
    slot of its bucket, where rank = its stable position among this
    pass's keys targeting the same bucket.  Returns the placed mask."""
    if not len(fps):
        return np.zeros(0, dtype=bool)
    order = np.argsort(bkts, kind="stable")
    sb = bkts[order]
    first = np.r_[True, sb[1:] != sb[:-1]]
    grp_start = np.maximum.accumulate(np.where(first, np.arange(len(sb)), 0))
    rank = np.arange(len(sb)) - grp_start
    free = table[sb] == 0  # (n, SLOTS) snapshot — ranks serialize writers
    cum = free.cumsum(axis=1)
    want = rank + 1
    hit = (cum == want[:, None]) & free  # the want-th free slot, if any
    col = hit.argmax(axis=1)
    ok = hit.any(axis=1)
    table[sb[ok], col[ok]] = fps[order][ok]
    placed = np.zeros(len(fps), dtype=bool)
    placed[order[ok]] = True
    return placed


def _kick_insert(table: np.ndarray, fp: int, b: int, buckets: int) -> bool:
    """Classic cuckoo eviction walk for the rare key both of whose
    buckets are full.  Deterministic victim slot (rotating) keeps the
    filter reproducible across runs."""
    fp = np.uint16(fp)
    for n in range(MAX_KICKS):
        row = table[b]
        free = np.flatnonzero(row == 0)
        if len(free):
            table[b, free[0]] = fp
            return True
        s = n % SLOTS
        victim = row[s]
        table[b, s] = fp
        fp = victim
        b = int(_alt_bucket(fp, b, buckets))
    return False


def _decode_stash(raw: bytes):
    """stash bytes -> (bucket int64 array, fp uint16 array)."""
    if not raw:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.uint16)
    a = np.frombuffer(raw, dtype=np.uint8).reshape(-1, 6)
    b = a[:, :4].copy().view(np.int32).ravel().astype(np.int64)
    fp = a[:, 4:6].copy().view(np.uint16).ravel()
    return b, fp


def _encode_stash(b: np.ndarray, fp: np.ndarray) -> bytes:
    out = np.empty((len(b), 6), dtype=np.uint8)
    out[:, :4] = b.astype(np.int32)[:, None].view(np.uint8).reshape(-1, 4)
    out[:, 4:6] = fp.astype(np.uint16)[:, None].view(np.uint8).reshape(-1, 2)
    return out.tobytes()


def probe_combined(
    urls: DataFrame,
    shards: DataFrame,
    key_col: str = "taskid",
    n_shards: int = DEFAULT_SHARDS,
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """One-pass membership probe + insert.  Returns ONE combined frame
    (cache it, then ``split()``) holding the flagged url rows and the
    updated shard rows (every shard emitted, touched or not, so the
    snapshot stays complete).

    seen=True ⇒ *possibly* seen (FP ≈ 0.012 %) — route to the exact
    decision join; seen=False ⇒ *definitely* novel — safe to append
    join-free.  Intra-batch duplicate keys after the first report
    seen=True, matching the reference's sequential membership check.
    """
    urls_h = with_hashes(urls, key_col, n_shards)
    out_fields = [
        StructField(f.name, f.dataType, True)
        for f in urls_h.schema.fields
        if f.name not in ("_h1", "_h2")
    ]
    out_schema = StructType(
        out_fields
        + [
            StructField("seen", BooleanType()),
            StructField("table", BinaryType()),
            StructField("stash", BinaryType()),
            StructField("n_items", LongType()),
        ]
    )
    payload_cols = [f.name for f in out_fields]
    nbytes = buckets * SLOTS * 2

    def fn(key: tuple, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(right):
            table = (
                np.frombuffer(right["table"].iloc[0], dtype=np.uint16)
                .reshape(buckets, SLOTS)
                .copy()
            )
            st_b, st_fp = _decode_stash(right["stash"].iloc[0])
            n_items = int(right["n_items"].iloc[0])
        else:
            table = np.zeros((buckets, SLOTS), dtype=np.uint16)
            st_b = np.zeros(0, dtype=np.int64)
            st_fp = np.zeros(0, dtype=np.uint16)
            n_items = 0
        st_b_l = list(st_b)
        st_fp_l = list(st_fp)
        rows = []
        if len(left):
            h1 = left["_h1"].to_numpy()
            h2 = left["_h2"].to_numpy()
            keys = np.stack([h1, h2], axis=1)
            _, first_idx = np.unique(keys, axis=0, return_index=True)
            fp, i1, i2 = _fp_and_buckets(h2[first_idx], buckets)
            # vectorized probe: both candidate buckets + stash
            present = (table[i1] == fp[:, None]).any(axis=1) | (
                table[i2] == fp[:, None]
            ).any(axis=1)
            if len(st_b):
                present |= (
                    (st_fp[None, :] == fp[:, None])
                    & ((st_b[None, :] == i1[:, None]) | (st_b[None, :] == i2[:, None]))
                ).any(axis=1)
            novel = ~present
            if novel.any():
                nf, n1, n2 = fp[novel], i1[novel], i2[novel]
                placed = _place_free(table, nf, n1)
                placed[~placed] = _place_free(table, nf[~placed], n2[~placed])
                for j in np.flatnonzero(~placed):
                    if not _kick_insert(table, int(nf[j]), int(n1[j]), buckets):
                        # bounded eviction failed — stash, never drop
                        # (preserves the no-false-negative guarantee)
                        st_b_l.append(int(n1[j]))
                        st_fp_l.append(int(nf[j]))
                n_items += int(novel.sum())
            seen_flags = np.ones(len(left), dtype=bool)
            seen_flags[first_idx[novel]] = False
            url_out = left[payload_cols].copy()
            url_out["seen"] = seen_flags
            url_out["table"] = None
            url_out["stash"] = None
            url_out["n_items"] = None
            rows.append(url_out)
        shard_row = {c: [None] for c in payload_cols}
        shard_row["shard"] = [key[0]]
        shard_row["seen"] = [None]
        shard_row["table"] = [table.tobytes()]
        shard_row["stash"] = [
            _encode_stash(
                np.asarray(st_b_l, dtype=np.int64),
                np.asarray(st_fp_l, dtype=np.uint16),
            )
        ]
        shard_row["n_items"] = [n_items]
        rows.append(pd.DataFrame(shard_row))
        return pd.concat(rows, ignore_index=True)

    return (
        urls_h.groupby("shard")
        .cogroup(shards.groupby("shard"))
        .applyInPandas(fn, out_schema)
    )


def split(combined: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a ``probe_combined`` frame into (flagged urls, new shards)."""
    flagged = combined.filter(F.col("seen").isNotNull()).drop(
        "table", "stash", "n_items"
    )
    new_shards = combined.filter(F.col("table").isNotNull()).select(
        "shard", "table", "stash", "n_items"
    )
    return flagged, new_shards


def probe_and_insert(
    urls: DataFrame,
    shards: DataFrame,
    key_col: str = "taskid",
    n_shards: int = DEFAULT_SHARDS,
    buckets: int = DEFAULT_BUCKETS,
) -> tuple[DataFrame, DataFrame]:
    return split(probe_combined(urls, shards, key_col, n_shards, buckets))


def delete_keys(
    urls: DataFrame,
    shards: DataFrame,
    key_col: str = "taskid",
    n_shards: int = DEFAULT_SHARDS,
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """Remove ONE stored copy of each key's fingerprint (re-opening a
    URL on itag change / force_update / project delete).  Keys must have been inserted (deleting a
    never-inserted key can evict an aliasing fingerprint — standard
    cuckoo-filter contract).  Returns the updated shards frame."""
    urls_h = with_hashes(urls.select(key_col), key_col, n_shards)

    def fn(key: tuple, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(right):
            table = (
                np.frombuffer(right["table"].iloc[0], dtype=np.uint16)
                .reshape(buckets, SLOTS)
                .copy()
            )
            st_b, st_fp = _decode_stash(right["stash"].iloc[0])
            n_items = int(right["n_items"].iloc[0])
        else:
            return pd.DataFrame(
                {
                    "shard": [key[0]],
                    "table": [bytes(buckets * SLOTS * 2)],
                    "stash": [b""],
                    "n_items": [0],
                }
            )
        keep = np.ones(len(st_b), dtype=bool)
        if len(left):
            h2 = left["_h2"].to_numpy()
            keys = np.stack([left["_h1"].to_numpy(), h2], axis=1)
            _, first_idx = np.unique(keys, axis=0, return_index=True)
            fp, i1, i2 = _fp_and_buckets(h2[first_idx], buckets)
            for j in range(len(fp)):
                removed = False
                for b in (int(i1[j]), int(i2[j])):
                    slots = np.flatnonzero(table[b] == fp[j])
                    if len(slots):
                        table[b, slots[0]] = 0
                        removed = True
                        break
                if not removed and len(st_b):
                    cand = np.flatnonzero(
                        keep
                        & (st_fp == fp[j])
                        & ((st_b == i1[j]) | (st_b == i2[j]))
                    )
                    if len(cand):
                        keep[cand[0]] = False
                        removed = True
                if removed:
                    n_items -= 1
        return pd.DataFrame(
            {
                "shard": [key[0]],
                "table": [table.tobytes()],
                "stash": [_encode_stash(st_b[keep], st_fp[keep])],
                "n_items": [n_items],
            }
        )

    return (
        urls_h.groupby("shard")
        .cogroup(shards.groupby("shard"))
        .applyInPandas(fn, SHARD_SCHEMA)
    )


def fp_rate(buckets: int = DEFAULT_BUCKETS, load: float = 0.95) -> float:
    """Expected false-positive probability: 2 buckets × SLOTS slots of
    16-bit fingerprints at the given load factor."""
    return load * 2 * SLOTS / 65536.0


def load_factor(n_items: int, buckets: int = DEFAULT_BUCKETS) -> float:
    return n_items / float(buckets * SLOTS)
