"""Vectorized MurmurHash3_x64_128 — reference-exact Elasticsearch
``Generate_ID`` parity.

The reference generates ES document ids as
``MurmurHash3_x64_128(record_bytes, seed=42)`` formatted as a UUID from
the 8 little-endian 16-bit words of the 128-bit digest
(plugins/out_es/es.c:488-494, uint16_t hash[8] at es.c:273; algorithm is
Austin Appleby's public-domain MurmurHash3, plugins/out_es/murmur3.c).

This module implements the same function batch-vectorized in numpy: the
whole Arrow batch is zero-padded into one (rows x padded_len) uint8
matrix, the 16-byte body blocks are mixed for all rows at once with a
per-row liveness mask, and the tail bytes fall out of the zero padding
for free (Murmur's tail switch ORs ``byte << shift`` only for bytes
below ``len & 15``; OR-ing the zero padding is the identity, so no mask
is needed).  No per-row Python in the hash itself — only the final
``%04x`` UUID formatting is a row loop, like any string render.

Deviation vs the reference (documented): the hashed bytes are the
record's JSON serialization, not its msgpack serialization — the hash
function and UUID formatting are byte-exact, the serialization feeding
it is not.  Test vectors in tests/test_hashing.py were generated by
compiling and running the reference murmur3.c with seed 42.

`md5_32` is the package's cross-engine 32-bit content hash (Spark and
DuckDB compute it identically), shared by the sampling, sketch, dedup
and curation operators and by `metrics.partition_watermarks`.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

_C1 = np.uint64(0x87C37B91114253D5)
_C2 = np.uint64(0x4CF5AD432745937F)
_SEED = 42  # plugins/out_es/es.c:489


def _rotl64(x: np.ndarray, r: int) -> np.ndarray:
    rr = np.uint64(r)
    return (x << rr) | (x >> (np.uint64(64) - rr))


def _fmix64(k: np.ndarray) -> np.ndarray:
    k = k ^ (k >> np.uint64(33))
    k = k * np.uint64(0xFF51AFD7ED558CCD)
    k = k ^ (k >> np.uint64(33))
    k = k * np.uint64(0xC4CEB9FE1A85EC53)
    k = k ^ (k >> np.uint64(33))
    return k


def murmur3_x64_128_batch(
    values, seed: int = _SEED
) -> tuple[np.ndarray, np.ndarray]:
    """MurmurHash3_x64_128 over a batch of str/bytes.

    Returns ``(h1, h2)`` uint64 arrays — the two 64-bit halves of each
    128-bit digest, in the order the reference writes them to ``out``.

    Rows are processed in power-of-two length buckets: padding the
    whole batch to the longest row would let one multi-MB record
    inflate the padded matrix to batch_rows x max_len (GBs for a 10k
    Arrow batch), and the masked block loop would spin max-blocks
    iterations for every row. Within a bucket, padding waste and dead
    loop iterations are bounded at 2x.
    """
    vals = [
        v if isinstance(v, (bytes, bytearray)) else str(v).encode("utf-8")
        for v in values
    ]
    n = len(vals)
    if n == 0:
        return np.empty(0, np.uint64), np.empty(0, np.uint64)
    lens = np.fromiter((len(v) for v in vals), dtype=np.int64, count=n)
    blocks = lens // 16 + 1  # padded block count incl. spare tail block
    # frexp exponent = floor(log2(blocks)) + 1 -> power-of-two bucket id
    level = np.frexp(blocks.astype(np.float64))[1]
    h1 = np.empty(n, np.uint64)
    h2 = np.empty(n, np.uint64)
    for lv in np.unique(level):
        idx = np.nonzero(level == lv)[0]
        g1, g2 = _hash_group([vals[i] for i in idx], lens[idx], seed)
        h1[idx] = g1
        h2[idx] = g2
    return h1, h2


def _hash_group(
    vals: list, lens: np.ndarray, seed: int
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized digest of one similar-length group."""
    n = len(vals)
    # One spare 16-byte block past the longest row so the (masked-dead)
    # tail gather never reads out of bounds.
    padded = (int(lens.max()) // 16 + 1) * 16
    buf = np.frombuffer(
        b"".join(bytes(v).ljust(padded, b"\x00") for v in vals), dtype=np.uint8
    ).reshape(n, padded)
    words = buf.view("<u8")  # (n, padded//8) little-endian, ≙ getblock64

    with np.errstate(over="ignore"):
        h1 = np.full(n, np.uint64(seed))
        h2 = h1.copy()
        nblocks = lens // 16
        for j in range(padded // 16):
            live = nblocks > j
            if not live.any():
                break
            k1 = words[:, 2 * j] * _C1
            k1 = _rotl64(k1, 31) * _C2
            nh1 = _rotl64(h1 ^ k1, 27) + h2
            nh1 = nh1 * np.uint64(5) + np.uint64(0x52DCE729)
            k2 = words[:, 2 * j + 1] * _C2
            k2 = _rotl64(k2, 33) * _C1
            nh2 = _rotl64(h2 ^ k2, 31) + nh1
            nh2 = nh2 * np.uint64(5) + np.uint64(0x38495AB5)
            h1 = np.where(live, nh1, h1)
            h2 = np.where(live, nh2, h2)

        # Tail: the zero padding makes the reference's byte-OR switch a
        # plain word load, and a zero tail word mixes to h ^= 0.
        tail = (nblocks * 2).astype(np.int64)
        k1 = np.take_along_axis(words, tail[:, None], axis=1)[:, 0] * _C1
        h1 = h1 ^ (_rotl64(k1, 31) * _C2)
        k2 = np.take_along_axis(words, tail[:, None] + 1, axis=1)[:, 0] * _C2
        h2 = h2 ^ (_rotl64(k2, 33) * _C1)

        ulens = lens.astype(np.uint64)
        h1 = h1 ^ ulens
        h2 = h2 ^ ulens
        h1 = h1 + h2
        h2 = h2 + h1
        h1 = _fmix64(h1)
        h2 = _fmix64(h2)
        h1 = h1 + h2
        h2 = h2 + h1
    return h1, h2


def es_uuid_batch(values, seed: int = _SEED) -> list[str]:
    """Format each digest exactly like es.c:490-494:
    ``"%04x%04x-%04x-%04x-%04x-%04x%04x%04x"`` over the 8 little-endian
    uint16 words of the 128-bit output."""
    h1, h2 = murmur3_x64_128_batch(values, seed)
    w = np.empty((len(h1), 8), np.uint16)
    for i in range(4):
        w[:, i] = (h1 >> np.uint64(16 * i)).astype(np.uint16)
        w[:, 4 + i] = (h2 >> np.uint64(16 * i)).astype(np.uint16)
    return [
        f"{r[0]:04x}{r[1]:04x}-{r[2]:04x}-{r[3]:04x}-{r[4]:04x}-{r[5]:04x}{r[6]:04x}{r[7]:04x}"
        for r in w
    ]


@F.pandas_udf(StringType())
def es_generate_id(serialized: pd.Series) -> pd.Series:
    """Arrow-vectorized ES Generate_ID: murmur3_x64_128(bytes, 42) →
    UUID string. Feed it the record's serialized form, e.g.
    ``F.to_json(F.struct(*cols))``."""
    return pd.Series(es_uuid_batch(serialized.fillna("")), index=serialized.index)


# 32-bit hash both Spark (JVM md5 + conv) and DuckDB
# (('0x'||substr(md5(x),1,8))::BIGINT) compute identically — this is
# what makes the whole MinHash/SimHash family exactly oracle-checkable
# (the oracle re-derives the same signatures in pure SQL).

def md5_32(s: Column, offset: int = 1) -> Column:
    """First (or offset-th) 4 bytes of md5(s) as a non-negative long."""
    return F.conv(F.substring(F.md5(s), offset, 8), 16, 10).cast("long")
