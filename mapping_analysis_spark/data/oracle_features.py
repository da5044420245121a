"""Pure-Python replica of the engine's featurization, for oracle tables.

The correctness oracle is DuckDB SQL, which cannot evaluate Spark's
``xxhash64``. For queries whose semantics depend on hashed features (LSH
banding in ``conv_dedup_full``), we materialize the *feature table* (rid,
band_idx, band_hash) to a parquet file both engines read — same trick as the
shared transcripts parquet. This module recomputes those features without a
SparkSession:

* ``xxh64_long`` / ``xxh64_bytes`` — bit-exact replicas of Spark's
  ``XxHash64`` expression (XXH64, seed chaining across columns; string cols
  hash their UTF-8 bytes, long cols their 8-byte LE value). Pinned against
  Spark output in ``tests/test_functions.py::test_xxhash64_replica``.
* ``band_table`` — replays the engine's one signature kernel,
  ``functions.simfns.shingle_hashes`` → ``minhash`` → ``band_keys`` (as
  called by ``pipeline.featurize_records``; sharing ``simfns._min_perm`` —
  the same modmul code Spark executes) for a transcripts DataFrame.

This is NOT the engine (the engine is the Spark path); it is test/oracle
scaffolding, deliberately slow-and-simple.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def xxh64_long(value: int, seed: int = 42) -> int:
    """Spark ``XxHash64.hashLong`` — one 8-byte little-endian long."""
    value &= _M
    h = (seed + _P5 + 8) & _M
    k1 = (value * _P2) & _M
    k1 = (_rotl(k1, 31) * _P1) & _M
    h ^= k1
    h = (_rotl(h, 27) * _P1 + _P4) & _M
    return _fmix(h)


def xxh64_bytes(data: bytes, seed: int = 42) -> int:
    """Standard XXH64 over bytes (Spark ``hashUnsafeBytesBlock``)."""
    n = len(data)
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        i = 0
        while i <= n - 32:
            for j, v in enumerate((v1, v2, v3, v4)):
                lane = int.from_bytes(data[i + 8 * j : i + 8 * j + 8], "little")
                v = (v + lane * _P2) & _M
                v = (_rotl(v, 31) * _P1) & _M
                if j == 0:
                    v1 = v
                elif j == 1:
                    v2 = v
                elif j == 2:
                    v3 = v
                else:
                    v4 = v
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            k = (v * _P2) & _M
            k = (_rotl(k, 31) * _P1) & _M
            h ^= k
            h = (h * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
        i = 0
    h = (h + n) & _M
    while i <= n - 8:
        k = int.from_bytes(data[i : i + 8], "little")
        k = (k * _P2) & _M
        k = (_rotl(k, 31) * _P1) & _M
        h ^= k
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i <= n - 4:
        k = int.from_bytes(data[i : i + 4], "little")
        h ^= (k * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    return _fmix(h)


def _to_signed(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


def xxhash64_str(s: str, seed: int = 42) -> int:
    """Spark ``F.xxhash64(string_col)`` (signed int64 result)."""
    return _to_signed(xxh64_bytes(s.encode("utf-8"), seed))


def xxhash64_longs(values: list[int], seed: int = 42) -> int:
    """Spark ``F.xxhash64(long_col, long_col, ...)`` — seed chains across
    columns (hash of column k seeds column k+1)."""
    h = seed
    for v in values:
        h = xxh64_long(v, h)
    return _to_signed(h)


_SPLIT = re.compile(r"[^a-z0-9]+")


def normalize(s: str) -> str:
    """functions.text.normalize_text replica."""
    return " ".join(t for t in _SPLIT.split(s.lower()) if t)


def greedy_replay(
    pairs: pd.DataFrame, threshold: float, max_sources: int
) -> pd.DataFrame:
    """Independent single-threaded replay of the reference's delta-iteration
    greedy merge (``DeltaIterateMergeMusicStepFunction.java:104-137``
    semantics) — the executable oracle for ``conv_greedy_merge``.

    Input columns: block, a, b, sim, a_smask, b_smask. Per block, repeatedly
    merge the (max sim, then asc a, then asc b) admissible pair (disjoint
    source masks, union popcount <= max_sources); merged id = min member id;
    surviving pair sims re-point to the merged id keeping the max
    (single-linkage). Output: (rid, cluster_rid) with cross-block
    reconciliation = min over blocks.

    Deliberately simple and separate from the distributed operator
    (``operators/clustering.greedy_merge``) so the two implementations check
    each other.
    """
    final: dict[str, str] = {}
    for _, grp in pairs.groupby("block"):
        sims: dict[tuple[str, str], float] = {}
        mask: dict[str, int] = {}
        root: dict[str, str] = {}
        for r in grp.itertuples(index=False):
            key = (r.a, r.b) if r.a < r.b else (r.b, r.a)
            sims[key] = max(sims.get(key, 0.0), r.sim)
            mask.setdefault(r.a, int(r.a_smask))
            mask.setdefault(r.b, int(r.b_smask))
        for x in mask:
            root.setdefault(x, x)
        while True:
            best = None
            for (x, y), s in sims.items():
                if s < threshold:
                    continue
                if mask[x] & mask[y]:
                    continue
                if bin(mask[x] | mask[y]).count("1") > max_sources:
                    continue
                cand = (-s, x, y)
                if best is None or cand < best:
                    best = cand
            if best is None:
                break
            _, x, y = best
            keep, gone = (x, y) if x < y else (y, x)
            for node, rt in root.items():
                if rt == gone:
                    root[node] = keep
            mask[keep] |= mask.pop(gone)
            nxt: dict[tuple[str, str], float] = {}
            for (p, q), s in sims.items():
                p2 = keep if p == gone else p
                q2 = keep if q == gone else q
                if p2 == q2:
                    continue
                k = (p2, q2) if p2 < q2 else (q2, p2)
                nxt[k] = max(nxt.get(k, 0.0), s)
            sims = nxt
        for node, rt in root.items():
            if node not in final or rt < final[node]:
                final[node] = rt
    out = pd.DataFrame(
        sorted(final.items()), columns=["rid", "cluster_rid"]
    )
    return out


def ensure_band_table(sf_dir: str, lsh_bands: int = 24) -> str:
    """Cache the (rid, band_idx, band_hash) table for ``sf_dir``'s
    transcripts under ``_synth`` and return the parquet path. Both the
    DuckDB oracle and tests read this file; Spark recomputes the identical
    values from scratch (pinned by test_band_table_matches_spark)."""
    import os

    from mapping_analysis_spark.data.transcripts import SYNTH_ROOT, ensure_transcripts

    sf_name = os.path.basename(os.path.normpath(sf_dir))
    out = os.path.join(SYNTH_ROOT, sf_name, f"bands_{lsh_bands}.parquet")
    if os.path.exists(out):
        return out
    t = pd.read_parquet(ensure_transcripts(sf_dir))
    df = band_table(t, lsh_bands=lsh_bands)
    tmp = out + ".tmp"
    df.to_parquet(tmp, index=False)
    os.replace(tmp, out)
    return out


def band_table(
    transcripts: pd.DataFrame, lsh_bands: int = 24, seed: int = 42
) -> pd.DataFrame:
    """(rid, band_idx, band_hash) rows replaying the engine's LSH banding:
    doc → ordered token hashes → 3-token shingle hash-combines
    (``simfns.shingle_hashes``; folded mod 2^32 as ``simfns.minhash`` does)
    → MinHash (``simfns._min_perm`` — the very code Spark runs) → band hash =
    xxhash64 of the single-element signature slice cast to string
    (``simfns.band_keys`` with one row per band)."""
    from mapping_analysis_spark.functions.simfns import MERSENNE_P, _min_perm

    rng = np.random.default_rng(seed)
    a = rng.integers(1, MERSENNE_P, size=lsh_bands, dtype=np.int64)
    b = rng.integers(0, MERSENNE_P, size=lsh_bands, dtype=np.int64)

    t = transcripts.sort_values(["conv_id", "turn_idx"])
    docs = t.groupby("conv_id")["text"].apply(lambda xs: normalize(" ".join(xs)))
    rows = []
    for rid, doc in docs.items():
        toks = [x for x in doc.split(" ") if x]
        th = [xxhash64_str(x) for x in toks]
        sg = sorted(
            {
                xxhash64_longs(th[i : i + 3]) % (1 << 32)
                for i in range(max(1, len(th) - 2))
            }
        )
        if sg:
            sig = _min_perm(np.array(sg, dtype=np.int64), a, b)
        else:
            sig = np.zeros(lsh_bands, dtype=np.int64)
        for band_idx, v in enumerate(sig.tolist()):
            rows.append((rid, band_idx, xxhash64_str(f"[{v}]")))
    return pd.DataFrame(rows, columns=["rid", "band_idx", "band_hash"])
