"""Vectorized (Arrow-batched) similarity kernels as pandas UDFs.

These are the only Python-side compute kernels in the engine. They are
``pandas_udf``s — Arrow batch transfer, no row-at-a-time Python UDFs anywhere
(per the input_hint in BASELINE.json). Semantics follow the reference:

* ``trigram_cosine`` — multiset cosine over padded 3-grams, the reference's
  ``COSINE_TRIGRAM`` metric (simmetrics ``qGramWithPadding(3)``; see
  ``util/Utils.java:853-873``). Inputs must already be normalized with
  ``functions.text.normalize_text`` (the reference's ``simplify``,
  ``util/Utils.java:832-851``). Counts are integers, so dot and norms are
  exact in float64 and the resulting double is engine-deterministic.
* ``minhash_signature`` — k-permutation MinHash over word shingles; seeds are
  fixed at construction so signatures are identical across micro-batches and
  checkpoint resumes (LSH banding analogue of
  ``model/functions/blocking/lsh/LshCandidateCreator.java:23-29``).
* ``shingle_hashes`` → ``minhash`` → ``band_keys`` — the one record
  signature (Catalyst column helpers around the MinHash UDF) that the batch
  pipeline, the dedup suite and the streaming job all call, so batch and
  stream band identically by construction.
* ``simhash64`` — 64-bit SimHash over tokens (bit-vote fingerprint).
"""

from __future__ import annotations

import zlib
from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType

MERSENNE_P = (1 << 61) - 1
_MAX_I64 = 1 << 63


def _padded_trigrams(s: str) -> Counter:
    p = "##" + s + "##"
    return Counter(p[i : i + 3] for i in range(len(p) - 2))


def _trigram_table(strings: list) -> tuple:
    """Per-unique-string padded-trigram count table, fully vectorized.

    Returns (indptr, codes, counts, norms): for string i,
    codes[indptr[i]:indptr[i+1]] are its distinct trigram codes (sorted) and
    counts[...] the multiset counts; norms[i] = Σ count². Codes are exact
    24-bit byte triples (c0<<16 | c1<<8 | c2) — for ASCII (all normalized
    text) byte trigrams ≡ character trigrams, zero collisions. Non-ASCII
    strings are diverted to the Counter fallback by the caller.
    """
    enc = [("##" + s + "##").encode("utf-8") for s in strings]
    lens = np.fromiter((len(b) for b in enc), dtype=np.int64, count=len(enc))
    buf = np.frombuffer(b"".join(enc), dtype=np.uint8).astype(np.int64)
    ends = np.cumsum(lens)
    starts = ends - lens
    n_tri = lens - 2  # every padded string has >= 4 bytes → >= 2 trigrams
    # positions of every trigram start, grouped by string
    tri_str = np.repeat(np.arange(len(enc), dtype=np.int64), n_tri)
    tri_pos = np.arange(n_tri.sum(), dtype=np.int64) + np.repeat(
        starts - np.concatenate(([0], np.cumsum(n_tri)[:-1])), n_tri
    )
    code = (buf[tri_pos] << 16) | (buf[tri_pos + 1] << 8) | buf[tri_pos + 2]
    # multiset counts per (string, code): sort then run-length encode
    key = (tri_str << 24) | code
    key.sort()
    boundary = np.empty(len(key), dtype=bool)
    boundary[0] = True
    np.not_equal(key[1:], key[:-1], out=boundary[1:])
    uniq = key[boundary]
    counts = np.diff(np.concatenate((np.flatnonzero(boundary), [len(key)])))
    u_str = uniq >> 24
    u_code = uniq & 0xFFFFFF
    indptr = np.concatenate(
        ([0], np.cumsum(np.bincount(u_str, minlength=len(enc))))
    )
    norms = np.zeros(len(enc), dtype=np.int64)
    np.add.at(norms, u_str, counts * counts)
    return indptr, u_code, counts, norms


@F.pandas_udf(DoubleType())
def trigram_cosine(a: pd.Series, b: pd.Series) -> pd.Series:
    """Multiset cosine over padded character 3-grams — vectorized exact path.

    Strategy: factorize each side to unique strings (labels repeat across
    many pairs), build per-unique trigram count tables with numpy
    (``_trigram_table``), then compute every pair's dot product in one
    sorted-key intersection over the whole batch: rows (pair, code, count)
    for both sides meet via ``np.intersect1d`` on the composite key.
    Integer counts → float64 dot/norms are exact, so results are
    bit-identical to the per-pair Counter fallback (used only for rows with
    non-ASCII text, where byte-trigrams ≠ char-trigrams).
    """
    n = len(a)
    out = np.zeros(n, dtype=np.float64)
    if n == 0:
        return pd.Series(out)
    av = a.to_numpy(dtype=object)
    bv = b.to_numpy(dtype=object)
    valid = np.fromiter(
        (
            x is not None and y is not None and x.isascii() and y.isascii()
            for x, y in zip(av, bv)
        ),
        dtype=bool,
        count=n,
    )
    # slow-path rows: None → 0.0; non-ASCII → exact Counter math
    for i in np.flatnonzero(~valid):
        x, y = av[i], bv[i]
        if x is None or y is None:
            continue
        ca, cb = _padded_trigrams(x), _padded_trigrams(y)
        dot = sum(c * cb[t] for t, c in ca.items())
        if dot:
            na = sum(c * c for c in ca.values())
            nb = sum(c * c for c in cb.values())
            out[i] = float(dot) / float(np.sqrt(float(na) * float(nb)))
    idx = np.flatnonzero(valid)
    if len(idx) == 0:
        return pd.Series(out)
    ua, ia = np.unique(av[idx].astype(str), return_inverse=True)
    ub, ib = np.unique(bv[idx].astype(str), return_inverse=True)
    pa, ca_codes, ca_counts, na = _trigram_table(list(ua))
    pb, cb_codes, cb_counts, nb = _trigram_table(list(ub))

    def expand(indptr, codes, counts, inv):
        """(pair, code, count) rows for every valid pair's side."""
        seg = indptr[inv + 1] - indptr[inv]  # entries per pair
        row = np.repeat(np.arange(len(inv), dtype=np.int64), seg)
        # element positions: for pair j, indptr[inv[j]] .. +seg[j]
        ofs = np.arange(seg.sum(), dtype=np.int64) - np.repeat(
            np.concatenate(([0], np.cumsum(seg)[:-1])), seg
        )
        pos = np.repeat(indptr[inv], seg) + ofs
        return (row << 24) | codes[pos], counts[pos]

    ka, wa = expand(pa, ca_codes, ca_counts, ia)
    kb, wb = expand(pb, cb_codes, cb_counts, ib)
    # both key arrays are already sorted (codes sorted within each pair, pair
    # ids ascending) → binary-search intersection, no re-sort
    dots = np.zeros(len(idx), dtype=np.int64)
    if len(ka) and len(kb):
        pos = np.searchsorted(ka, kb)
        pos[pos == len(ka)] = 0  # out-of-range probes can never match ka[0]
        hit = ka[pos] == kb
        # bincount with float weights ≫ unbuffered add.at; products are
        # integers < 2^53 so the float64 accumulation is exact
        dots = np.bincount(
            kb[hit] >> 24,
            weights=(wa[pos[hit]] * wb[hit]).astype(np.float64),
            minlength=len(idx),
        ).astype(np.int64)
    nz = dots > 0
    res = np.zeros(len(idx), dtype=np.float64)
    res[nz] = dots[nz].astype(np.float64) / np.sqrt(
        na[ia[nz]].astype(np.float64) * nb[ib[nz]].astype(np.float64)
    )
    out[idx] = res
    return pd.Series(out)


def _jaro(s1: str, s2: str) -> float:
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0
    if s1 == s2:
        return 1.0
    win = max(max(l1, l2) // 2 - 1, 0)
    m1 = [False] * l1
    m2 = [False] * l2
    m = 0
    for i in range(l1):
        lo, hi = max(0, i - win), min(l2, i + win + 1)
        for j in range(lo, hi):
            if not m2[j] and s1[i] == s2[j]:
                m1[i] = m2[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(l1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    return (m / l1 + m / l2 + (m - t) / m) / 3.0


def _pad_codes(strings: list) -> tuple:
    """(N, maxlen) uint32 code-point matrix + per-string lengths. numpy's
    fixed-width unicode dtype does the UTF-32 decode and NUL-pads short
    strings in C — no per-string Python. NUL padding is safe for the
    matching loops (the window mask already excludes j >= l2, and i >= l1
    is guarded explicitly); the prefix computation masks padding by length."""
    lens = np.fromiter((len(s) for s in strings), dtype=np.int64, count=len(strings))
    width = max(int(lens.max(initial=0)), 1)
    arr = np.array(strings, dtype=f"<U{width}")
    return arr.view(np.uint32).reshape(len(strings), width), lens


def _jw_finish(A, B, l1, l2, m1, m2) -> np.ndarray:
    """Shared tail: transpositions + Jaro formula + Winkler boost from the
    matched-position boolean matrices. Float expression order replicates the
    scalar ``_jaro`` exactly, so results are bit-identical."""
    n, L1 = m1.shape
    L2 = m2.shape[1]
    m = m1.sum(axis=1)
    valid = m > 0
    if valid.any():
        # transpositions: both np.nonzero streams are row-major and the
        # per-row match counts are equal, so the two char sequences align
        # element-wise — compare directly, no gather matrices needed
        rows1, cols1 = np.nonzero(m1)
        rows2, cols2 = np.nonzero(m2)
        diff = (A[rows1, cols1] != B[rows2, cols2]).astype(np.float64)
        t = np.bincount(rows1, weights=diff, minlength=n) // 2
        mf = m.astype(np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            j = (mf / l1 + mf / l2 + (mf - t) / mf) / 3.0
        j = np.where(valid, j, 0.0)
    else:
        j = np.zeros(n, dtype=np.float64)
    # Winkler boost: common prefix (≤4, capped by the shorter string —
    # NUL padding must not count as a match), applied when jaro > 0.7
    P = min(4, L1, L2)
    if P > 0:
        eq = (A[:, :P] == B[:, :P]) & (
            np.arange(P)[None, :] < np.minimum(l1, l2)[:, None]
        )
        l_pref = np.cumprod(eq, axis=1).sum(axis=1).astype(np.float64)
    else:
        l_pref = np.zeros(n, dtype=np.float64)
    return np.where(j > 0.7, j + l_pref * 0.1 * (1.0 - j), j)


_U64_FULL = np.uint64(0xFFFFFFFFFFFFFFFF)
# _MASK_LUT[k] = lowest k bits set — turns window-mask math into two takes
_MASK_LUT = np.concatenate(
    ([np.uint64(0)], _U64_FULL >> (np.uint64(64) - np.arange(1, 65, dtype=np.uint64)))
)


def _jw_batch_bits(sa: list, sb: list) -> np.ndarray:
    """Bit-parallel Jaro-Winkler, vectorized ACROSS pairs (the hot path for
    ASCII strings up to ~256 chars — every normalized label).

    Each pair's s2 is indexed as per-character W-word uint64 position masks
    (``occ2[pair, char, w] = bitmask of js with s2[j]==char``). The greedy
    matching loop then runs over s1 positions only: the scalar "first
    unmatched j in the window with an equal char" is exactly the lowest set
    bit of ``occ2[char] & ~consumed & window_mask`` — a handful of vector
    ops per character position instead of an O(window) interpreted inner
    scan. Bit-identical to the scalar ``_jaro`` (same greedy order, same
    float expression order); non-ASCII rows must be routed elsewhere by the
    caller (the dense occ2 table is indexed by code point < 128)."""
    n = len(sa)
    if n == 0:
        return np.zeros(0, dtype=np.float64)
    A, l1 = _pad_codes(sa)
    B, l2 = _pad_codes(sb)
    L1, L2 = A.shape[1], B.shape[1]
    W = (L2 + 63) >> 6
    ar = np.arange(n)
    # char-major occurrence masks: occT[char, word, pair]. Same-char rows are
    # contiguous, so the build scatters and the per-i gathers walk ~40 dense
    # blocks instead of random lines across an n-major table (measured ~2x)
    occT = np.zeros((128, W, n), dtype=np.uint64)
    Ai = A.astype(np.intp)
    Bi = B.astype(np.intp)
    for j in range(L2):  # row indices unique per column → safe |= scatter
        occT[Bi[:, j], j >> 6, ar] |= np.uint64(1) << np.uint64(j & 63)
    # NUL-padding bits never match (A's padding char is 0 → its occT row is
    # zero, so i >= l1 positions auto-miss; real NULs are routed to the
    # masked kernel by the caller)
    occT[0] = 0

    # window word-masks, maintained INCREMENTALLY: the window [i-win,
    # i+win+1) gains exactly one bit and loses exactly one bit per step, so
    # two masked scatters per i replace a full (L1, W, n) mask precompute
    win = np.maximum(np.maximum(l1, l2) // 2 - 1, 0)
    wm = np.zeros((W, n), dtype=np.uint64)
    hi0 = np.minimum(win + 1, l2)  # window at i=0: bits [0, hi0)
    for w in range(W):
        wm[w] = _MASK_LUT[np.clip(hi0 - (w << 6), 0, 64)]
    one = np.uint64(1)

    # the greedy loop: flat 1-D takes (≈10x the 2-D fancy-index gather) and
    # explicit per-word first-nonzero selection (W ≤ 4)
    flat = occT.reshape(-1)
    wn = W * n
    m2bits = np.zeros((W, n), dtype=np.uint64)
    m1t = np.zeros((L1, n), dtype=bool)
    m2 = np.zeros((n, L2), dtype=bool)
    for i in range(L1):
        idx0 = Ai[:, i] * wn + ar
        avail = [
            flat.take(idx0 + (w * n)) & ~m2bits[w] & wm[w] for w in range(W)
        ]
        acc = avail[0]
        for w in range(1, W):
            acc = acc | avail[w]
        matched = acc != 0
        m1t[i] = matched
        rowsm = np.flatnonzero(matched)
        if len(rowsm):
            a_sel = avail[0][rowsm]
            fw = np.zeros(len(rowsm), dtype=np.int64)
            for w in range(1, W):
                need = a_sel == 0
                nxt = avail[w][rowsm]
                fw = np.where(need & (nxt != 0), w, fw)
                a_sel = np.where(need, nxt, a_sel)
            jbit = a_sel & (~a_sel + np.uint64(1))  # lowest set bit
            m2bits[fw, rowsm] |= jbit
            # jbit is a power of two → float64 log2 is exact
            jpos = (fw << 6) + np.log2(jbit.astype(np.float64)).astype(np.int64)
            m2[rowsm, jpos] = True
        # advance the window for step i+1: add bit i+win+1 (if < l2),
        # clear bit i-win (if >= 0)
        add = i + win + 1
        sel = np.flatnonzero(add < l2)
        if len(sel):
            a_p = add[sel]
            wm[a_p >> 6, sel] |= one << (a_p & 63).astype(np.uint64)
        rem = i - win
        # positions >= W*64 were never set (adds are bounded by l2 <= W*64)
        sel = np.flatnonzero((rem >= 0) & (rem < (W << 6)))
        if len(sel):
            r_p = rem[sel]
            wm[r_p >> 6, sel] &= ~(one << (r_p & 63).astype(np.uint64))
    return _jw_finish(A, B, l1, l2, np.ascontiguousarray(m1t.T), m2)


def _jw_batch_masked(sa: list, sb: list) -> np.ndarray:
    """Masked-matrix Jaro-Winkler (pairs up to ``_JW_MAXLEN`` chars),
    vectorized across pairs: the greedy matching advances every pair
    simultaneously as boolean masks — O(L1·L2) vector ops of O(N) each.
    Exact; used for long-string buckets where 64-bit masks don't fit."""
    n = len(sa)
    res = np.zeros(n, dtype=np.float64)
    if n == 0:
        return res
    A, l1 = _pad_codes(sa)
    B, l2 = _pad_codes(sb)
    L1, L2 = A.shape[1], B.shape[1]
    win = np.maximum(np.maximum(l1, l2) // 2 - 1, 0)
    m1 = np.zeros((n, L1), dtype=bool)
    m2 = np.zeros((n, L2), dtype=bool)
    wmax = int(win.max())
    for i in range(L1):
        ai = A[:, i]
        active = i < l1  # NUL padding on A must never match a real NUL
        found = np.zeros(n, dtype=bool)
        lo = i - win
        hi = np.minimum(l2, i + win + 1)
        for j in range(max(0, i - wmax), min(L2, i + wmax + 1)):
            cand = (
                active & (~found) & (j >= lo) & (j < hi) & (~m2[:, j])
                & (B[:, j] == ai)
            )
            if cand.any():
                m2[cand, j] = True
                m1[cand, i] = True
                found |= cand
    return _jw_finish(A, B, l1, l2, m1, m2)


# pairs longer than this fall back to the scalar path (the O(L1·L2) batch
# matrices stop paying off; labels are short, so this is a cold path)
_JW_MAXLEN = 512


@F.pandas_udf(DoubleType())
def jaro_winkler(a: pd.Series, b: pd.Series) -> pd.Series:
    """Jaro-Winkler similarity — the reference's second core string metric
    (simmetrics ``JaroWinkler()`` defaults: boost threshold 0.7, prefix
    scale 0.1, max common prefix 4; ``util/Utils.java:864-867``).

    Vectorized across pairs (``_jw_batch``), length-bucketed so one long
    outlier doesn't widen every pair's matrices. Matches DuckDB's
    ``jaro_winkler_similarity`` bit-for-bit (the oracle; verified on 20k
    random pairs + the corpus label pairs), including its empty-vs-empty =
    0.0 convention (simmetrics returns 1.0 there — labels are never empty
    after normalization, so the divergence is unreachable in the
    pipelines)."""
    n = len(a)
    out = np.zeros(n, dtype=np.float64)
    if n == 0:
        return pd.Series(out)
    av = a.to_numpy(dtype=object)
    bv = b.to_numpy(dtype=object)
    ok = np.fromiter(
        (x is not None and y is not None for x, y in zip(av, bv)), dtype=bool, count=n
    )
    idx = np.flatnonzero(ok)
    if len(idx) == 0:
        return pd.Series(out)
    maxlen = np.fromiter(
        (max(len(av[i]), len(bv[i])) for i in idx), dtype=np.int64, count=len(idx)
    )
    is_ascii = np.fromiter(
        (
            av[i].isascii()
            and bv[i].isascii()
            and "\x00" not in av[i]
            and "\x00" not in bv[i]
            for i in idx
        ),
        dtype=bool,
        count=len(idx),
    )
    # ASCII ≤ 256 chars (every normalized label) → bit-parallel kernel,
    # length-bucketed and chunked (dense occ2 tables stay ~30 MB);
    # long or non-ASCII → masked-matrix kernel; > _JW_MAXLEN → scalar
    fast = idx[is_ascii & (maxlen > 0) & (maxlen <= 256)]
    # length-sorted chunks: each chunk's matrices are as narrow as its own
    # longest string, not the batch's
    fast = fast[np.argsort(maxlen[is_ascii & (maxlen > 0) & (maxlen <= 256)])]
    for c in range(0, len(fast), 8192):
        ch = fast[c : c + 8192]
        out[ch] = _jw_batch_bits([av[i] for i in ch], [bv[i] for i in ch])
    sel = idx[(~is_ascii & (maxlen <= _JW_MAXLEN)) | ((maxlen > 256) & (maxlen <= _JW_MAXLEN))]
    for c in range(0, len(sel), 8192):
        ch = sel[c : c + 8192]
        out[ch] = _jw_batch_masked([av[i] for i in ch], [bv[i] for i in ch])
    for i in idx[maxlen > _JW_MAXLEN]:  # cold path: scalar, exact
        x, y = av[i], bv[i]
        j = _jaro(x, y)
        if j > 0.7:
            l = 0
            for cx, cy in zip(x[:4], y[:4]):
                if cx == cy:
                    l += 1
                else:
                    break
            j = j + l * 0.1 * (1 - j)
        out[i] = j
    return pd.Series(out)


def _shingle_hashes(tokens, width: int) -> np.ndarray:
    """Stable 32-bit hashes of word w-shingles.

    Accepts either string tokens (crc32 per shingle — platform-stable) or
    already-hashed int64 values (callers hash JVM-side with
    ``shingle_hashes`` to keep Arrow transfer and Python CPU low; the
    ``& 0xFFFFFFFF`` fold keeps them in 32 bits so the exact modmul in
    ``_min_perm`` holds)."""
    if len(tokens) > 0 and not isinstance(tokens[0], str):
        return np.asarray(tokens, dtype=np.int64) & 0xFFFFFFFF
    if len(tokens) < width:
        shingles = [" ".join(tokens)] if tokens else [""]
    else:
        shingles = [" ".join(tokens[i : i + width]) for i in range(len(tokens) - width + 1)]
    return np.fromiter(
        (zlib.crc32(s.encode("utf-8")) for s in shingles), dtype=np.int64, count=len(shingles)
    )


def make_minhash_udf(num_hashes: int = 16, shingle_width: int = 1, seed: int = 42):
    """Build a pandas UDF computing MinHash signatures over a token array.

    Coefficients are derived from ``seed`` at construction (never from wall
    clock), so a resumed streaming job recomputes identical signatures —
    required for deterministic checkpoint recovery.
    """
    rng = np.random.default_rng(seed)
    a = rng.integers(1, MERSENNE_P, size=num_hashes, dtype=np.int64)
    b = rng.integers(0, MERSENNE_P, size=num_hashes, dtype=np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def minhash_signature(tokens: pd.Series) -> pd.Series:
        out = []
        for toks in tokens:
            if toks is None or len(toks) == 0:
                out.append([0] * num_hashes)
                continue
            x = _shingle_hashes(list(toks), shingle_width)
            # (a*x + b) mod p, computed in object→int64-safe space:
            # a,x < 2^61, product fits in python ints; vectorize via float trick
            # is unsafe, so use int64 modmul decomposition.
            sig = _min_perm(x, a, b)
            out.append(sig.tolist())
        return pd.Series(out)

    return minhash_signature


def shingle_hashes(token_hashes, width: int) -> Column:
    """Distinct int64 hashes of word ``width``-shingles, built from an
    ordered array of per-token hashes (duplicates kept — shingles need
    order): shingle i hashes as ``xxhash64(th[i], ..., th[i+width-1])``, so
    no shingle strings are ever materialized. A document shorter than
    ``width`` tokens yields one truncated shingle — out-of-range positions
    are NULL (``try_element_at``), which ``xxhash64`` skips, mirroring the
    ``concat_ws`` semantics of ``operators.dedup.word_shingles``. Hashes keep
    the full 64-bit range; ``minhash`` folds them to 32 bits.

    IMPORTANT: pass a *bound column* (``withColumn("_th", ...)`` first), not
    an inline ``transform(split(...))`` expression — Catalyst inlines the
    argument into every ``element_at``, turning shingling O(n²) per document
    (measured 94 s vs 1.6 s on 25k conversations)."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.lit(1), F.size(token_hashes) - (width - 1))),
            lambda i: F.xxhash64(
                *[F.try_element_at(token_hashes, i + j) for j in range(width)]
            ),
        )
    )


def minhash(shingle_hashes, n: int) -> Column:
    """``n``-permutation MinHash signature (array<long>) of an int64 hash
    array. The UDF masks each hash with ``& 0xFFFFFFFF`` (≡ ``pmod(h, 2^32)``
    for int64), which keeps the exact modmul of ``_min_perm`` in int64."""
    return make_minhash_udf(num_hashes=n, shingle_width=1)(shingle_hashes)


def band_keys(sig, bands: int, rows_per_band: int = 1) -> Column:
    """LSH band keys of a MinHash signature: array of ``bands`` longs,
    position = band index, key = ``xxhash64`` of the band's row slice cast
    to string (``"[v]"`` for one row, ``"[v1, v2]"`` for two). Replayed
    outside Spark by ``data.oracle_features.band_table``."""
    sig = F.col(sig) if isinstance(sig, str) else sig
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda i: F.xxhash64(F.slice(sig, i * rows_per_band + 1, rows_per_band).cast("string")),
    )


def _min_perm(x: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """min over shingles of (a_i * x + b_i) mod p, exact (no overflow).

    x < 2^32, a < 2^61: split a into hi/lo 31-bit halves so every product
    stays under 2^63. All ops int64.
    """
    p = MERSENNE_P
    x = x.astype(np.int64) % p
    a_lo = a & ((1 << 31) - 1)
    a_hi = a >> 31
    # (a_hi*2^31 + a_lo) * x  mod p  ==  ((a_hi*x mod p) * 2^31 + a_lo*x) mod p
    hi = (a_hi[:, None] * x[None, :]) % p  # a_hi<2^30, x<2^32 → <2^62 OK
    lo = (a_lo[:, None] * x[None, :]) % p
    # hi*2^31 mod p without overflow: hi < p = 2^61-1 so hi<<31 would wrap
    # int64. Split hi = h1*2^30 + h0; since 2^61 ≡ 1 (mod p, Mersenne),
    # hi*2^31 ≡ h1 + (h0 << 31); h0 < 2^30 so every term stays < 2^61 and the
    # three-term sum < 3*2^61 < 2^63. Verified against big-int modmul in
    # tests/test_functions.py::test_min_perm_exact.
    hi_shifted = (hi >> 30) + ((hi & ((1 << 30) - 1)) << 31)
    v = (hi_shifted % p + lo + b[:, None]) % p
    return v.min(axis=1)


def make_simhash_udf(seed: int = 42, remix: bool = True):
    """64-bit SimHash fingerprint over PRE-HASHED tokens (``array<long>``).

    Tokens are hashed JVM-side (``F.xxhash64`` — see
    ``operators/dedup.simhash_dedup``) so the Arrow batch carries int64
    arrays, not strings, and the whole batch is fingerprinted in 64
    vectorized passes: remix hashes (splitmix64 finalizer, seed-dependent),
    then per bit position one segmented popcount (``np.add.reduceat`` over
    document boundaries) decides the majority vote. No per-token Python.
    A bit is set iff more than half the tokens have it set — identical
    voting rule to the classic per-token formulation.

    ``remix=False`` skips the splitmix64 finalizer and votes on the input
    hashes as-is — used when the caller supplies already-uniform hashes
    whose bit pattern must be reproducible by an external oracle engine
    (wrap-around uint64 multiplication is not portable SQL)."""
    s0 = np.uint64((seed * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF)
    c1 = np.uint64(0xBF58476D1CE4E5B9)
    c2 = np.uint64(0x94D049BB133111EB)
    one = np.uint64(1)

    @F.pandas_udf(LongType())
    def simhash64(hashes: pd.Series) -> pd.Series:
        n = len(hashes)
        out = np.zeros(n, dtype=np.uint64)
        if n == 0:
            return pd.Series(out.view(np.int64))
        lens = np.fromiter(
            (0 if h is None else len(h) for h in hashes), dtype=np.int64, count=n
        )
        nz = np.flatnonzero(lens > 0)
        if len(nz) == 0:
            return pd.Series(out.view(np.int64))
        with np.errstate(over="ignore"):
            flat = np.concatenate(
                [np.asarray(hashes.iloc[i], dtype=np.int64) for i in nz]
            ).view(np.uint64)
            if remix:
                # splitmix64 finalizer, seeded — decorrelates fingerprint families
                h = flat ^ s0
                h = (h ^ (h >> np.uint64(30))) * c1
                h = (h ^ (h >> np.uint64(27))) * c2
                h = h ^ (h >> np.uint64(31))
            else:
                h = flat
            seg = np.concatenate(([0], np.cumsum(lens[nz])[:-1]))
            lnz = lens[nz]
            fp = np.zeros(len(nz), dtype=np.uint64)
            for b in range(64):
                ones = np.add.reduceat((h >> np.uint64(b)) & one, seg)
                fp |= (2 * ones > lnz).astype(np.uint64) << np.uint64(b)
        out[nz] = fp
        return pd.Series(out.view(np.int64))

    return simhash64
