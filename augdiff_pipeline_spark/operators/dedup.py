"""Deduplication operators over the documents table.

- exact_dedup: hash-groupBy on a normalized fingerprint (md5) — fully
  native, shuffles once on the 128-bit key.
- minhash_lsh_pairs: char-shingle MinHash + banded LSH: one Arrow kernel
  emits (doc_id, band, band_hash) rows (numpy multiply-shift hashing —
  deterministic across executors, no Python ``hash``); a self-join on
  (band, band_hash) yields candidate pairs; an exact n-gram Jaccard
  kernel verifies.  The self-join shuffles only signature rows
  (docs × bands), never document text.  The signature kernel is fully
  vectorized across the batch (concatenated-buffer sliding-window
  hashing + per-salt ``minimum.reduceat``) — no per-doc Python loop.
  Default band/row split (128 perms, 64 bands of 2 rows) makes the
  per-pair miss probability at Jaccard s: (1 - s^2)^64 — ≤ 1e-8 at
  s = 0.5.  That bound is small but NOT zero (unlike the pigeonhole
  argument for SimHash below, it is probabilistic): the q19 contract's
  equality with the DuckDB brute-force oracle is dataset-verified at
  the fixture scale, not structurally guaranteed.
- simhash_column / simhash_pairs: 64-bit SimHash computed ENTIRELY in
  native Spark SQL (whole-stage codegen, zero Python): token hash is the
  low 64 bits of md5 (reproducible in any engine), bit-vote via
  higher-order aggregate/zip_with.  Candidate bands are derived from the
  threshold — bands = max_hamming + 1 — so by pigeonhole every pair with
  hamming ≤ max_hamming shares at least one exact band: the candidate
  stage is lossless and the output is exactly the brute-force pair set,
  verified by a DuckDB oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint

# -------------------------------------------------------- exact (hash) dedup
def exact_dedup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(fingerprint, canonical_id, dup_count) for groups with >1 doc."""
    fp = docs.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
    return (
        fp.groupBy("fp")
        .agg(F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


# ------------------------------------------------------------ numpy hashing
_M1 = np.uint64(0x9E3779B97F4A7C15)
_M2 = np.uint64(0xC2B2AE3D27D4EB4F)
_FNV_P = np.uint64(1099511628211)


def _mix64(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.uint64)
    x ^= x >> np.uint64(33)
    x *= _M1
    x ^= x >> np.uint64(29)
    x *= _M2
    x ^= x >> np.uint64(32)
    return x


def _shingle_hashes(text: str, n: int = 5) -> np.ndarray:
    """Deterministic 64-bit hashes of the char n-grams of ``text``."""
    b = text.lower().encode("utf-8")
    if len(b) < n:
        b = b + b" " * (n - len(b))
    a = np.frombuffer(b, dtype=np.uint8).astype(np.uint64)
    # polynomial accumulate over a sliding window, then mix
    k = len(a) - n + 1
    acc = np.zeros(k, dtype=np.uint64)
    for i in range(n):
        acc = acc * _FNV_P + a[i : i + k]
    return np.unique(_mix64(acc))


def _batch_shingle_hashes(texts: list[str], n: int = 5) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized ``_shingle_hashes`` over a whole batch.

    Returns (hashes, offsets, counts): per-doc-unique shingle hashes
    concatenated doc-major, segment start offsets, and per-doc counts.
    One sliding-window pass over the concatenated byte buffer — no
    per-doc Python loop beyond the encode.
    """
    enc = []
    for t in texts:
        b = str(t).lower().encode("utf-8")
        if len(b) < n:
            b = b + b" " * (n - len(b))
        enc.append(b)
    lens = np.array([len(b) for b in enc], dtype=np.int64)
    buf = np.frombuffer(b"".join(enc), dtype=np.uint8).astype(np.uint64)
    doc_starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    k_per_doc = lens - n + 1
    total = int(k_per_doc.sum())
    kexcl = np.concatenate([[0], np.cumsum(k_per_doc)[:-1]])
    # global byte position of each window start
    pos = np.arange(total, dtype=np.int64) - np.repeat(kexcl, k_per_doc) + np.repeat(doc_starts, k_per_doc)
    acc = np.zeros(total, dtype=np.uint64)
    for i in range(n):
        acc = acc * _FNV_P + buf[pos + i]
    hv = _mix64(acc)
    di = np.repeat(np.arange(len(texts), dtype=np.int64), k_per_doc)
    # per-doc unique: sort by (doc, hash), drop repeats within a doc
    order = np.lexsort((hv, di))
    hv_s, di_s = hv[order], di[order]
    keep = np.ones(total, dtype=bool)
    keep[1:] = (hv_s[1:] != hv_s[:-1]) | (di_s[1:] != di_s[:-1])
    hv_u, di_u = hv_s[keep], di_s[keep]
    cnts = np.bincount(di_u, minlength=len(texts)).astype(np.int64)
    offs = np.concatenate([[0], np.cumsum(cnts)[:-1]])
    return hv_u, offs, cnts


_SALT_CACHE: dict[tuple[int, int], np.ndarray] = {}


def _salts(num_perm: int, seed: int) -> np.ndarray:
    key = (num_perm, seed)
    if key not in _SALT_CACHE:
        _SALT_CACHE[key] = _mix64(np.arange(seed, seed + num_perm, dtype=np.uint64))
    return _SALT_CACHE[key]


def minhash_signature(text: str, num_perm: int, seed: int = 1) -> np.ndarray:
    sh = _shingle_hashes(text)
    # universal hashing h_i(x) = mix(x ^ salt_i); min per permutation —
    # one (P, S) vectorized pass, no per-salt Python
    salts = _salts(num_perm, seed)
    return _mix64(sh[None, :] ^ salts[:, None]).min(axis=1)


def minhash_bands(docs: DataFrame, num_perm: int = 128, bands: int = 64,
                  text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, band, band_hash) — the LSH bucket rows."""
    rows_per_band = num_perm // bands
    salts = _salts(num_perm, 1)

    def kernel(it):
        for pdf in it:
            n = len(pdf)
            if n == 0:
                yield pd.DataFrame(
                    {"doc_id": pd.Series([], dtype="int64"),
                     "band": pd.Series([], dtype="int32"),
                     "band_hash": pd.Series([], dtype="int64")}
                )
                continue
            hv, offs, _ = _batch_shingle_hashes(list(pdf[text_col]))
            # signature matrix: one vectorized pass per salt over ALL
            # shingles in the batch (segments never empty: padding
            # guarantees ≥1 shingle per doc).  Measured: the per-salt
            # 1-D loop beats a 2-D (shingles x salts) mix + axis-0
            # reduceat by ~5x — the 2-D intermediate thrashes cache.
            sigs = np.empty((n, num_perm), dtype=np.uint64)
            for j in range(num_perm):
                sigs[:, j] = np.minimum.reduceat(_mix64(hv ^ salts[j]), offs)
            # band hash: mix-fold each band's rows, vectorized over docs
            bh = np.empty((n, bands), dtype=np.uint64)
            for b in range(bands):
                h = np.full(n, np.uint64(b), dtype=np.uint64)
                for r in range(rows_per_band):
                    h = _mix64(h ^ sigs[:, b * rows_per_band + r])
                bh[:, b] = h
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(pdf[id_col].to_numpy(dtype=np.int64), bands),
                    "band": np.tile(np.arange(bands, dtype=np.int32), n),
                    "band_hash": bh.astype(np.int64).ravel(),
                }
            )

    return docs.select(id_col, text_col).mapInPandas(
        kernel, "doc_id long, band int, band_hash long"
    )


_INTEGRAL_SPARK_TYPES = {"bigint", "int", "smallint", "tinyint"}


def _require_integral(rows: DataFrame, col: str, ctx: str) -> None:
    """The banded-pair kernels carry ids/payloads through int64 numpy
    arrays; anything else would silently truncate inside the Arrow
    kernel.  Fail loudly at the API boundary instead (cast string ids
    with e.g. xxhash64 or a dense zipWithIndex surrogate first)."""
    t = dict(rows.dtypes)[col]
    if t not in _INTEGRAL_SPARK_TYPES:
        raise TypeError(
            f"{ctx}: column {col!r} has type {t}, but the pair kernels "
            "require an integral (castable-to-long) id/payload column — "
            "derive a long surrogate (e.g. xxhash64) before calling"
        )


def _emit_bucket_pairs(lists: "pd.Series", plists: "pd.Series | None"):
    """Vectorized all-unordered-pairs emission over a batch of bucket id
    lists (each an int64 array, len >= 2).

    Buckets are processed grouped BY SIZE: all size-m buckets stack into
    one (k, m) matrix and emit their k*m(m-1)/2 pairs with two fancy
    indexes — no per-bucket Python.  Real bucket-size distributions are
    long-tailed with tiny sizes dominating (measured at bench scale:
    ~13k size-2 buckets, ~20 distinct sizes total), so per-bucket
    triu_indices paid ~50us of numpy-call overhead per 1-3 pair bucket;
    the size-grouped form is one pass per DISTINCT size.
    """
    arrs = [np.asarray(x, dtype=np.int64) for x in lists]
    sizes = np.fromiter((len(x) for x in arrs), dtype=np.int64, count=len(arrs))
    flat = np.concatenate(arrs) if arrs else np.empty(0, dtype=np.int64)
    starts = np.concatenate([[0], np.cumsum(sizes)[:-1]]) if arrs else sizes
    pflat = None
    if plists is not None:
        pflat = np.concatenate([np.asarray(x, dtype=np.int64) for x in plists])
    out_a, out_b, out_pa, out_pb = [], [], [], []
    for m in np.unique(sizes):
        m = int(m)
        sel = starts[sizes == m]
        rows_idx = sel[:, None] + np.arange(m)[None, :]
        mat = flat[rows_idx]
        iu, ju = np.triu_indices(m, 1)
        a, b = mat[:, iu].ravel(), mat[:, ju].ravel()
        flip = a > b
        out_a.append(np.where(flip, b, a))
        out_b.append(np.where(flip, a, b))
        if pflat is not None:
            pm = pflat[rows_idx]
            pa, pb = pm[:, iu].ravel(), pm[:, ju].ravel()
            out_pa.append(np.where(flip, pb, pa))
            out_pb.append(np.where(flip, pa, pb))
    if not out_a:
        z = np.empty(0, dtype=np.int64)
        return z, z, (z if pflat is not None else None), (z if pflat is not None else None)
    return (
        np.concatenate(out_a), np.concatenate(out_b),
        np.concatenate(out_pa) if pflat is not None else None,
        np.concatenate(out_pb) if pflat is not None else None,
    )


def _bucket_pairs(rows: DataFrame, key_cols: list[str], id_col: str,
                  max_bucket: int | None = None, payload_col: str | None = None,
                  dedupe: bool = True) -> DataFrame:
    """All unordered id pairs (a < b) of rows sharing ``key_cols`` via
    groupBy + vectorized in-kernel pair emission.

    One shuffle (the groupBy), then each bucket's m(m-1)/2 pairs are
    emitted by size-grouped numpy triu indexing (``_emit_bucket_pairs``)
    — vectorized across buckets, where an equi-self-join pays
    row-at-a-time join machinery for the same output AND serializes the
    whole bucket's quadratic output in one task (AQE skew-join never
    fires: it detects shuffle-INPUT bytes, and a 1000-row bucket is
    ~24 KB in while the blowup is in the OUTPUT).

    ``max_bucket`` is the production knob: buckets with more rows are
    DROPPED (their members pair via their other, rarer bands — the
    standard "too common to be a useful signature" cap in large-scale
    dedup).  None = exact (no cap); the exactness contracts run uncapped
    at fixture scale.  For buckets too large even to collect_list
    (>~10^6 ids = ~8 MB single aggregation value), see
    ``_self_join_pairs`` — but note any such bucket implies >=10^11
    output pairs, so at that size the real production answer is a
    ``max_bucket`` cap, not a bigger join.

    ``payload_col`` (an integral column) rides along: the output gains
    (pa, pb) carrying each side's payload — this lets a caller verify
    pairs (e.g. simhash XOR) with ZERO joins back to the source.
    ``dedupe=False`` skips the output distinct for callers that
    deduplicate after their own (cheaper) verify stage.

    Ids and payloads must be integral columns (validated up front —
    they travel as int64 numpy arrays through the kernel).
    """
    _require_integral(rows, id_col, "_bucket_pairs")
    if payload_col:
        _require_integral(rows, payload_col, "_bucket_pairs")
    cols = [id_col] + ([payload_col] if payload_col else [])
    agg = rows.groupBy(*key_cols).agg(*[F.collect_list(c).alias(f"_{c}") for c in cols])
    if max_bucket is not None:
        agg = agg.filter(F.size(f"_{id_col}") <= max_bucket)
    agg = agg.filter(F.size(f"_{id_col}") > 1).select(*[f"_{c}" for c in cols])

    def emit(it):
        for pdf in it:
            a, b, pa, pb = _emit_bucket_pairs(
                pdf.iloc[:, 0], pdf.iloc[:, 1] if payload_col else None
            )
            out = {"a": a, "b": b}
            if payload_col:
                out["pa"], out["pb"] = pa, pb
            yield pd.DataFrame(out)

    schema = "a long, b long" + (", pa long, pb long" if payload_col else "")
    out = agg.mapInPandas(emit, schema)
    return out.distinct() if dedupe else out


def _self_join_pairs(rows: DataFrame, key_cols: list[str], id_col: str,
                     hot_threshold: int = 256, n_chunks: int = 8) -> DataFrame:
    """All unordered id pairs (a < b) of rows sharing ``key_cols``, with
    EXPLICIT quadratic-skew handling — the strategy for buckets too
    large for ``_bucket_pairs``'s collect_list (a 10^7-row bucket's id
    list would be an ~80 MB aggregation value in one task).

    Buckets above ``hot_threshold`` are triangle-salted: rows get a
    chunk id u = xxhash64(id) % n_chunks, the left side duplicates to
    cells (u, v) for v >= u, the right side to (u, v) for u <= v, and the
    join key gains (u, v) — one hot bucket spreads over
    n_chunks(n_chunks+1)/2 tasks at ~n_chunks x row duplication.
    Cold buckets take the plain self-join.  Output is identical to the
    unsalted join (the pair set is a disjoint union over cells).
    """
    sizes = rows.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("_bsz"))
    hot_keys = sizes.filter(F.col("_bsz") > hot_threshold)
    tagged = rows.join(F.broadcast(hot_keys), list(key_cols), "left")
    cold = tagged.filter(F.col("_bsz").isNull()).drop("_bsz")
    hot = (
        tagged.filter(F.col("_bsz").isNotNull())
        .drop("_bsz")
        .withColumn("_u", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_chunks)).cast("int"))
    )
    lc, rc = cold.alias("l"), cold.alias("r")
    cold_pairs = (
        lc.join(rc, F.expr(" AND ".join(f"l.{c} = r.{c}" for c in key_cols)))
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b"))
    )
    hl = hot.withColumn("_v", F.explode(F.sequence(F.col("_u"), F.lit(n_chunks - 1)))).alias("l")
    hr = hot.withColumn("_v", F.col("_u")).withColumn(
        "_u", F.explode(F.sequence(F.lit(0), F.col("_v")))
    ).alias("r")
    # least/greatest (not l < r): in a cross-chunk cell (u, v) an
    # unordered pair appears exactly once, with no control over which
    # element landed on the left — canonicalize instead of filtering
    hot_pairs = (
        hl.join(
            hr,
            F.expr(" AND ".join(f"l.{c} = r.{c}" for c in list(key_cols) + ["_u", "_v"])),
        )
        .filter(F.col(f"l.{id_col}") != F.col(f"r.{id_col}"))
        .select(
            F.least(F.col(f"l.{id_col}"), F.col(f"r.{id_col}")).alias("a"),
            F.greatest(F.col(f"l.{id_col}"), F.col(f"r.{id_col}")).alias("b"),
        )
    )
    return cold_pairs.unionByName(hot_pairs).distinct()


# Above this many estimated shingle-hash bytes (8 x total text chars)
# the verify stage does NOT broadcast the corpus shingle dictionary —
# it falls back to joining candidate pairs back onto the text column
# and re-shingling per Arrow batch (fully distributed, no driver state).
DEFAULT_MAX_SHINGLE_BROADCAST_BYTES = 512 * 1024 * 1024

# Below this many estimated shingle bytes the fused plan builds its
# verify state (rank CSR / bitset) on the driver from one Arrow pull —
# at that size the serial build is sub-100ms and the distributed
# dictionary+pack jobs would cost more than they save; above it the
# build is distributed (round 6, guide §2 scale-adaptivity).
_DRIVER_BUILD_BYTES = 32 * 1024 * 1024


def _csr_ranks(hv) -> tuple[np.ndarray, int]:
    """Dense int32 ranks of a CSR hash buffer (and the distinct count),
    identical to np.unique(return_inverse) but allocation-lean: ONE
    sort copy (sorted in place), a flag-diff dictionary extraction, and
    a CHUNKED searchsorted inverse writing straight into the int32
    output.  np.unique's argsort+take+int64-inverse shape allocates
    ~3x the buffer in fresh int64 temporaries — measured 27-46 s for a
    60M-element corpus on the ballooned-VM driver (first-touch fault
    tax, BASELINE.md methodology) vs seconds for this form; on healthy
    hardware it is still ~2x less driver memory traffic."""
    n = len(hv)
    if n == 0:
        return np.empty(0, dtype=np.int32), 0
    buf = hv.copy()
    buf.sort()
    flags = np.empty(n, dtype=bool)
    flags[0] = True
    np.not_equal(buf[1:], buf[:-1], out=flags[1:])
    uniq = buf[flags]
    del buf, flags
    inv = np.empty(n, dtype=np.int32)
    step = 1 << 22  # ~32 MB of int64 positions per chunk, arena-reused
    for s in range(0, n, step):
        inv[s: s + step] = np.searchsorted(uniq, hv[s: s + step])
    return inv, len(uniq)


def _csr_intersections(ranks, offs, cnts, ia, ib, n_ranks, bitmap=None):
    """Batch |Sa ∩ Sb| over CSR shingle-RANK segments (per-doc sorted
    unique), vectorized across pairs.

    Pairs are grouped by their left doc; per distinct left doc a, its
    rank set is marked in a reusable dense bool bitmap (n_ranks entries
    — the corpus dictionary fits executor memory by the same budget
    that allowed broadcasting it), then ALL right-side segments of a's
    pairs test membership with one fancy-index and count with one
    reduceat.  Measured 3.6us/pair vs 10.4us for a per-pair
    intersect1d loop and >20us for a global composite-key sort (the
    sort touches sum(|Sa|+|Sb|) elements; this touches sum(|Sb|), and
    the bitmap stays cache-resident).
    """
    P = len(ia)
    if P == 0:
        return np.empty(0, dtype=np.int64)
    order = np.argsort(ia, kind="stable")
    ia_s, ib_s = ia[order], ib[order]
    cb = cnts[ib_s]
    tot_b = int(cb.sum())
    ke = np.concatenate([[0], np.cumsum(cb)[:-1]])
    idx_b = (np.arange(tot_b, dtype=np.int64)
             - np.repeat(ke, cb) + np.repeat(offs[ib_s], cb))
    br = ranks[idx_b]
    if bitmap is None:
        bitmap = np.zeros(n_ranks, dtype=bool)
    inter = np.empty(P, dtype=np.int64)
    runs = np.flatnonzero(np.concatenate([[True], ia_s[1:] != ia_s[:-1]]))
    runs_end = np.concatenate([runs[1:], [P]])
    pos = np.concatenate([[0], np.cumsum(cb)])
    for s, e in zip(runs, runs_end):
        a = ia_s[s]
        ra = ranks[offs[a]: offs[a] + cnts[a]]
        bitmap[ra] = True
        seg = br[pos[s]: pos[e]]
        hit = bitmap[seg]
        inter[s:e] = np.add.reduceat(hit, (pos[s:e] - pos[s]).astype(np.int64))
        bitmap[ra] = False
    out = np.empty(P, dtype=np.int64)
    out[order] = inter
    return out


def _verify_schema():
    return pd.DataFrame(
        {"a": pd.Series([], dtype="int64"), "b": pd.Series([], dtype="int64"),
         "jaccard": pd.Series([], dtype="float64")}
    )


def _sorted_csr_from_arrow(ids: np.ndarray, hv: np.ndarray, cnts: np.ndarray
                           ) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, int]:
    """Reorder doc-major CSR segments into ascending-doc-id order (so
    the verify kernel can np.searchsorted ids) and RANK-COMPRESS the
    hash values: segment hashes become dense int32 ranks over the corpus
    dictionary.  Rank compression (a) halves the broadcast (int32 vs
    int64 — at the 512 MB budget that is 256 MB saved on every executor)
    and (b) is what lets the verify kernel offset-shift each pair's
    segment into one globally monotonic array (rank + pair_no * n_ranks
    fits int64; raw 64-bit hashes cannot be shifted).  np.unique is
    order-preserving, so segments stay sorted-unique.  Pure array ops,
    one sort over the corpus dictionary — paid once per call, on the
    driver, before the broadcast."""
    # rank FIRST (in original segment order — ranking is per-element,
    # order-free), so the reorder gathers int32 ranks instead of uint64
    # hashes, and do the gather in doc blocks: per-block int64 index
    # temporaries stay ~tens of MB (warm-arena reuse) instead of three
    # corpus-sized fresh buffers (np.arange + 2x np.repeat) — the same
    # bounded-temporary discipline as the verify kernel, applied to the
    # one serial driver stage of the fused plan.
    ranks_orig, n_ranks = _csr_ranks(hv)
    offs = np.concatenate([[0], np.cumsum(cnts)[:-1]]).astype(np.int64)
    order = np.argsort(ids, kind="stable")
    cnts_o = cnts[order]
    offs_o = np.concatenate([[0], np.cumsum(cnts_o)[:-1]]).astype(np.int64)
    tot = int(cnts_o.sum())
    ranks = np.empty(tot, dtype=np.int32)
    step = 1 << 14  # 16k docs/block
    for s in range(0, len(order), step):
        sel = order[s: s + step]
        cn = cnts[sel]
        bo = np.concatenate([[0], np.cumsum(cn)[:-1]]).astype(np.int64)
        blk = int(cn.sum())
        idx = (np.arange(blk, dtype=np.int64)
               - np.repeat(bo, cn) + np.repeat(offs[sel], cn))
        dst = offs_o[s]
        ranks[dst: dst + blk] = ranks_orig[idx]
    return ids[order], ranks, offs_o, cnts_o, n_ranks


# Bitset verify route (inside the fused plan): when the corpus' DISTINCT
# shingle count is small, every doc's shingle set packs into an
# n_ranks-bit bitset (uint64 words) and |Sa ∩ Sb| is popcount(A & B) —
# no per-pair segment gathers at all.  Tiles verify via one sgemm over
# the unpacked 0/1 rows (exact: counts ≤ n_ranks ≪ 2^24 accumulate
# exactly in float32), which replaces ~|S| random DRAM touches per pair
# with dense BLAS — measured ~10-100x per-pair vs the rank-CSR bitmap
# kernel on a 2k-rank corpus.  Small universes are exactly the corpora
# where candidate volume explodes (random docs share many shingles), so
# this is the regime that needs the cheap verify.  Gates: the unpacked
# per-tile float block stays tens of MB (n_ranks cap) and the broadcast
# bitset matrix stays under the shingle-broadcast budget (docs x W x 8).
_MAX_BITSET_RANKS = 1 << 15


def _bitset_from_csr(ranks: np.ndarray, offs: np.ndarray, cnts: np.ndarray,
                     n_ranks: int) -> np.ndarray:
    """(n_docs, W) uint64 bitset matrix from sorted-unique rank segments.

    Segments are ascending within each doc (rank is monotone in hash and
    segments are hash-sorted), so the flattened (doc, word) index is
    globally non-decreasing — one bitwise_or.reduceat builds every word
    with no scatter loop."""
    n = len(cnts)
    W = (n_ranks + 63) >> 6
    if len(ranks) == 0:
        return np.zeros((n, W), dtype=np.uint64)
    di = np.repeat(np.arange(n, dtype=np.int64), cnts)
    flat = di * W + (ranks.astype(np.int64) >> 6)
    vals = np.uint64(1) << (ranks.astype(np.uint64) & np.uint64(63))
    starts = np.flatnonzero(np.concatenate([[True], flat[1:] != flat[:-1]]))
    red = np.bitwise_or.reduceat(vals, starts)
    out = np.zeros(n * W, dtype=np.uint64)
    out[flat[starts]] = red
    return out.reshape(n, W)


_UNPACK_LUT = None


def _unpack_lut() -> np.ndarray:
    """(256, 8) float32 bit-expansion table: one fancy gather turns a
    packed bitset byte matrix straight into the 0/1 float32 rows BLAS
    needs — skipping unpackbits' uint8 intermediate AND the astype copy
    (two full-size temporaries per tile in the round-5 kernel).  Bit
    order within a byte only has to be CONSISTENT across rows (dot
    products are order-invariant), so the natural LSB-first order is
    used."""
    global _UNPACK_LUT
    if _UNPACK_LUT is None:
        b = np.arange(256, dtype=np.uint16)
        _UNPACK_LUT = ((b[:, None] >> np.arange(8)) & 1).astype(np.float32)
    return _UNPACK_LUT


def _fused_verify_route(n_docs: int, n_ranks: int, budget: int) -> str:
    """Driver-side route decision for the fused verify state: 'bitset'
    (small shingle universe: per-doc sets pack into n_ranks-bit bitsets,
    tiles verify via batched sgemm) or 'csr' (int32 rank segments +
    membership-bitmap intersections).  Split out as a module function so
    tests can pin the route without reaching into executor state."""
    w = (n_ranks + 63) >> 6
    if n_ranks <= _MAX_BITSET_RANKS and n_docs * w * 8 <= budget:
        return "bitset"
    return "csr"


def _reorder_csr(ids: np.ndarray, flat: np.ndarray, cnts: np.ndarray):
    """Reorder doc-major CSR segments into ascending-doc-id order (the
    verify kernels binary-search ids).  Same block-bounded gather as
    _sorted_csr_from_arrow, minus the ranking step (segments already
    carry int32 ranks when this is called)."""
    offs = np.concatenate([[0], np.cumsum(cnts)[:-1]]).astype(np.int64)
    order = np.argsort(ids, kind="stable")
    cnts_o = cnts[order]
    offs_o = np.concatenate([[0], np.cumsum(cnts_o)[:-1]]).astype(np.int64)
    out = np.empty(int(cnts_o.sum()), dtype=flat.dtype)
    step = 1 << 14
    for s in range(0, len(order), step):
        sel = order[s: s + step]
        cn = cnts[sel]
        bo = np.concatenate([[0], np.cumsum(cn)[:-1]]).astype(np.int64)
        blk = int(cn.sum())
        idx = (np.arange(blk, dtype=np.int64)
               - np.repeat(bo, cn) + np.repeat(offs[sel], cn))
        dst = offs_o[s]
        out[dst: dst + blk] = flat[idx]
    return ids[order], out, offs_o, cnts_o


def _minhash_pairs_fused(docs: DataFrame, num_perm: int, bands: int,
                         jaccard_threshold: float, text_col: str, id_col: str,
                         max_bucket: int | None,
                         budget: int = DEFAULT_MAX_SHINGLE_BROADCAST_BYTES,
                         est_bytes: int | None = None) -> DataFrame:
    """Under-broadcast-budget minhash plan: ONE pass over the docs.

    A single kernel shingles each doc once and emits (doc_id,
    band_hashes[bands], shingle hashes) — checkpointed, so the scan +
    shingle never repeats.  The band rows come from a native posexplode
    of the same checkpoint (column-pruned, so the hash arrays never
    enter the shuffle).  Each LSH bucket's pairs are then emitted AND
    exact-Jaccard-verified inside the bucket aggregation kernel:
    candidates never leave the task that proposed them, and the only
    post-shuffle rows are verified true pairs — at 100-TB corpus scale
    the candidate volume is the whole cost of LSH dedup, so never
    materializing or shuffling it is the point (the >budget path must
    shuffle candidates to meet their text; this path's budget is
    exactly what lets it skip that).

    The verify state (rank CSR or bitset matrix) is built DISTRIBUTED
    (round 6; guide §5 "the driver should do almost no data work"):
    the shingle dictionary comes from a native explode+distinct over
    the checkpoint (map-side partial aggregation collapses the ~40-60x
    cross-doc shingle duplication before the shuffle), only the sorted
    uniques are collected, and a second kernel pass ranks each doc's
    segment against the broadcast dictionary executor-side — the
    driver then collects int32 ranks (half the round-5 bytes) or
    packed bitset words (1/16th) instead of the raw int64 hash CSR,
    and its only remaining serial work is one argsort-by-id gather.
    The round-5 shape (collect the full int64 CSR, rank it serially on
    the driver — measured 16-22s at 200k docs) survives only as the
    fallback when the dictionary itself would not fit the broadcast
    budget (near-zero duplication corpora), where it is no worse.

    The bitset verify is chunk-vectorized ACROSS cells (round 6): cells
    are grouped by tile shape, stacked, and each group resolves through
    one batched sgemm (A @ A^T over LUT-expanded 0/1 rows) plus a
    conservative float32 threshold prefilter; only the ~kept pairs take
    the exact int64/float64 jaccard path, whose output is bit-identical
    to the unconditional round-5 computation (the prefilter keeps a
    strict superset: G is exact in float32 for counts <= 2^15 and the
    1.0 margin dominates every rounding term).  This removes the
    per-cell Python/BLAS-call overhead that dominated wall-clock at
    ~190k small cells per 50k docs (measured 0.22us/pair batched vs
    ~0.9us/pair per-cell, single-thread BLAS).
    """
    spark = docs.sparkSession
    rows_per_band = num_perm // bands
    salts = _salts(num_perm, 1)

    acc_docs = spark.sparkContext.accumulator(0)

    def sig_csr_kernel(it):
        for pdf in it:
            n = len(pdf)
            if n == 0:
                yield pd.DataFrame({
                    "doc_id": pd.Series([], dtype="int64"),
                    "band_hashes": pd.Series([], dtype="object"),
                    "hashes": pd.Series([], dtype="object"),
                })
                continue
            acc_docs.add(n)
            hv, offs, cnts = _batch_shingle_hashes(list(pdf[text_col]))
            sigs = np.empty((n, num_perm), dtype=np.uint64)
            for j in range(num_perm):
                sigs[:, j] = np.minimum.reduceat(_mix64(hv ^ salts[j]), offs)
            bh = np.empty((n, bands), dtype=np.uint64)
            for b in range(bands):
                h = np.full(n, np.uint64(b), dtype=np.uint64)
                for r in range(rows_per_band):
                    h = _mix64(h ^ sigs[:, b * rows_per_band + r])
                bh[:, b] = h
            bh64 = bh.astype(np.int64)
            hv64 = hv.astype(np.int64)
            yield pd.DataFrame({
                "doc_id": pdf[id_col].to_numpy(dtype=np.int64),
                "band_hashes": list(bh64),
                "hashes": [hv64[offs[i]: offs[i] + cnts[i]] for i in range(n)],
            })

    # SPARK_GRAFT_MH_DEBUG=1: per-stage wall-clock to stderr — the knob
    # that attributes fused-plan time between the parallel kernel, the
    # dictionary/pack jobs, and the bucket/verify stage.
    import os as _os
    import sys as _sys
    import time as _time
    _dbg = _os.environ.get("SPARK_GRAFT_MH_DEBUG") == "1"
    _t0 = _time.time()

    combined = docs.select(id_col, text_col).mapInPandas(
        sig_csr_kernel, "doc_id long, band_hashes array<long>, hashes array<long>"
    ).localCheckpoint(eager=True)
    n_docs = int(acc_docs.value)
    if _dbg:
        print(f"# mh_fused sig_kernel+ckpt: {_time.time()-_t0:.1f}s "
              f"({n_docs} docs)", file=_sys.stderr); _t0 = _time.time()

    # The bucket/cell pipeline depends only on the checkpoint, not on
    # the verify broadcast — materialize it from a driver thread so its
    # jobs overlap the dictionary/pack jobs below (guide §2.6: actions
    # are only sequential because the driver calls them sequentially).
    buckets = combined.select(
        "doc_id", F.posexplode("band_hashes").alias("band", "band_hash")
    ).groupBy("band", "band_hash").agg(F.collect_list("doc_id").alias("_ids"))
    if max_bucket is not None:
        buckets = buckets.filter(F.size("_ids") <= max_bucket)
    buckets = buckets.filter(F.size("_ids") > 1)

    # Tile each bucket's pair triangle into T x T blocks (native slice +
    # explode): a bucket of m docs becomes ceil(m/T)(ceil(m/T)+1)/2 cell
    # rows of <= 2T ids each, so per-task verify work is bounded by T^2
    # PAIRS no matter how hot the bucket — the blocked-matmul answer to
    # quadratic bucket skew (pair-level parallelism without ever
    # shuffling pairs; only id lists move, duplicated ~ceil(m/T) times).
    # The repartition spreads cells across cores; without it every cell
    # of a hot bucket stays in the task that aggregated the bucket.
    T = 256
    C = F.ceil(F.size("_ids") / T).cast("int")
    cells_plan = (
        buckets.select("_ids", F.explode(F.sequence(F.lit(0), C - 1)).alias("_i"))
        .select("_ids", "_i",
                F.explode(F.sequence(F.col("_i"),
                                     F.ceil(F.size("_ids") / T).cast("int") - 1)
                          ).alias("_j"))
        .select(
            F.slice("_ids", F.col("_i") * T + 1, T).alias("la"),
            F.when(F.col("_i") == F.col("_j"), F.lit(None))
            .otherwise(F.slice("_ids", F.col("_j") * T + 1, T)).alias("lb"),
        )
        .repartition(spark.sparkContext.defaultParallelism)
    )
    import uuid
    from concurrent.futures import ThreadPoolExecutor, wait
    sc = spark.sparkContext
    # a job TAG, not a job group: the thread's jobs stay group-less, so
    # callers that attribute group-less jobs by submission time still see
    # them, and the tag alone is enough to cancel them
    cells_tag = f"minhash-cells-{uuid.uuid4().hex}"

    def _materialize_cells():
        sc.addJobTag(cells_tag)
        try:
            return cells_plan.localCheckpoint(eager=True)
        finally:
            sc.removeJobTag(cells_tag)

    _pool = ThreadPoolExecutor(max_workers=1, thread_name_prefix="minhash-cells")
    _cells_fut = _pool.submit(_materialize_cells)
    try:
        # Scale-adaptive verify-state build (guide §2: adapt to input size,
        # not to one tuned scale).  Below ~32 MiB of estimated shingle
        # bytes the whole corpus CSR collects in one cheap Arrow pull and
        # the serial rank/bitset build is sub-100 ms — the two distributed
        # dictionary/pack jobs would cost MORE than they save (measured
        # +0.4 s at the 5k-doc contract corpus).  Above it, the dictionary
        # and rank/pack work runs executor-side and the driver's serial
        # section shrinks to an argsort gather (the round-5 serial rank
        # build was 16-22 s at 200k docs).
        driver_build = est_bytes is not None and est_bytes <= _DRIVER_BUILD_BYTES
        dict_tbl = None
        if not driver_build:
            # distributed dictionary: explode + distinct runs with map-side
            # partial aggregation, so the shuffle carries ~per-partition-
            # unique hashes and the driver receives exactly the n_ranks
            # sorted uniques — never the 2x-bigger raw CSR of round 5
            dict_tbl = (
                combined.select(F.explode("hashes").alias("h")).distinct().toArrow()
            )
            if _dbg:
                print(f"# mh_fused dict_distinct: {_time.time()-_t0:.1f}s "
                      f"(n_ranks={dict_tbl.num_rows})",
                      file=_sys.stderr); _t0 = _time.time()
            # dictionary alone would blow the broadcast budget (a corpus of
            # near-unique shingles): fall back to the driver-side build,
            # which is no worse there
            driver_build = dict_tbl.num_rows * 8 > budget

        if driver_build:
            # round-5 driver-side path, with its documented sizing assert
            tbl = combined.select("doc_id", "hashes").toArrow()
            ids = tbl["doc_id"].combine_chunks().to_numpy(zero_copy_only=False).astype(np.int64)
            hcol = tbl["hashes"].combine_chunks()
            cnts = np.asarray(hcol.value_lengths(), dtype=np.int64)
            hv_all = hcol.flatten().to_numpy(zero_copy_only=False).astype(np.uint64)
            # Driver sizing: this path transiently holds the Arrow table,
            # the int64 hash buffer, its sort copy, and the two int32 rank
            # buffers before the broadcast ships — ~2.5x the budgeted bytes
            # peak (the rank build is chunk-bounded, see
            # _sorted_csr_from_arrow).  Assert loudly instead of letting a
            # mis-set budget OOM the driver mid-broadcast.
            csr_bytes = int(hv_all.nbytes)
            assert csr_bytes <= 4 * budget, (
                f"fused minhash CSR is {csr_bytes >> 20} MiB on the driver — "
                "max_shingle_broadcast_bytes is set past what driver memory can "
                "absorb (peak ~2.5x CSR bytes); lower the budget to route to the "
                "distributed verify"
            )
            ids_s, ranks_s, offs_s, cnts_s, n_ranks = _sorted_csr_from_arrow(ids, hv_all, cnts)
            del tbl, hcol, hv_all, ids, cnts
            route = _fused_verify_route(len(ids_s), n_ranks, budget)
            if route == "bitset":
                bitmat = _bitset_from_csr(ranks_s, offs_s, cnts_s, n_ranks)
                del ranks_s, offs_s
                bc = spark.sparkContext.broadcast((ids_s, bitmat, cnts_s))
            else:
                bc = spark.sparkContext.broadcast((ids_s, ranks_s, offs_s, cnts_s, n_ranks))
            if _dbg:
                print(f"# mh_fused driver_build({route}): {_time.time()-_t0:.1f}s",
                      file=_sys.stderr); _t0 = _time.time()
        else:
            n_ranks = dict_tbl.num_rows
            dict64 = np.sort(
                dict_tbl["h"].combine_chunks()
                .to_numpy(zero_copy_only=False).astype(np.int64).view(np.uint64)
            )
            del dict_tbl
            bcd = spark.sparkContext.broadcast(dict64)
            route = _fused_verify_route(n_docs, n_ranks, budget)
            w_words = (n_ranks + 63) >> 6

            if route == "bitset":
                def pack_kernel(it):
                    d = bcd.value
                    nr = len(d)
                    for pdf in it:
                        n = len(pdf)
                        if n == 0:
                            yield pd.DataFrame({
                                "doc_id": pd.Series([], dtype="int64"),
                                "words": pd.Series([], dtype="object"),
                                "cnt": pd.Series([], dtype="int64"),
                            })
                            continue
                        segs = [np.asarray(x, dtype=np.int64) for x in pdf["hashes"]]
                        cnts = np.fromiter((len(s) for s in segs), dtype=np.int64, count=n)
                        flat = np.concatenate(segs)
                        ranks = np.searchsorted(d, flat.view(np.uint64)).astype(np.int32)
                        offs = np.concatenate([[0], np.cumsum(cnts)[:-1]]).astype(np.int64)
                        words = _bitset_from_csr(ranks, offs, cnts, nr).view(np.int64)
                        yield pd.DataFrame({
                            "doc_id": pdf["doc_id"].to_numpy(dtype=np.int64),
                            "words": list(words),
                            "cnt": cnts,
                        })

                packed = combined.select("doc_id", "hashes").mapInPandas(
                    pack_kernel, "doc_id long, words array<long>, cnt long"
                ).toArrow()
                ids = packed["doc_id"].combine_chunks().to_numpy(zero_copy_only=False).astype(np.int64)
                wcol = packed["words"].combine_chunks()
                bitflat = wcol.flatten().to_numpy(zero_copy_only=False).astype(np.int64).view(np.uint64)
                cnts = packed["cnt"].combine_chunks().to_numpy(zero_copy_only=False).astype(np.int64)
                order = np.argsort(ids, kind="stable")
                bitmat = bitflat.reshape(len(ids), w_words)[order]
                bc = spark.sparkContext.broadcast((ids[order], bitmat, cnts[order]))
                if _dbg:
                    print(f"# mh_fused pack_collect(bitset): {_time.time()-_t0:.1f}s "
                          f"({bitmat.nbytes >> 20} MiB, n_ranks={n_ranks})",
                          file=_sys.stderr); _t0 = _time.time()
            else:
                def rank_kernel(it):
                    d = bcd.value
                    for pdf in it:
                        n = len(pdf)
                        if n == 0:
                            yield pd.DataFrame({
                                "doc_id": pd.Series([], dtype="int64"),
                                "ranks": pd.Series([], dtype="object"),
                            })
                            continue
                        yield pd.DataFrame({
                            "doc_id": pdf["doc_id"].to_numpy(dtype=np.int64),
                            "ranks": [
                                np.searchsorted(
                                    d, np.asarray(x, dtype=np.int64).view(np.uint64)
                                ).astype(np.int32)
                                for x in pdf["hashes"]
                            ],
                        })

                packed = combined.select("doc_id", "hashes").mapInPandas(
                    rank_kernel, "doc_id long, ranks array<int>"
                ).toArrow()
                ids = packed["doc_id"].combine_chunks().to_numpy(zero_copy_only=False).astype(np.int64)
                rcol = packed["ranks"].combine_chunks()
                cnts = np.asarray(rcol.value_lengths(), dtype=np.int64)
                rflat = rcol.flatten().to_numpy(zero_copy_only=False).astype(np.int32)
                ids_s, ranks_s, offs_s, cnts_s = _reorder_csr(ids, rflat, cnts)
                bc = spark.sparkContext.broadcast((ids_s, ranks_s, offs_s, cnts_s, n_ranks))
                if _dbg:
                    print(f"# mh_fused pack_collect(csr): {_time.time()-_t0:.1f}s "
                          f"({rflat.nbytes >> 20} MiB ranks)",
                          file=_sys.stderr); _t0 = _time.time()
            bcd.destroy()
        if _dbg:
            print(f"# mh_fused broadcast: {_time.time()-_t0:.1f}s",
                  file=_sys.stderr); _t0 = _time.time()

        cells = _cells_fut.result()
    except BaseException:
        # a failed verify-state build must not leave the overlapped
        # cells job running or its thread alive
        sc.cancelJobsWithTag(cells_tag)
        wait([_cells_fut])
        raise
    finally:
        _pool.shutdown(wait=True)
    if _dbg:
        print(f"# mh_fused cells_join: {_time.time()-_t0:.1f}s",
              file=_sys.stderr); _t0 = _time.time()

    thr = float(jaccard_threshold)

    def emit_verify_bitset(it):
        ids_b, bitmat_b, cnts_b = bc.value
        lut = _unpack_lut()
        W = bitmat_b.shape[1]
        D = W * 64
        bytemat = bitmat_b.view(np.uint8).reshape(len(ids_b), W * 8)
        # threshold rewritten shuffle-free: jac >= thr  <=>
        # inter >= thr/(1+thr) * (|A|+|B|); prefilter compares in
        # float32 with a 1.0 margin (strict superset: G is an exact
        # integer in float32 for counts <= 2^15 and |A|+|B| <= 2^16, so
        # every rounding term is << 1), then survivors recompute the
        # EXACT round-5 jaccard expression in int64/float64.
        r32 = np.float32(thr / (1.0 + thr))
        tri_cache: dict[int, np.ndarray] = {}
        budget_elems = 1 << 24  # 64 MB of float32 tile rows per chunk

        def expand(ix):
            return lut[bytemat[ix].ravel()].reshape(len(ix), D)

        def exact_emit(G, mats, ci, ii, jj, ca, cb, out):
            inter = G[ci, ii, jj].astype(np.int64)
            aa = mats[0][ci, ii]
            bb = mats[1][ci, jj]
            union = ca[ci, ii] + cb[ci, jj] - inter
            jac = np.where(union > 0, inter / np.maximum(union, 1), 0.0)
            keep = jac >= thr
            if keep.any():
                ka, kb = aa[keep], bb[keep]
                out[0].append(np.minimum(ka, kb))
                out[1].append(np.maximum(ka, kb))
                out[2].append(jac[keep])

        for pdf in it:
            diag: dict[int, list] = {}
            cross: dict[tuple[int, int], list] = {}
            for la, lb in zip(pdf["la"], pdf["lb"]):
                la = np.asarray(la, dtype=np.int64)
                if lb is None or (isinstance(lb, float) and np.isnan(lb)):
                    if len(la) >= 2:
                        diag.setdefault(len(la), []).append(la)
                else:
                    lb = np.asarray(lb, dtype=np.int64)
                    cross.setdefault((len(la), len(lb)), []).append((la, lb))
            out: tuple[list, list, list] = ([], [], [])
            for m, ls in diag.items():
                if m not in tri_cache:
                    tri_cache[m] = np.triu(np.ones((m, m), dtype=bool), 1)
                trimask = tri_cache[m]
                mat_all = np.stack(ls)
                kmax = max(1, budget_elems // (m * D))
                for s in range(0, len(mat_all), kmax):
                    mat = mat_all[s: s + kmax]
                    k = len(mat)
                    ix = np.searchsorted(ids_b, mat.ravel())
                    Af = expand(ix).reshape(k, m, D)
                    G = Af @ Af.transpose(0, 2, 1)
                    ca = cnts_b[ix].reshape(k, m)
                    ca32 = ca.astype(np.float32)
                    cond = G >= (ca32[:, :, None] + ca32[:, None, :]) * r32 - np.float32(1.0)
                    cond &= trimask[None]
                    ci, ii, jj = np.nonzero(cond)
                    if ci.size:
                        exact_emit(G, (mat, mat), ci, ii, jj, ca, ca, out)
            for (ma, mb), ls in cross.items():
                la_all = np.stack([x[0] for x in ls])
                lb_all = np.stack([x[1] for x in ls])
                kmax = max(1, budget_elems // ((ma + mb) * D))
                for s in range(0, len(la_all), kmax):
                    A_ = la_all[s: s + kmax]
                    B_ = lb_all[s: s + kmax]
                    k = len(A_)
                    ixa = np.searchsorted(ids_b, A_.ravel())
                    ixb = np.searchsorted(ids_b, B_.ravel())
                    Af = expand(ixa).reshape(k, ma, D)
                    Bf = expand(ixb).reshape(k, mb, D)
                    G = Af @ Bf.transpose(0, 2, 1)
                    ca = cnts_b[ixa].reshape(k, ma)
                    cb = cnts_b[ixb].reshape(k, mb)
                    cond = G >= (
                        ca.astype(np.float32)[:, :, None]
                        + cb.astype(np.float32)[:, None, :]
                    ) * r32 - np.float32(1.0)
                    ci, ii, jj = np.nonzero(cond)
                    if ci.size:
                        exact_emit(G, (A_, B_), ci, ii, jj, ca, cb, out)
            if not out[0]:
                yield _verify_schema()
                continue
            yield pd.DataFrame({
                "a": np.concatenate(out[0]),
                "b": np.concatenate(out[1]),
                "jaccard": np.concatenate(out[2]),
            })

    def emit_verify(it):
        ids_b, ranks_b, offs_b, cnts_b, n_ranks_b = bc.value
        n_b = len(ids_b)
        for pdf in it:
            parts_a, parts_b = [], []
            for la, lb in zip(pdf["la"], pdf["lb"]):
                la = np.asarray(la, dtype=np.int64)
                if lb is None or (isinstance(lb, float) and np.isnan(lb)):
                    iu, ju = np.triu_indices(len(la), 1)
                    pa, pb = la[iu], la[ju]
                else:
                    lb = np.asarray(lb, dtype=np.int64)
                    pa = np.repeat(la, len(lb))
                    pb = np.tile(lb, len(la))
                lo = np.minimum(pa, pb)
                hi = np.maximum(pa, pb)
                parts_a.append(lo)
                parts_b.append(hi)
            if not parts_a:
                yield _verify_schema()
                continue
            a = np.concatenate(parts_a)
            b = np.concatenate(parts_b)
            if len(a) == 0:
                yield _verify_schema()
                continue
            # in-batch dedupe: a true pair collides in many bands.
            # Dense-position composite key (pos_a * n_docs + pos_b fits
            # int64 — n_docs is broadcast-budget-bounded) sorts ~3x
            # faster than the round-5 unique-over-2-column-stack, which
            # fell back to a structured void-dtype sort.
            ia = np.searchsorted(ids_b, a)
            ib = np.searchsorted(ids_b, b)
            key = np.unique(ia.astype(np.int64) * n_b + ib)
            ia, ib = np.divmod(key, n_b)
            a = ids_b[ia]
            b = ids_b[ib]
            inter = np.empty(len(a), dtype=np.int64)
            # Chunked bitmap intersection (_csr_intersections): one
            # rank bitmap + one membership gather + one reduceat per
            # left-doc run, applied in fixed-size pair blocks so
            # temporaries stay tens of MB (measured 6.3 us/pair,
            # BASELINE.md round-5).
            CHUNK = 8192
            bitmap = np.zeros(n_ranks_b, dtype=bool)
            for c0 in range(0, len(a), CHUNK):
                inter[c0:c0 + CHUNK] = _csr_intersections(
                    ranks_b, offs_b, cnts_b,
                    ia[c0:c0 + CHUNK], ib[c0:c0 + CHUNK], n_ranks_b,
                    bitmap=bitmap,
                )
            union = cnts_b[ia] + cnts_b[ib] - inter
            jac = np.where(union > 0, inter / np.maximum(union, 1), 0.0)
            keep = jac >= thr
            yield pd.DataFrame({"a": a[keep], "b": b[keep], "jaccard": jac[keep]})

    # Materialize eagerly, then release the big per-call state: the
    # broadcast is up to ~256 MB (int32 ranks at the byte budget) on the
    # driver AND every executor, and repeated calls in a long-lived
    # session (streaming dedup, bench repeats) would otherwise
    # accumulate one live broadcast per call until GC happens to run.
    # The checkpointed pair set no longer references the broadcast or
    # the `combined` checkpoint, whose blocks the ContextCleaner
    # reclaims once the plan objects here go out of scope.
    out = cells.mapInPandas(
        emit_verify_bitset if route == "bitset" else emit_verify,
        "a long, b long, jaccard double"
    ).distinct().localCheckpoint(eager=True)
    bc.destroy()
    if _dbg:
        print(f"# mh_fused bucket+verify: {_time.time()-_t0:.1f}s",
              file=_sys.stderr)
    return out


def minhash_lsh_pairs(docs: DataFrame, num_perm: int = 128, bands: int = 64,
                      jaccard_threshold: float = 0.6,
                      text_col: str = "text", id_col: str = "doc_id",
                      max_shingle_broadcast_bytes: int = DEFAULT_MAX_SHINGLE_BROADCAST_BYTES,
                      max_bucket: int | None = None) -> DataFrame:
    """(a, b, jaccard) verified near-duplicate pairs, a < b.

    ``jaccard`` is the EXACT shingle-set Jaccard (the LSH only proposes
    candidates); emitted as a raw IEEE division of two integers so any
    engine recomputing it from the same shingle sets matches bit-for-bit.

    Verify strategy (auto): if the corpus' estimated shingle bytes fit
    ``max_shingle_broadcast_bytes``, the pipeline is FUSED: one kernel
    pass emits each doc's band hashes AND its shingle CSR segment
    (checkpointed, so docs are scanned and shingled exactly once), the
    CSR is broadcast, and each LSH bucket's pairs are emitted and
    Jaccard-verified INSIDE the bucket aggregation kernel — candidates
    never leave the task that created them; the only rows that shuffle
    after the one groupBy are verified true pairs (tiny by
    construction).  Above the budget the verify joins candidate pairs
    back onto the text column and shingles each batch's distinct docs
    (fully distributed; text bytes shuffle once per candidate, the
    price of not holding corpus state anywhere).
    """
    spark = docs.sparkSession
    _require_integral(docs, id_col, "minhash_lsh_pairs")
    # Routing is a pure performance choice — both verify paths produce
    # identical output — but a ROUTING overestimate must never collect
    # an over-budget corpus to the driver.  Catalyst's plan-size
    # estimate for a file source is COMPRESSED on-disk bytes, and
    # snappy/zstd text compresses 2-10x, so the free estimate alone
    # could under-report true shingle bytes (~8 x chars) past the
    # budget.  Two-step route: if even 16x the plan estimate fits, the
    # corpus is safely small (no extra job — text never compresses
    # 16x); otherwise spend one cheap column-scan job on the EXACT
    # sum(length) before deciding.
    try:
        plan_est = 8 * int(docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        plan_est = None
    if plan_est is not None and plan_est * 16 <= max_shingle_broadcast_bytes:
        est = plan_est
    else:
        est = int(docs.select((F.sum(F.length(text_col)) * 8).alias("b")).first()["b"] or 0)
    if est <= max_shingle_broadcast_bytes:
        return _minhash_pairs_fused(docs, num_perm, bands, jaccard_threshold,
                                    text_col, id_col, max_bucket,
                                    budget=max_shingle_broadcast_bytes,
                                    est_bytes=est)

    # --- over-budget: fully distributed, no corpus state anywhere ---
    # candidate pairs via ONE shuffle of the signature rows (groupBy +
    # in-kernel pair emission) — no self-join, no materialization
    # barrier.  max_bucket caps pathological buckets at corpus scale.
    sigs = minhash_bands(docs, num_perm, bands, text_col, id_col)
    # the pre-verify distinct is load-bearing here (near-dup docs
    # collide in MANY bands, and each duplicate costs a text join +
    # re-shingle in this verify), and the trailing repartition pins the
    # CPU-bound verify's parallelism against AQE's advisory-size
    # coalescing (pairs are 16 B/row, so AQE would pack them onto a
    # handful of tasks and serialize the verify).
    cand = _bucket_pairs(sigs, ["band", "band_hash"], "doc_id",
                         max_bucket=max_bucket)
    cand = cand.repartition(spark.sparkContext.defaultParallelism)
    texts = docs.select(F.col(id_col), F.col(text_col))
    paired = (
        cand.join(texts.withColumnRenamed(id_col, "a").withColumnRenamed(text_col, "ta"), "a")
        .join(texts.withColumnRenamed(id_col, "b").withColumnRenamed(text_col, "tb"), "b")
    )

    def verify(it):
        # distributed verify: shingle each DISTINCT doc in the batch
        # exactly once (CSR layout), then per-pair sorted intersections
        for pdf in it:
            n = len(pdf)
            if n == 0:
                yield _verify_schema()
                continue
            aa = pdf["a"].to_numpy(dtype=np.int64)
            bb = pdf["b"].to_numpy(dtype=np.int64)
            ids = np.concatenate([aa, bb])
            uniq, first = np.unique(ids, return_index=True)
            texts_cat = pd.concat([pdf["ta"], pdf["tb"]], ignore_index=True)
            hv, offs, cnts = _batch_shingle_hashes(list(texts_cat.iloc[first]))
            ranks, n_ranks = _csr_ranks(hv)
            ia = np.searchsorted(uniq, aa)
            ib = np.searchsorted(uniq, bb)
            inter = _csr_intersections(ranks, offs, cnts, ia, ib, n_ranks)
            union = cnts[ia] + cnts[ib] - inter
            jac = np.where(union > 0, inter / np.maximum(union, 1), 0.0)
            keep = jac >= jaccard_threshold
            yield pd.DataFrame({"a": aa[keep], "b": bb[keep], "jaccard": jac[keep]})

    return paired.mapInPandas(verify, "a long, b long, jaccard double")


# --------------------------------------------------------------------- simhash
# Native-SQL SimHash: token hash = low 64 bits of md5(token), bit b of
# the simhash is 1 iff sum over tokens of (bit b set ? +1 : -1) > 0.
# Computed as explode(tokens) -> 64 conditional SUMs -> bit fold: every
# stage is whole-stage-codegen (plain comparisons and sums), and the
# groupBy's map-side partial aggregation means the shuffle carries only
# 64 ints per doc.  (An earlier formulation used aggregate/zip_with
# higher-order functions — zero-shuffle but INTERPRETED per element:
# ~64 lambda evaluations per token made it ~20x slower than this
# explode+codegen shape.  HOFs are not codegen'd in Spark 4.)
_TOKENS = "filter(split(lower({col}), '\\\\s+'), t -> t != '')"
_TOK_HASH = (
    "shiftleft(cast(conv(substr(md5(t), 1, 8), 16, 10) as bigint), 32) | "
    "cast(conv(substr(md5(t), 9, 8), 16, 10) as bigint)"
)
_BIT_VOTES = (
    "aggregate(transform({tokens}, t -> {tok_hash}), array_repeat(0, 64), "
    "(acc, hv) -> zip_with(acc, sequence(0, 63), "
    "(a, b) -> a + IF((shiftrightunsigned(hv, b) & 1) = 1, 1, -1)))"
)
_FOLD_BITS = (
    "aggregate(sequence(0, 63), cast(0 as bigint), (acc, b) -> "
    "acc | IF(element_at({votes}, b + 1) > 0, shiftleft(cast(1 as bigint), b), cast(0 as bigint)))"
)


def simhash_expr(text_col: str) -> F.Column:
    """64-bit SimHash of a text column as a single native expression.

    Row-at-a-time (higher-order-function) form — useful where a
    per-row expression is required (e.g. inside another select with
    no shuffle allowed); for whole-table computation prefer
    ``simhash_column``, which is ~20x faster via explode+codegen.
    """
    votes = _BIT_VOTES.format(
        tokens=_TOKENS.format(col=text_col), tok_hash=_TOK_HASH
    )
    return F.expr(_FOLD_BITS.format(votes=votes))


def simhash_column(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, simhash) — 64-bit SimHash over whitespace tokens.

    explode_outer keeps token-less docs (null token -> every vote falls
    to the -1 branch exactly once -> all bits 0 -> simhash 0, matching
    the empty-aggregate semantics of ``simhash_expr``).
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(F.expr(_TOKENS.format(col=text_col))).alias("t"),
    ).select("doc_id", F.expr(_TOK_HASH).alias("_hv"))
    votes = [
        F.sum(
            F.when(
                F.shiftrightunsigned("_hv", b).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"_v{b}")
        for b in range(64)
    ]
    fold = None
    for b in range(64):
        term = F.when(
            F.col(f"_v{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
        fold = term if fold is None else fold.bitwiseOR(term)
    return toks.groupBy("doc_id").agg(*votes).select("doc_id", fold.alias("simhash"))


def _band_splits(bits: int, bands: int) -> list[tuple[int, int]]:
    """(offset, width) for each of ``bands`` near-equal bit bands."""
    base, extra = divmod(bits, bands)
    out, off = [], 0
    for i in range(bands):
        w = base + (1 if i < extra else 0)
        out.append((off, w))
        off += w
    return out


def hamming_pairs(rows: DataFrame, hash_col: str, id_col: str,
                  max_hamming: int = 3,
                  max_bucket: int | None = None,
                  strategy: str = "auto") -> DataFrame:
    """(a, b, hamming) pairs of 64-bit hashes within ``max_hamming``
    bits — the generic hamming join (SimHash text dedup, phash image
    dedup, any 64-bit fingerprint).  Both strategies are LOSSLESS
    (pigeonhole candidate stage + exact XOR verify): output is exactly
    the brute-force pair set (DuckDB-oracle checkable).

    strategy="banded" (auto for max_hamming <= 3): bands =
    max_hamming + 1; any qualifying pair shares at least one exact
    band.  One shuffle total: _bucket_pairs carries each side's hash
    as payload, so the bit_count verify needs ZERO joins back to the
    source.  At max_hamming 3 the bands are 16 bits (~65k keys) —
    candidate volume ~n²/65536 per band.  But candidate volume grows
    ~n²/2^(64/(h+1)): at max_hamming 6 the 7 bands have only ~512
    keys each, quadratic at corpus scale.

    strategy="multi_index" (auto for max_hamming > 3): multi-index
    hamming search (public scheme: Norouzi, Punjani & Fleet, "Fast
    Search in Hamming Space with Multi-Index Hashing", CVPR 2012) —
    m bands (4 x 16-bit for max_hamming <= 15, 8 x 8-bit to 31; see
    _hamming_pairs_multi_index), with the PROBE side exploded into the
    full XOR-ball of radius r = ceil((max_hamming+1)/m) - 1 around
    each band key.  Pigeonhole: if every band differed by more than r the
    total would exceed m(r+1)-1 >= max_hamming, so some band of a
    qualifying pair matches one probe variant exactly.  At
    max_hamming 6 this keeps the 65k-key bands (candidates
    ~n² x 4 x 17/65536 ~ n²/1000, vs n²/73 banded) at the cost of a
    17x probe-side row explosion — the standard volume-for-selectivity
    trade, and the non-quadratic path for wide radii.

    ``max_bucket`` (None = exact, the contract setting) drops
    larger-than-cap key buckets — the corpus-scale guard against a
    degenerate hot key flooding the verify (bucket size is measured on
    the EXACT side before any probe explosion).
    """
    if max_hamming >= 64:
        raise ValueError("max_hamming must be < 64")
    if strategy not in ("auto", "banded", "multi_index"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if strategy == "auto":
        strategy = "multi_index" if max_hamming > 3 else "banded"
    if strategy == "multi_index":
        return _hamming_pairs_multi_index(rows, hash_col, id_col,
                                          max_hamming, max_bucket)
    bands = max_hamming + 1
    banded = rows.select(
        F.col(id_col).alias("_id"), F.col(hash_col).alias("_hv"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.shiftrightunsigned(F.col(hash_col), off)
                    .bitwiseAND(F.lit((1 << w) - 1)).alias("key"),
                )
                for i, (off, w) in enumerate(_band_splits(64, bands))
            ])
        ).alias("bk"),
    ).select("_id", "_hv", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    cand = _bucket_pairs(banded, ["band", "key"], "_id",
                         max_bucket=max_bucket, payload_col="_hv", dedupe=False)
    return (
        cand.select(
            "a", "b",
            F.bit_count(F.col("pa").bitwiseXOR(F.col("pb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def _ball_masks(width: int, radius: int) -> list[int]:
    """All XOR masks of popcount 0..radius over ``width`` bits."""
    from itertools import combinations

    masks = [0]
    for k in range(1, radius + 1):
        for bits in combinations(range(width), k):
            m = 0
            for b in bits:
                m |= 1 << b
            masks.append(m)
    return masks


def _mih_candidates(rows: DataFrame, hash_col: str, id_col: str,
                    max_hamming: int, max_bucket: int | None,
                    bands: int = 4) -> DataFrame:
    """Multi-index hamming candidate pairs (a, b, pa, pb), a < b —
    may contain duplicates and false positives; callers XOR-verify and
    distinct.  See ``hamming_pairs`` for the scheme and citation."""
    radius = -(-(max_hamming + 1) // bands) - 1
    splits = _band_splits(64, bands)
    if radius > 3:
        raise ValueError(
            f"multi_index probe radius {radius} explodes combinatorially "
            "(C(16,4)+ variants per band) — use more bands or the banded strategy"
        )
    base = rows.select(
        F.col(id_col).alias("_id"), F.col(hash_col).alias("_hv"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.shiftrightunsigned(F.col(hash_col), off)
                    .bitwiseAND(F.lit((1 << w) - 1)).alias("key"),
                )
                for i, (off, w) in enumerate(splits)
            ])
        ).alias("bk"),
    ).select("_id", "_hv", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    if max_bucket is not None:
        hot = (
            base.groupBy("band", "key").agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_bucket).select("band", "key")
        )
        base = base.join(F.broadcast(hot), ["band", "key"], "left_anti")
    # probe side: explode each band key into its XOR ball.  Band widths
    # can differ by 1 bit (64/bands remainder); masks are generated for
    # the widest band and filtered per band by key-domain validity.
    widths = [w for _, w in splits]
    probe = base.select(
        "_id", "_hv", "band",
        F.explode(F.array(*[
            F.col("key").bitwiseXOR(F.lit(m))
            for m in _ball_masks(max(widths), radius)
        ])).alias("key"),
    )
    if len(set(widths)) > 1:
        dom = F.array(*[F.lit((1 << w) - 1) for w in widths])
        probe = probe.filter(
            F.col("key").bitwiseAND(
                F.bitwise_not(F.element_at(dom, F.col("band") + 1))
            ) == 0
        )
    # XOR symmetry: if band i of (x, y) differs by mask m (|m| <= r),
    # the match fires in BOTH directions (x exact vs y's ball and vice
    # versa) — keeping only l < r halves candidate volume losslessly
    j = base.alias("l").join(
        probe.alias("r"),
        (F.col("l.band") == F.col("r.band")) & (F.col("l.key") == F.col("r.key")),
    ).filter(F.col("l._id") < F.col("r._id"))
    return j.select(
        F.col("l._id").alias("a"), F.col("r._id").alias("b"),
        F.col("l._hv").alias("pa"), F.col("r._hv").alias("pb"),
    )


def _hamming_pairs_multi_index(rows: DataFrame, hash_col: str, id_col: str,
                               max_hamming: int,
                               max_bucket: int | None) -> DataFrame:
    _require_integral(rows, id_col, "hamming_pairs[multi_index]")
    # Band count auto-selection: the probe ball must stay at radius <= 3
    # (combinatorial growth beyond), so the band count rises with the
    # radius — 4 x 16-bit bands cover max_hamming <= 15, 8 x 8-bit bands
    # cover <= 31.  Narrower bands trade key selectivity (256 keys at
    # 8 bits) for probe-ball size (<= 93 masks at radius 3) — the MIH
    # paper's m ~ bits/log2(n) knob, fixed here at the two widths that
    # make sense for 64-bit fingerprints.  Past 31 an 8-bit band's
    # residual selectivity is gone and the banded strategy (32 x 2-bit
    # bands...) is no better: at that point hamming "near"-duplicate
    # has lost its meaning for 64-bit sketches.
    if max_hamming <= 15:
        bands = 4
    elif max_hamming <= 31:
        bands = 8
    else:
        raise ValueError(
            "multi_index supports max_hamming <= 31 (8 x 8-bit bands at "
            "probe radius 3); beyond that no 64-bit band split retains "
            "selectivity — use a longer fingerprint"
        )
    cand = _mih_candidates(rows, hash_col, id_col, max_hamming, max_bucket,
                           bands=bands)
    return (
        cand.select(
            "a", "b",
            F.bit_count(F.col("pa").bitwiseXOR(F.col("pb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_pairs(docs: DataFrame, max_hamming: int = 3,
                  text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(a, b, hamming) near-dup pairs via lossless banded candidates +
    native bit_count verify (see ``hamming_pairs`` for the machinery
    and the max_hamming scale trade-off).
    """
    # token-less docs (empty/whitespace text) carry no signal: a
    # brute-force oracle derives no simhash row for them, so they are
    # excluded from pairing rather than all colliding at simhash=0
    docs = docs.filter(
        F.expr(f"size({_TOKENS.format(col=text_col)}) > 0")
    )
    sh = simhash_column(docs, text_col, id_col)
    return hamming_pairs(sh, "simhash", "doc_id", max_hamming)
