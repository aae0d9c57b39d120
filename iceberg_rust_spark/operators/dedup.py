"""Deduplication operators for training-data pipelines, designed shuffle-first.

Beyond-reference surface (driver north star). Zero row-at-a-time Python
anywhere; the one Arrow-batched pandas kernel (word n-gram construction)
earned its place by measurement — the builtin higher-order-function route
runs interpreted (CodegenFallback) and benchmarked 13x slower on the same
corpus (see _gram_hash64_pandas):

- exact_dedup:     one hash-groupBy shuffle on a fingerprint; map-side combine.
- minhash_lsh:     grams -> 64 minhashes via ONE Arrow kernel pass (murmur3
                   batch hash + (G,64) affine perms + np.minimum.reduceat —
                   shuffle-free, the signature is a per-doc function) ->
                   banded LSH bucket join -> exact-verify candidates. At
                   100 TB the band-bucket join replaces the O(n^2) cross
                   join with an O(sum bucket^2) join whose skew AQE
                   handles; verification joins gram arrays back by id.
- simhash:         64-bit signature via per-bit +/-1 votes accumulated
                   per-row over the token-hash array (shuffle-free, codegen'd).
- ngram_jaccard_pairs: brute-force verified word-3-gram Jaccard on a bounded
                   id range — the oracle-checkable twin of minhash_lsh.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame, functions as F

from ..functions.text import fingerprint
from ..functions.vector import as_double_array, cosine_rounded

# deterministic odd multipliers/offsets for 64 minhash permutations
# h_i(x) = (a_i * (x mod p) + b_i) mod p  over 64-bit gram hashes.
# p = 2^31-1 keeps every intermediate < 2^62: safe under ANSI overflow checks.
_P = (1 << 31) - 1  # Mersenne prime
_N_HASHES = 64
# 32 bands x 2 rows: candidate probability 1-(1-s^2)^32 is ~0.9997 at the
# s=0.5 operating threshold (16x4 was ~0.73 there and measurably missed one
# borderline 0.53-jaccard pair on the fixture). False candidates from the
# looser bands are removed by the exact-verify join, so the trade is pure
# recall; bucket rows per doc double (16->32), still one exchange.
_BANDS = 32
_ROWS_PER_BAND = _N_HASHES // _BANDS


def _perm_params(i: int) -> tuple:
    # fixed, seedless (resume-safe) parameter derivation
    a = ((2 * i + 1) * 0x9E3779B9) % _P
    b = ((i * i + 7) * 0xC2B2AE3D) % _P
    return (a | 1), b


def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep min-id doc per normalized-text fingerprint. One shuffle."""
    return (docs
            .withColumn("_fp", fingerprint(F.col(text_col)))
            .groupBy("_fp")
            .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
            .select(id_col, "dup_count"))


def _gram_hash64_pandas(n: int):
    """Arrow-batched n-gram kernel: text -> array<long> of the doc's
    DISTINCT word-n-gram 64-bit hashes. HASH-NATIVE (r9): every downstream
    consumer (minhash perms, LSH verify intersect/union, shingle joins)
    is a set operation, so gram STRINGS never need to exist — the hash
    array is ~8x narrower to persist/shuffle and compares as longs.

    Semantics lineage: tokenization replicates Spark's
    split(lower(trim(text)), '\\W+') exactly (re.ASCII matches Java's
    ASCII-classed \\W, empty tokens KEPT); tokens are \\W-free, so the
    joined gram string is a bijection of the token tuple and gram-hash
    distinctness equals gram-string distinctness modulo ~n^2/2^64
    collisions. Each token hashes once per VOCABULARY entry (factorize
    maps occurrences to first-seen uniques at C speed; natural text
    repeats tokens ~30x), murmur3 under two seeds packs to 64 bits, and a
    gram's hash is a degree-n polynomial combine — n vectorized passes.
    (History: a builtin higher-order transform() measured ~8s/corpus at
    sf0.1 — HOF lambdas are CodegenFallback/interpreted; the string-gram
    Arrow kernel it replaced ran ~0.6s; this one is ~0.1s and shrinks
    every downstream exchange.)"""
    import re as _re

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..functions.murmur3 import murmur3_32_bytes_vec

    B = np.uint64(0x9E3779B97F4A7C15)   # odd golden-ratio multiplier
    _empty = np.empty(0, dtype=np.int64)

    def _gh(s):
        toks_all = [_re.split(r"\W+", t.strip().lower(), flags=_re.ASCII)
                    if isinstance(t, str) else [] for t in s]
        flat = [w for tk in toks_all for w in tk]
        out = [_empty] * len(toks_all)
        if flat:
            codes, uniq = pd.factorize(pd.Series(flat, dtype="object"))
            ub = [u.encode("utf-8") for u in uniq]
            h1 = murmur3_32_bytes_vec(ub).view(np.uint32).astype(np.uint64)
            h2 = (murmur3_32_bytes_vec(ub, seed=0x85EBCA6B)
                  .view(np.uint32).astype(np.uint64))
            th = ((h1 << np.uint64(32)) | h2)[codes]
            pos = 0
            for i, tk in enumerate(toks_all):
                m = len(tk)
                ht = th[pos:pos + m]
                pos += m
                if m < n:
                    continue            # no full window: empty gram set
                acc = ht[:m - n + 1].copy()
                for j in range(1, n):
                    acc = acc * B + ht[j:m - n + 1 + j]
                out[i] = np.unique(acc).astype(np.int64)
        return pd.Series(out)

    return pandas_udf(_gh, "array<long>")


def _grams_df(docs: DataFrame, text_col: str, id_col: str, n: int,
              out: str) -> DataFrame:
    """(id, distinct word-n-gram HASH array) — see _gram_hash64_pandas."""
    return docs.select(F.col(id_col),
                       _gram_hash64_pandas(n)(F.col(text_col)).alias(out))


def shingle_df(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
               n: int = 3) -> DataFrame:
    """doc -> distinct word-n-gram shingles as int64 hashes."""
    return (_grams_df(docs, text_col, id_col, n, "_gs")
            .select(F.col(id_col), F.explode("_gs").alias("shingle")))


def minhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """64 minhash values per doc as columns mh_0..mh_63 — SHUFFLE-FREE.

    The signature is a pure per-doc function of the doc's own shingle set,
    so it never needed an exchange; it needed a vectorized kernel. History
    of the three shapes measured at sf0.1:
    - builtin array_min over 64 transform() lambdas: ~10s warm (higher-order
      lambdas are CodegenFallback — interpreted per element) — REVERTED.
    - explode + groupBy(64 map-side min aggs): ~2s warm, fully codegen'd,
      but shuffles G shingle rows per corpus — the former shape.
    - THIS shape: hash-native gram arrays (_gram_hash64_pandas) feed the
      affine-perm kernel (_minhash64_pandas): 64 cache-resident 1-D passes
      plus np.minimum.reduceat per-doc minima. No exchange, no 64-agg
      hash table, and the LSH consumer drops a whole shuffle stage.
    Docs with zero grams produce no row (the explode shape's contract).
    """
    sigs = (_grams_df(docs, text_col, id_col, n, "_gs")
            .where(F.size("_gs") > 0)
            .select(F.col(id_col), _minhash64_pandas()(F.col("_gs")).alias("_mh")))
    # one selectExpr (0-based _mh[i]): 64 element_at Column objects were
    # 64 py4j round-trips of pure driver chatter
    return sigs.selectExpr(id_col, *[f"_mh[{i}] AS mh_{i}"
                                     for i in range(_N_HASHES)])


def _minhash64_pandas():
    """Arrow-batched minhash kernel: array<long> gram hashes -> array<long>
    of the 64 permutation minima. h_i(g) = (a_i * (g mod p) + b_i) mod p
    over the gram's 64-bit hash (as unsigned) with p = 2^31-1; every
    intermediate stays < 2^62 in uint64. Empty gram arrays return null
    (callers filter size()>0 to keep the explode-era contract)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    a = np.array([_perm_params(i)[0] for i in range(_N_HASHES)],
                 dtype=np.uint64)
    b = np.array([_perm_params(i)[1] for i in range(_N_HASHES)],
                 dtype=np.uint64)
    p = np.uint64(_P)

    def _mh(gr):
        counts = np.fromiter((len(g) for g in gr), dtype=np.int64,
                             count=len(gr))
        nz = np.flatnonzero(counts)
        out = [None] * len(gr)
        if nz.size:
            flat = np.concatenate(
                [np.asarray(gr.iloc[i], dtype=np.int64) for i in nz])
            h = flat.view(np.uint64) % p
            # per-doc min via reduceat on the offsets of the NONEMPTY
            # segments (reduceat mishandles empty ones). Column loop on
            # 1-D arrays, NOT one (G, 64) matrix: the G x 64 uint64
            # intermediate is memory-bandwidth bound and measured ~17x
            # slower than 64 cache-resident 1-D passes (1.7s vs 0.1s on
            # a 260k-gram batch).
            offs = np.zeros(nz.size, dtype=np.int64)
            np.cumsum(counts[nz][:-1], out=offs[1:])
            mins = np.empty((nz.size, _N_HASHES), dtype=np.int64)
            for i in range(_N_HASHES):
                mins[:, i] = np.minimum.reduceat(
                    (h * a[i] + b[i]) % p, offs).astype(np.int64)
            for row, i in enumerate(nz):
                out[i] = mins[row]
        return pd.Series(out)

    return pandas_udf(_mh, "array<long>")


def _gram_minhash_pandas(n: int):
    """FUSED Arrow kernel: text -> struct(grams array<long>, mh array<long>)
    in ONE Python crossing. The gram arrays and their 64 minhash values were
    two separate pandas_udf stages (grams kernel, then the persisted gram
    arrays shipped back INTO Python for the perm minima) — fusing computes
    the signature while the per-doc gram array is already in numpy, halving
    the Arrow boundary traffic of the LSH pipeline head. Gram semantics are
    _gram_hash64_pandas verbatim; mh is _minhash64_pandas verbatim over the
    same arrays (mh NULL when the doc has no grams, the size()>0 contract)."""
    import re as _re

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..functions.murmur3 import murmur3_32_bytes_vec

    B = np.uint64(0x9E3779B97F4A7C15)
    _empty = np.empty(0, dtype=np.int64)
    a = np.array([_perm_params(i)[0] for i in range(_N_HASHES)],
                 dtype=np.uint64)
    b = np.array([_perm_params(i)[1] for i in range(_N_HASHES)],
                 dtype=np.uint64)
    p = np.uint64(_P)

    def _gm(s):
        toks_all = [_re.split(r"\W+", t.strip().lower(), flags=_re.ASCII)
                    if isinstance(t, str) else [] for t in s]
        flat = [w for tk in toks_all for w in tk]
        grams_out = [_empty] * len(toks_all)
        mh_out = [None] * len(toks_all)
        if flat:
            codes, uniq = pd.factorize(pd.Series(flat, dtype="object"))
            ub = [u.encode("utf-8") for u in uniq]
            h1 = murmur3_32_bytes_vec(ub).view(np.uint32).astype(np.uint64)
            h2 = (murmur3_32_bytes_vec(ub, seed=0x85EBCA6B)
                  .view(np.uint32).astype(np.uint64))
            th = ((h1 << np.uint64(32)) | h2)[codes]
            pos = 0
            nz_rows, nz_arrays = [], []
            for i, tk in enumerate(toks_all):
                m = len(tk)
                ht = th[pos:pos + m]
                pos += m
                if m < n:
                    continue
                acc = ht[:m - n + 1].copy()
                for j in range(1, n):
                    acc = acc * B + ht[j:m - n + 1 + j]
                g = np.unique(acc).astype(np.int64)
                grams_out[i] = g
                if len(g):
                    nz_rows.append(i)
                    nz_arrays.append(g)
            if nz_rows:
                counts = np.fromiter((len(g) for g in nz_arrays),
                                     dtype=np.int64, count=len(nz_arrays))
                h = np.concatenate(nz_arrays).view(np.uint64) % p
                offs = np.zeros(len(nz_rows), dtype=np.int64)
                np.cumsum(counts[:-1], out=offs[1:])
                mins = np.empty((len(nz_rows), _N_HASHES), dtype=np.int64)
                for i in range(_N_HASHES):
                    mins[:, i] = np.minimum.reduceat(
                        (h * a[i] + b[i]) % p, offs).astype(np.int64)
                for row, i in enumerate(nz_rows):
                    mh_out[i] = mins[row]
        return pd.DataFrame({"grams": grams_out, "mh": mh_out})

    return pandas_udf(_gm, "grams array<long>, mh array<long>")


def minhash_lsh_pairs(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", threshold: float = 0.7,
                      n: int = 3) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard >= threshold).

    banded-LSH candidate generation + exact shingle-set verification.
    """
    # grams+signatures are consumed THREE times (bands + both verification
    # sides); without persist each use re-runs the Arrow kernel and the doc
    # scan. persist is the cluster-correct shape too: at scale the gram
    # table is the expensive intermediate every stage shares.
    # (MEMORY_AND_DISK default; relies on Spark's LRU eviction rather than
    # an explicit unpersist, since the caller's action happens later.)
    both = docs.select(F.col(id_col),
                       _gram_minhash_pandas(n)(F.col(text_col)).alias("_gm")) \
        .persist()
    grams = both.select(F.col(id_col), F.col("_gm.grams").alias("grams"))
    sigs = (both.where(F.col("_gm.mh").isNotNull())
            .select(F.col(id_col), F.col("_gm.mh").alias("_mh")))
    # SQL-string band construction (one selectExpr, 0-based _mh[i]): the
    # Column-object form built 64 element_at + 32 struct objects, each a
    # py4j round-trip — ~0.3s of pure driver chatter per call
    band_exprs = ", ".join(
        "struct({b} AS band, xxhash64({cols}) AS sig)".format(
            b=b, cols=", ".join(f"_mh[{b * _ROWS_PER_BAND + r}]"
                                for r in range(_ROWS_PER_BAND)))
        for b in range(_BANDS))
    buckets = (sigs.selectExpr(id_col,
                               f"explode(array({band_exprs})) AS bk")
               .selectExpr(id_col, "bk.band AS band", "bk.sig AS sig"))
    left = buckets.alias("l")
    right = buckets.alias("r")
    cands = (left.join(right, on=["band", "sig"])
             .where(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
             .selectExpr(f"l.{id_col} AS id_a", f"r.{id_col} AS id_b")
             .dropDuplicates())
    ga = grams.selectExpr(f"{id_col} AS id_a", "grams AS g_a")
    gb = grams.selectExpr(f"{id_col} AS id_b", "grams AS g_b")
    verified = (cands.join(ga, "id_a").join(gb, "id_b")
                .selectExpr(
                    "id_a", "id_b",
                    "round(size(array_intersect(g_a, g_b)) / "
                    "size(array_union(g_a, g_b)), 6) AS jaccard")
                .where(F.col("jaccard") >= threshold)
                .select("id_a", "id_b", "jaccard"))
    return verified


def _bit_masks():
    # one mask long per bit; bit 63 is long-min in two's complement.
    # ONE F.expr, not 64 F.lit().cast() pairs (128 py4j round-trips of
    # driver chatter); shiftleft(1L, 63) yields long-min via Java <<
    # semantics and constant-folds to the same literal array.
    return F.expr("array(" + ", ".join(
        f"shiftleft(1L, {b})" for b in range(_N_HASHES)) + ")")


def simhash_signatures(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per doc (token-hash bit votes), as a signed long.

    SHUFFLE-FREE: per-row `aggregate` over the token-hash array accumulates
    the 64 bit votes (zip_with against per-bit mask literals), replacing the
    older explode -> groupBy(64 conditional sums) shape. Votes depend only on
    the doc's own tokens, so the two are value-identical (verified, 100k docs,
    0 mismatches) — and the token rows never leave their partition. Same
    shuffle-elimination as minhash_signatures; everything stays codegen'd.
    """
    masks = _bit_masks()
    toks = F.filter(F.split(F.lower(F.trim(F.col(text_col))), r"\W+"),
                    lambda t: t != "")
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), _N_HASHES),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(masks,
                        lambda m: F.when(h.bitwiseAND(m) != 0, F.lit(1).cast("long"))
                                   .otherwise(F.lit(-1).cast("long"))),
            lambda a, v: a + v))
    sig = F.aggregate(
        F.zip_with(votes, masks,
                   lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"), lambda acc, m: acc.bitwiseOR(m))
    # empty-token docs had no rows after the old explode; keep that contract
    return (docs.select(F.col(id_col), F.size(hashes).alias("_n"),
                        sig.alias("simhash"))
            .where(F.col("_n") > 0).select(id_col, "simhash"))


def embedding_cosine_pairs(emb: DataFrame, threshold: float = 0.95,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """Exact embedding near-duplicate pairs (id_a < id_b, cosine >= threshold).

    Brute-force O(n^2) verification kernel, all math in builtin higher-order
    functions — the SQL-expressible oracle twin of embedding_lsh_pairs. Bound
    the input id range before calling at scale; the LSH variant is the
    candidate generator for 100 TB."""
    v = as_double_array(F.col(vec_col))
    a = emb.select(F.col(id_col).alias("id_a"), v.alias("_va"))
    b = emb.select(F.col(id_col).alias("id_b"), v.alias("_vb"))
    return (a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
            .withColumn("sim", cosine_rounded(F.col("_va"), F.col("_vb")))
            .where(F.col("sim") >= threshold)
            .select("id_a", "id_b", "sim"))


def _lsh_cell_pairs(pdf, id_col: str, floor: float):
    """Candidate pairs of one shuffle partition of ``embedding_lsh_pairs``'
    fanned rows: within each (table, bucket, cell) group, pairs whose
    normalized dot product is >= ``floor``. Yields one DataFrame of
    ``(id_a, id_b, _va, _vb)`` per matmul block, so what is held is one
    block's pairs (a sims block of ~2^21 cells), never the partition's.

    Each pair carries both stored vectors: the old shape emitted ids only
    and re-attached vectors via two joins back to the checkpointed base.
    Survivor pairs are the near-duplicates, so the carried payload is
    2*dim doubles per emitted row, far cheaper than re-joining the
    corpus."""
    import numpy as np
    import pandas as pd

    def frame(ids_i, ids_j, raw_i, raw_j, ii, jj):
        a_min = ids_i[ii] < ids_j[jj]
        return pd.DataFrame({
            "id_a": np.where(a_min, ids_i[ii], ids_j[jj]).astype("int64"),
            "id_b": np.where(a_min, ids_j[jj], ids_i[ii]).astype("int64"),
            "_va": pd.Series(np.where(a_min, raw_i[ii], raw_j[jj]),
                             dtype="object"),
            "_vb": pd.Series(np.where(a_min, raw_j[jj], raw_i[ii]),
                             dtype="object")})

    for (_t, _b, ci, cj), g in pdf.groupby(
            ["_t", "_bucket", "_ci", "_cj"], sort=False):
        if len(g) < 2:
            continue
        mat = np.stack(g["_v"].to_numpy()).astype("float64")
        norms = np.sqrt((mat * mat).sum(axis=1))
        norms[norms == 0.0] = 1.0
        unit = mat / norms[:, None]
        ids = g[id_col].to_numpy()
        raw = g["_v"].to_numpy()
        if ci == cj:
            # in-cell pairs: chunk rows so the sims block stays ~16 MB
            step = max(1, (1 << 21) // max(len(unit), 1))
            for lo in range(0, len(unit), step):
                sims = unit[lo:lo + step] @ unit.T
                r, c = np.nonzero(sims >= floor)
                keep = (lo + r) < c  # upper triangle only
                if keep.any():
                    yield frame(ids, ids, raw, raw, lo + r[keep], c[keep])
        else:
            lmask = (g["_salt"] == ci).to_numpy()
            left, right = unit[lmask], unit[~lmask]
            if len(left) and len(right):
                step = max(1, (1 << 21) // max(len(right), 1))
                for lo in range(0, len(left), step):
                    sims = left[lo:lo + step] @ right.T
                    r, c = np.nonzero(sims >= floor)
                    if len(r):
                        yield frame(ids[lmask], ids[~lmask], raw[lmask],
                                    raw[~lmask], lo + r, c)


def embedding_lsh_pairs(emb: DataFrame, threshold: float = 0.95,
                        n_tables: int = 12, n_planes: Optional[int] = None,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        target_bucket: int = 128,
                        bucket_cap: int = 2048) -> DataFrame:
    """Embedding near-dup pairs via random-hyperplane LSH with
    PARTITION-LOCAL candidate generation.

    n_tables independent SRP sign-pattern bucketings per vector; candidates
    are pairs sharing a bucket in ANY table. The quadratic per-bucket work
    runs INSIDE one applyInPandas group per (table, bucket): a single
    shuffle co-locates each bucket's (id, vector) rows, a numpy matmul
    scores every in-bucket pair, and only pairs at >= threshold (minus a
    float-order margin) leave the task. Nothing quadratic is ever
    shuffled — the old plan materialized the full candidate set through an
    equi-join + two vector-attach joins + a distinct (three shuffles over
    O(sum bucket^2) rows); this plan shuffles O(n_tables * n) rows once and
    emits near-final pairs.

    Scale controls (the 100 TB story):
    - ADAPTIVE PLANES: n_planes defaults to log2(n / target_bucket),
      clamped to [8, 24], so expected bucket size stays ~target_bucket as n
      grows and total candidate work stays ~n * target_bucket = LINEAR.
      (Recall per table drops with plane count — the standard LSH trade;
      n_tables restores it: a sim>=0.95 pair disagrees per plane w.p.
      theta/pi ~ 0.1, so 12 tables at 11 planes keep it together w.p.
      ~0.99; exact-duplicate vectors always collide at any plane count.)
    - SALTED BLOCK SPLIT for skewed buckets: a bucket larger than
      bucket_cap (e.g. a mass of identical vectors no hyperplane can
      separate) is hash-salted into s = ceil(size/cap) cells and each row
      fans out to its s grid cells (ci==salt or cj==salt), so every pair
      still meets in exactly one task and no task ever loads more than
      ~2*bucket_cap vectors. Total work for such a bucket remains
      quadratic — that is its OUTPUT size — but it is memory-bounded and
      spread across the cluster instead of sitting in one straggler task.

    Exactness: the numpy kernel is a candidate filter at threshold-1e-4;
    survivors are re-scored with the builtin left-to-right double fold
    (cosine_rounded) so emitted sims match the DuckDB oracle bit-for-bit.
    """
    import numpy as np

    from .similarity import _hyperplanes, srp_buckets_batch
    # the (id, vector) projection feeds two logical reads (count/dim
    # probe, bucket fan-out) — localCheckpoint it so the upstream plan
    # (often a union/transform, not a bare scan)
    # executes exactly once. Blocks spill like MEMORY_AND_DISK; at 100 TB
    # the bucket columns would be precomputed as stored cluster keys (and
    # executor-loss recovery would argue for reliable checkpoint instead).
    base = (emb.select(F.col(id_col),
                       as_double_array(F.col(vec_col)).alias("_v"))
            .where(F.col("_v").isNotNull()))
    # null vectors are filtered above, not threaded through: they cannot
    # be near-duplicates of anything and the numpy bucket kernel cannot
    # stack a None row
    # LAZY checkpoint: the probe aggregate below is the materializing
    # action — an eager checkpoint was a whole extra sequential job per call
    base = base.localCheckpoint(eager=False)
    # ONE action for both probes (row count + dimensionality) — first()
    # and count() each launched a job against the checkpoint
    # the isNotNull filter above means first() can't see a null here;
    # ignorenulls is belt-and-braces should the filter ever move
    probe = base.agg(F.count(F.lit(1)).alias("n"),
                     F.first("_v", ignorenulls=True).alias("v")).first()
    n = probe["n"]
    if n == 0 or probe["v"] is None:
        base.unpersist()
        return embedding_cosine_pairs(emb, threshold, id_col, vec_col)
    dim = len(probe["v"])
    if n_planes is None:
        import math
        n_planes = min(24, max(8, math.ceil(math.log2(max(n, 2) / max(target_bucket, 1)))))
    planes = np.stack([_hyperplanes(dim, n_planes, seed=7 + ti)
                       for ti in range(n_tables)])
    bucket_udf = srp_buckets_batch(planes)
    bucketed = base.select(
        F.col(id_col), F.col("_v"),
        F.posexplode(bucket_udf(F.col("_v"))).alias("_t", "_bucket")) \
        .select(id_col, "_v", "_t", "_bucket")
    if n <= bucket_cap:
        # no bucket can exceed the cap: skip the census agg + broadcast
        # join entirely (measured fixed cost that dominates small inputs)
        s_cells = F.lit(1)
    else:
        # oversized-bucket census: ids-only partial agg (map-side combine),
        # then broadcast back — vector rows are never shuffled for this
        big = (bucketed.groupBy("_t", "_bucket")
               .agg(F.count("*").alias("_bsz"))
               .where(F.col("_bsz") > bucket_cap))
        bucketed = bucketed.join(F.broadcast(big), ["_t", "_bucket"], "left")
        s_cells = F.coalesce(
            F.ceil(F.col("_bsz") / F.lit(bucket_cap)).cast("int"), F.lit(1))
    salt = F.pmod(F.xxhash64(F.col(id_col)), s_cells).cast("int")
    # grid fan-out: row with salt c joins the s cells {(min(k,c), max(k,c))
    # : k in 0..s-1}, so a pair (salt u, salt v) meets in exactly cell
    # (min, max); unsplit buckets (s=1) collapse to the single cell (0,0)
    cells = F.transform(
        F.sequence(F.lit(0), s_cells - 1),
        lambda k: F.struct(F.least(k, salt).alias("ci"),
                           F.greatest(k, salt).alias("cj")))
    fanned = (bucketed
              .withColumn("_salt", salt)
              .withColumn("_cell", F.explode(cells))
              .select(id_col, "_v", "_t", "_bucket", "_salt",
                      F.col("_cell.ci").alias("_ci"),
                      F.col("_cell.cj").alias("_cj")))

    margin = 1e-4

    def _pairs_in_partition(iter_pdf):
        # ONE Python round-trip per shuffle PARTITION, buckets separated by
        # a vectorized pandas groupby inside it: measured 2.6x faster than
        # applyInPandas's per-group worker round-trip (thousands of tiny
        # bucket groups dominated small-input wall time). Input memory =
        # one shuffle partition's fanned rows in pandas — governed by
        # spark.sql.shuffle.partitions like any shuffle; the pairs stream
        # out per matmul block (_lsh_cell_pairs).
        import pandas as pd
        chunks = list(iter_pdf)
        if chunks:
            yield from _lsh_cell_pairs(pd.concat(chunks, ignore_index=True),
                                       id_col, threshold - margin)

    # a pair found in several tables carries identical vectors each time,
    # so deduping on the id pair alone is exact; the final sim is the SAME
    # builtin left-to-right double fold as before (cosine_rounded over the
    # stored vectors), bit-identical to the oracle — only the join-back
    # plumbing is gone.
    cands = (fanned.repartition("_t", "_bucket", "_ci", "_cj")
             .mapInPandas(_pairs_in_partition,
                          "id_a long, id_b long, "
                          "_va array<double>, _vb array<double>")
             .dropDuplicates(["id_a", "id_b"]))
    return (cands
            .withColumn("sim", cosine_rounded(F.col("_va"), F.col("_vb")))
            .where(F.col("sim") >= threshold)
            .select("id_a", "id_b", "sim"))


def ngram_jaccard_pairs(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", threshold: float = 0.5,
                        n: int = 3, max_id: Optional[int] = None) -> DataFrame:
    """Brute-force word-n-gram Jaccard pairs — the SQL-expressible oracle twin
    of minhash_lsh_pairs. Bound the id domain (max_id) before the cross join;
    at scale this is the verification kernel, not the candidate generator."""
    d = docs
    if max_id is not None:
        d = d.where(F.col(id_col) < max_id)
    grams = _grams_df(d, text_col, id_col, n, "grams")
    a = grams.select(F.col(id_col).alias("id_a"), F.col("grams").alias("g_a"))
    b = grams.select(F.col(id_col).alias("id_b"), F.col("grams").alias("g_b"))
    return (a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
            .withColumn("jaccard", F.round(
                F.size(F.array_intersect("g_a", "g_b")) /
                F.greatest(F.size(F.array_union("g_a", "g_b")), F.lit(1)), 6))
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def contamination_flags(docs: DataFrame, benchmark: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        bench_text_col: str = "text", n: int = 3,
                        min_shared: int = 1,
                        doc_shingles: Optional[DataFrame] = None,
                        bench_shingles: Optional[DataFrame] = None) -> DataFrame:
    """Benchmark decontamination: per training doc, how many DISTINCT
    word-n-grams it shares with ANY benchmark doc, and a contaminated flag
    at ``min_shared``. The standard eval-leakage guard for training-data
    pipelines (n-gram overlap against held-out benchmarks).

    Scale path: both sides shingle to int64 hashes (one narrow explode
    each), the join runs hash-on-shingle against the DISTINCT benchmark
    shingle set (dimension-sized -> broadcast when small, shuffle join at
    benchmark scale), then one map-side-combinable distinct-count per doc.
    Never a doc-by-doc cross join.

    ``doc_shingles`` / ``bench_shingles``: optional precomputed
    (``id_col``, shingle) frames replacing the internal shingle passes.
    When both sides are filters of ONE table, the caller can gram the
    union of the slices in a single Arrow kernel crossing, materialize
    it once (localCheckpoint), and pass the two filtered shingle views
    here — halving the gram work and scans (guide §4; the same fusion
    pattern as the LSH head's _gram_minhash_pandas). Semantics are
    unchanged: each frame must equal shingle_df(side, ...) exactly."""
    d = (doc_shingles if doc_shingles is not None
         else shingle_df(docs, text_col, id_col, n))
    b = ((bench_shingles if bench_shingles is not None
          else shingle_df(benchmark, bench_text_col, id_col, n))
         .select("shingle").distinct())
    shared = (d.join(b, "shingle")
              .groupBy(id_col)
              .agg(F.countDistinct("shingle").alias("n_shared")))
    return (docs.select(id_col)
            .join(shared, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
                    (F.coalesce("n_shared", F.lit(0)) >= min_shared)
                    .alias("contaminated")))
