"""Deduplication operators for the training-data pipeline over ``documents``:
exact (hash-groupBy), n-gram Jaccard pairs, MinHash+LSH, SimHash.

Scale notes: exact dedup is one shuffle on the digest; MinHash/LSH is the
100 TB near-dup path — signatures are computed in one Arrow batch pass,
band buckets become the join key (bucket count bounds the shuffle), and
candidate verification happens only within buckets. No cross join ever
materializes.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fagi_gis_spark.functions.text import fingerprint_md5
from fagi_gis_spark.sources.layers import read_bucketed, write_bucketed

# deterministic MinHash permutation parameters (public Carter-Wegman form)
_MERSENNE = (1 << 61) - 1
_N_PERM_DEFAULT = 64


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact near-normalized dedup: digest = md5(normalized text); keeps
    the minimum id as representative. Output: (digest, rep_id, n_dups)."""
    return (
        docs.withColumn("digest", fingerprint_md5(F.col(text_col)))
        .groupBy("digest")
        .agg(F.min(id_col).alias("rep_id"), F.count("*").alias("n_dups"))
    )


def _shingle_hashes(text: str, n: int = 5) -> np.ndarray:
    """Character n-gram 64-bit hashes (FNV-1a), vectorized-ish."""
    s = " ".join((text or "").lower().split())
    if len(s) < n:
        s = s + " " * (n - len(s))
    b = np.frombuffer(s.encode("utf-8", "ignore"), dtype=np.uint8).astype(np.uint64)
    if len(b) < n:
        return np.array([1469598103934665603], dtype=np.uint64)
    h = np.full(len(b) - n + 1, np.uint64(1469598103934665603))
    prime = np.uint64(1099511628211)
    for i in range(n):
        h = (h ^ b[i : len(b) - n + 1 + i]) * prime
    return np.unique(h)


def _perm_params(n_perm: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, size=n_perm, dtype=np.int64).astype(np.uint64)
    b = rng.integers(0, _MERSENNE, size=n_perm, dtype=np.int64).astype(np.uint64)
    return a, b


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perm: int = _N_PERM_DEFAULT,
    shingle: int = 5,
) -> DataFrame:
    """MinHash signatures as array<long>, one Arrow-batched pass.

    The input is floored to the session's default parallelism first
    (partitioning.ensure_min_parallelism): a single-row-group parquet
    scan yields one task, which would run this Arrow UDF — and every
    downstream band join built on the persisted signatures — on one
    core (measured 45x superlinear wall at 10x rows before the floor).
    """
    from fagi_gis_spark.partitioning import ensure_min_parallelism

    docs = ensure_min_parallelism(docs)
    a, b = _perm_params(n_perm)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def u_minhash(text: pd.Series) -> pd.Series:
        # Batched across documents (guide §4.2): shingle-hash arrays are
        # concatenated and ALL documents' permutation minima come out of
        # one (n_perm, total_shingles) multiply-add-mod + one
        # np.minimum.reduceat per chunk — identical uint64 wrap/mod ops
        # on identical values as the previous per-document loop, so the
        # signatures are bit-identical; only the loop granularity moved
        # from per-document to per-chunk.  The chunk budget keeps the
        # dense intermediate at ~n_perm x 40k u64 (~20 MB): small
        # enough that the allocator recycles the block across chunks —
        # a ~200 MB budget measured 6x slower on this host because
        # every chunk faulted fresh zeroed pages (same pathology as the
        # monolithic-vs-chunked gather microbench in the r6 notes).
        m = np.uint64(_MERSENNE)
        shs = [_shingle_hashes(s, shingle) for s in text]
        n_docs = len(shs)
        if n_docs == 0:
            return pd.Series([], dtype=object)
        lens = np.array([len(x) for x in shs], dtype=np.int64)
        out = np.empty((n_docs, len(a)), dtype=np.int64)
        budget = 40_000
        start = 0
        while start < n_docs:
            end, tot = start, 0
            while end < n_docs and (tot == 0 or tot + lens[end] <= budget):
                tot += lens[end]
                end += 1
            seg = np.concatenate(shs[start:end])
            offs = np.zeros(end - start, dtype=np.int64)
            np.cumsum(lens[start : end - 1], out=offs[1:])
            vals = (seg[None, :] * a[:, None] + b[:, None]) % m
            out[start:end] = (
                np.minimum.reduceat(vals, offs, axis=1).T.astype(np.int64)
            )
            start = end
        return pd.Series(out.tolist())

    return docs.select(F.col(id_col).alias("doc_id"), u_minhash(F.col(text_col)).alias("sig"))


def _band_buckets(sigs: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """Explode MinHash signatures into (doc_id, band, bucket) LSH keys."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.hash(F.slice(F.col("sig"), i * rows_per_band + 1, rows_per_band)).alias("bucket"),
            )
            for i in range(bands)
        ]
    )
    return sigs.select("doc_id", F.explode(band_structs).alias("b")).select(
        "doc_id", F.col("b.band").alias("band"), F.col("b.bucket").alias("bucket")
    )


def _bucket_candidates(buckets: DataFrame) -> DataFrame:
    """Unique candidate pairs (doc_a < doc_b) from shared LSH buckets —
    carries ONLY ids (two ints) through the bucket join + distinct; at
    scale this is the difference between shuffling kilobytes and shuffling
    the signature matrix."""
    left = buckets.select("band", "bucket", F.col("doc_id").alias("doc_a"))
    right = buckets.select("band", "bucket", F.col("doc_id").alias("doc_b"))
    return (
        left.join(right, ["band", "bucket"], "inner")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates()
    )


#: side-input verify cutoff: signature matrices up to this many rows
#: ship to every worker once, through fagi_gis_spark.sideinput, as numpy
#: arrays (n_docs * n_perm * 9 bytes for the int64 matrix plus its uint8
#: screen; 2M docs x 64 perms = 1.1 GiB).  Above it, verification falls
#: back to the join + column-expression path, whose shuffle is bounded
#: by the candidate count — the physical-strategy switch is the same
#: kind of decision as broadcast-vs-sort-merge, and both paths compute
#: the identical (agreement / n_perm) value.
_VERIFY_BROADCAST_MAX_DOCS = 2_000_000


def minhash_lsh_pairs(
    sigs: DataFrame, bands: int = 16, rows_per_band: int = 4, jaccard_threshold: float = 0.5
) -> DataFrame:
    """LSH banding: equal band-slices become bucket join keys; candidate
    pairs are verified by estimated Jaccard (signature agreement rate).
    Output: (doc_a, doc_b, jaccard_est) with doc_a < doc_b.

    Verification strategy (guide §4.2 — hand whole batches to vectorized
    native code): when the signature table fits the side-input budget,
    the driver collects it once and ships, through
    ``fagi_gis_spark.sideinput``, the ids sorted ascending, the
    (n_docs, n_perm) int64 matrix in the same row order and its uint8
    screen.  Candidate pairs are then verified by ``np.searchsorted`` row
    lookups plus one vectorized gather + compare per Arrow batch of id
    pairs — only the two ids per pair ever cross a shuffle or the Python
    boundary.  The JVM zip_with expression evaluated the same agreement
    at ~30 ns/slot with two array allocations per pair (measured 11 s for
    71M candidates at sf1.0); the numpy kernel does the identical count
    at memory bandwidth.  Candidates are verified pre-distinct (duplicate
    (band-collision) pairs recompute the same deterministic estimate;
    survivors are ~0.3% of candidates, so the distinct shrinks by 350x)
    — output is identical because ``jaccard_est`` is a pure function of
    the pair."""
    n_perm = bands * rows_per_band
    # signatures feed the bucket branch and verification; persist so the
    # Arrow-batched UDF runs once (at real scale this is a materialized
    # signature table)
    sigs = sigs.persist()
    n_docs = sigs.count()
    if n_docs <= _VERIFY_BROADCAST_MAX_DOCS:
        from fagi_gis_spark.sideinput import read_arrays, write_arrays

        mat = sigs.toPandas()
        ids = mat["doc_id"].to_numpy()
        if ids.dtype == object:  # string ids: fixed-width unicode, never pickled
            ids = ids.astype(str)
        order = np.argsort(ids, kind="stable")
        sig_mat = (
            np.vstack([np.asarray(v, dtype=np.int64) for v in mat["sig"]])[order]
            if len(mat)
            else np.empty((0, n_perm), dtype=np.int64)
        )
        # Side-input file, not a Python broadcast (see
        # fagi_gis_spark.sideinput): the driver ships everything the
        # kernel needs, so workers derive nothing and a REUSED worker
        # loads the arrays once.  Every candidate id comes from these
        # same signatures, so each searchsorted lookup finds its id.
        side = write_arrays(
            sigs.sparkSession,
            ids=ids[order],
            sig=sig_mat,
            lo=(sig_mat & np.int64(0xFF)).astype(np.uint8),
        )
        thr = float(jaccard_threshold)
        fperm = float(n_perm)
        # smallest agreement count that can reach the threshold
        need = int(np.ceil(thr * n_perm - 1e-9))

        def verify(batches):
            z = read_arrays(side)
            idx, m, lo = z["ids"], z["sig"], z["lo"]
            for pdf in batches:
                if not len(pdf):
                    continue
                ia = np.searchsorted(idx, pdf["doc_a"].to_numpy(idx.dtype))
                ib = np.searchsorted(idx, pdf["doc_b"].to_numpy(idx.dtype))
                # 8-bit screen: equal slots stay equal under truncation,
                # so agreement on the uint8 view is an UPPER BOUND on
                # exact agreement — bound-failing pairs are exactly
                # discardable; only bound-passers (true near-dups plus
                # ~n_perm/256 ghost slots) pay the 8x-wider exact gather
                bound = (lo[ia] == lo[ib]).sum(axis=1)
                cand = bound >= need
                if not cand.any():
                    continue
                ca, cb = ia[cand], ib[cand]
                agree = (m[ca] == m[cb]).sum(axis=1)
                est = agree / fperm
                keep = est >= thr
                if keep.any():
                    yield pd.DataFrame(
                        {
                            "doc_a": pdf["doc_a"].to_numpy()[cand][keep],
                            "doc_b": pdf["doc_b"].to_numpy()[cand][keep],
                            "jaccard_est": est[keep],
                        }
                    )

        buckets = _band_buckets(sigs, bands, rows_per_band)
        left = buckets.select("band", "bucket", F.col("doc_id").alias("doc_a"))
        right = buckets.select("band", "bucket", F.col("doc_id").alias("doc_b"))
        raw = (
            left.join(right, ["band", "bucket"], "inner")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
        )
        id_t = sigs.schema["doc_id"].dataType.simpleString()
        return raw.mapInPandas(
            verify, schema=f"doc_a {id_t}, doc_b {id_t}, jaccard_est double"
        ).dropDuplicates()
    cand = _bucket_candidates(_band_buckets(sigs, bands, rows_per_band))
    sig_a = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sig_b = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    ver = cand.join(sig_a, "doc_a").join(sig_b, "doc_b")
    est = _sig_agreement(F.col("sig_a"), F.col("sig_b"), n_perm)
    return (
        ver.withColumn("jaccard_est", est)
        .filter(F.col("jaccard_est") >= jaccard_threshold)
        .select("doc_a", "doc_b", "jaccard_est")
    )


def substring_dup_stats(
    docs: DataFrame,
    k: int = 30,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact substring-duplication stats: per document, how many of its
    length-``k`` character windows occur at least ``min_count`` times
    anywhere in the corpus (including elsewhere in the same document),
    and how many characters those duplicated windows cover (union of
    overlapping intervals).  This is the detection half of
    exact-substring training-data dedup (suffix-array dedup re-expressed
    as a distributed shingle group-by; the published method removes the
    covered spans — ``dup_chars`` is exactly the removable budget).

    Plan shape (scale notes):
    * windows are enumerated in whole-stage codegen — explode(sequence)
      + substring + two hashes in ONE projection, so the full k-char
      window text never shuffles: only (doc_id, i, h1, h2) rows do;
    * duplicated windows are found by groupBy on the 96-bit hash pair
      (xxhash64 + murmur3) with map-side partial aggregation — hot
      boilerplate windows partially aggregate before the exchange (a
      window-function count over (h1, h2) would pull every occurrence
      of a hot window into one task);
    * matching on the hash pair instead of the window text is the same
      convention the MinHash bucket oracle uses: on deterministic data a
      96-bit collision between different windows is ~2^-96 per pair;
    * interval union needs no UDF: sort positions per doc, contribution
      = least(k, next_pos - pos) via lead(), sum per doc — the groupBy
      reuses the window's hash partitioning on doc_id (one exchange).

    Output: (doc_id, dup_windows, dup_chars), docs with dups only.
    """
    d = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")).filter(
        F.length("text") >= k
    )
    win = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.length("text") - F.lit(k - 1))).alias("i"),
        "text",
    ).select(
        "doc_id",
        "i",
        F.xxhash64(F.expr(f"substring(text, i, {k})")).alias("h1"),
        F.hash(F.expr(f"substring(text, i, {k})")).alias("h2"),
    )
    dup = (
        win.groupBy("h1", "h2")
        .agg(F.count("*").alias("occ"))
        .filter(F.col("occ") >= min_count)
        .select("h1", "h2")
    )
    dpos = win.join(dup, ["h1", "h2"]).select("doc_id", "i")
    w = Window.partitionBy("doc_id").orderBy("i")
    cov = dpos.withColumn(
        "c", F.least(F.lit(k), F.coalesce(F.lead("i").over(w) - F.col("i"), F.lit(k)))
    )
    return cov.groupBy("doc_id").agg(
        F.count("*").alias("dup_windows"),
        F.sum("c").cast("bigint").alias("dup_chars"),
    )


def _sig_agreement(sig_a, sig_b, n_perm: int):
    """Estimated Jaccard = fraction of agreeing MinHash slots (the same
    expression for every verification path, so thresholds compare
    bit-identical values)."""
    agree = F.size(
        F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda v: v)
    ).cast("double")
    return agree / F.lit(float(n_perm))


def _check_index_layout(path: str, expected: dict) -> None:
    """Refuse to query the index at ``path`` with different parameters
    than its ``layout.json`` records — a mismatched layout joins almost
    no corpus keys and silently drops real duplicates."""
    with open(os.path.join(path, "layout.json")) as f:
        layout = json.load(f)
    for k, v in expected.items():
        if layout[k] != v:
            raise ValueError(
                f"index {path} was built with {k}={layout[k]} but queried "
                f"with {k}={v}; rebuild the index or query at the build layout"
            )


def build_minhash_index(
    sigs: DataFrame, path: str, bands: int = 16, rows_per_band: int = 4
) -> None:
    """Store a corpus's MinHash-LSH index in the directory ``path`` (a
    ``StoredTable`` build dir) so later batches dedup against it WITHOUT
    rescanning corpus text (the day-2 operation at corpus scale: the
    100 TB corpus is deduped once; every new crawl joins against the
    stored index):

    - ``buckets/`` (doc_id, band, bucket), ``write_bucketed`` on (band,
      bucket), sorted — the candidate join on (band, bucket) reads it
      with NO corpus-side exchange (only the new batch shuffles);
    - ``sigs/`` (doc_id, sig), bucketed on doc_id — the verification
      join on doc_id likewise skips the corpus exchange;
    - ``layout.json``, the band layout the index was built with."""
    write_bucketed(
        _band_buckets(sigs, bands, rows_per_band),
        os.path.join(path, "buckets"),
        ["band", "bucket"],
        sort=True,
    )
    write_bucketed(sigs, os.path.join(path, "sigs"), ["doc_id"])
    with open(os.path.join(path, "layout.json"), "w") as f:
        json.dump({"bands": bands, "rows_per_band": rows_per_band}, f)


def incremental_minhash_pairs(
    new_sigs: DataFrame,
    path: str,
    bands: int = 16,
    rows_per_band: int = 4,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs of a NEW batch against itself AND the corpus index
    stored at ``path`` (``build_minhash_index``), without touching corpus
    text: the new batch's band buckets join the stored ``buckets/`` on
    its storage-bucket key and signatures verify against the stored
    ``sigs/`` — both corpus sides exchange-free, so cost scales
    with the BATCH, not the corpus.  Output ``(doc_a, doc_b,
    jaccard_est, pair_type)`` with ``doc_a < doc_b`` and ``pair_type``
    in {'new_new', 'new_corpus'}; equals the full-batch
    ``minhash_lsh_pairs`` over (corpus ∪ new) restricted to pairs
    touching a new doc (equivalence pytest-asserted)."""
    spark = new_sigs.sparkSession
    _check_index_layout(path, {"bands": bands, "rows_per_band": rows_per_band})
    n_perm = bands * rows_per_band
    nb = _band_buckets(new_sigs, bands, rows_per_band)
    corpus_b = read_bucketed(spark, os.path.join(path, "buckets"))
    corpus_s = read_bucketed(spark, os.path.join(path, "sigs"))

    # new x new: exactly the standard in-batch LSH path (one pipeline to
    # keep in sync, not a copy)
    nn = minhash_lsh_pairs(
        new_sigs, bands=bands, rows_per_band=rows_per_band, jaccard_threshold=jaccard_threshold
    ).withColumn("pair_type", F.lit("new_new"))

    # new x corpus: candidates are ids only; the stored buckets are
    # storage-bucketed on (band, bucket), so only the (small) new side
    # shuffles.
    # doc_n != doc_c guards re-ingested ids (a retried batch whose ids
    # were already folded into the index must not emit self-pairs)
    nc_cand = (
        nb.select("band", "bucket", F.col("doc_id").alias("doc_n"))
        .join(
            corpus_b.select("band", "bucket", F.col("doc_id").alias("doc_c")),
            ["band", "bucket"],
        )
        .filter(F.col("doc_n") != F.col("doc_c"))
        # dedup on the CANONICAL pair, keeping the (batch, corpus) roles
        # for the signature joins: a re-ingested pair whose both members
        # are in the batch AND the index arrives in both directions
        .withColumn("__pa", F.least("doc_n", "doc_c"))
        .withColumn("__pb", F.greatest("doc_n", "doc_c"))
        .dropDuplicates(["__pa", "__pb"])
        # ...and such pairs are already reported as new_new — the
        # corpus echo would be a duplicate row
        .join(
            nn.select(F.col("doc_a").alias("__pa"), F.col("doc_b").alias("__pb")),
            ["__pa", "__pb"],
            "left_anti",
        )
        .select("doc_n", "doc_c")
    )
    nc = (
        nc_cand.join(
            new_sigs.select(F.col("doc_id").alias("doc_n"), F.col("sig").alias("sig_n")),
            "doc_n",
        )
        .join(
            corpus_s.select(F.col("doc_id").alias("doc_c"), F.col("sig").alias("sig_c")),
            "doc_c",
        )
        .withColumn("jaccard_est", _sig_agreement(F.col("sig_n"), F.col("sig_c"), n_perm))
        .filter(F.col("jaccard_est") >= jaccard_threshold)
        .select(
            F.least("doc_n", "doc_c").alias("doc_a"),
            F.greatest("doc_n", "doc_c").alias("doc_b"),
            "jaccard_est",
            F.lit("new_corpus").alias("pair_type"),
        )
    )
    return nn.unionByName(nc)


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Exact word-token Jaccard between document pairs (verification is
    pure JVM column algebra over the token arrays).

    Candidates come from the closed-form length band token-count//8, so
    the candidate join is an equi-join, never a cross join, and the
    blocking is deterministic and DuckDB-expressible (the oracle query
    mirrors it).  It is quadratic inside a band and misses duplicates
    whose token counts straddle a band edge; the corpus-scale near-dup
    path is ``minhash_lsh_pairs``.
    """
    toks = F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
    base = docs.select(F.col(id_col).alias("id"), toks.alias("toks"))
    base = base.withColumn("blk", F.floor(F.size("toks") / 8).cast("int"))
    inter = F.size(F.array_intersect("t_a", "t_b")).cast("double")
    union = F.size(F.array_union("t_a", "t_b")).cast("double")
    jac = F.when(union > 0, inter / union).otherwise(0.0)
    l = base.select(F.col("blk"), F.col("id").alias("doc_a"), F.col("toks").alias("t_a"))
    r = base.select(F.col("blk"), F.col("id").alias("doc_b"), F.col("toks").alias("t_b"))
    return (
        l.join(r, "blk")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _fnv64_tokens(tokens: list[str]) -> np.ndarray:
    """FNV-1a of each token, vectorized column-wise: tokens are padded
    into one byte matrix and the hash recurrence runs once per CHARACTER
    POSITION (<= max token length) over all tokens at once, instead of a
    Python loop per character per token."""
    n = len(tokens)
    encs = [t.encode("utf-8", "ignore") for t in tokens]
    lens = np.fromiter((len(e) for e in encs), dtype=np.int64, count=n)
    width = int(lens.max()) if n else 0
    mat = np.zeros((n, width), dtype=np.uint64)
    for i, e in enumerate(encs):  # one row-copy per token (cheap memcpy)
        mat[i, : len(e)] = np.frombuffer(e, dtype=np.uint8)
    h = np.full(n, np.uint64(1469598103934665603))
    prime = np.uint64(1099511628211)
    for c in range(width):
        active = c < lens
        h = np.where(active, (h ^ mat[:, c]) * prime, h)
    return h


def simhash_signatures(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64
) -> DataFrame:
    """64-bit SimHash over word-token FNV hashes. The kernel is fully
    vectorized per Arrow batch: FNV runs column-wise over the batch's
    UNIQUE tokens (corpora share vocabulary, so the dedup is a large
    win), bit unpack/accumulate is one numpy pass per document. Output
    values are bit-identical to the scalar definition (FNV-1a per token,
    MSB-first majority bits)."""
    from fagi_gis_spark.partitioning import ensure_min_parallelism

    docs = ensure_min_parallelism(docs)

    @F.pandas_udf(T.LongType())
    def u_simhash(text: pd.Series) -> pd.Series:
        out = np.zeros(len(text), dtype=np.int64)
        docs_toks = [(s or "").lower().split() for s in text]
        vocab: dict[str, int] = {}
        for toks in docs_toks:
            for t in toks:
                if t not in vocab:
                    vocab[t] = len(vocab)
        if not vocab:
            return pd.Series(out)
        hashes = _fnv64_tokens(list(vocab))
        # (n_vocab, 64) bit matrix, same order as h.tobytes() big-bitorder
        bitmat = np.unpackbits(
            hashes.view(np.uint8).reshape(-1, 8), axis=1
        ).astype(np.int64)
        for i, toks in enumerate(docs_toks):
            if not toks:
                continue
            idx = np.fromiter((vocab[t] for t in toks), dtype=np.int64, count=len(toks))
            acc = bitmat[idx].sum(axis=0) * 2 - len(toks)
            v = int.from_bytes(np.packbits((acc > 0).astype(np.uint8)).tobytes(), "big")
            if v >= 1 << 63:
                v -= 1 << 64
            out[i] = v
        return pd.Series(out)

    return docs.select(F.col(id_col).alias("doc_id"), u_simhash(F.col(text_col)).alias("simhash"))


def simhash_band_layout(max_hamming: int) -> list[tuple[int, int]]:
    """(offset, width) of each banding block for a given threshold.

    ``max_hamming + 1`` contiguous blocks over the 64 bits: by
    pigeonhole, a pair within ``hamming <= max_hamming`` has at least
    one block with ZERO differing bits, i.e. an exactly-equal band key
    — so the banded candidate join is COMPLETE at the advertised
    threshold (not just a heuristic).  Widths are as even as 64/b
    allows (the first ``64 % b`` blocks get one extra bit)."""
    bands = min(max_hamming + 1, 64)
    base, rem = divmod(64, bands)
    widths = [base + 1 if i < rem else base for i in range(bands)]
    offs = [sum(widths[:i]) for i in range(bands)]
    return list(zip(offs, widths))


def _hamming_bands(sigs: DataFrame, max_hamming: int) -> DataFrame:
    """Explode 64-bit signatures into the complete banded-hamming keys
    (doc_id, simhash, blk, key) per ``simhash_band_layout``."""

    def band_key(off: int, width: int):
        shifted = F.shiftrightunsigned(F.col("simhash"), off)
        if width >= 64:
            return shifted
        return shifted.bitwiseAND(F.lit((1 << width) - 1))

    blocks = F.array(
        *[
            F.struct(
                F.lit(i).alias("blk"),
                band_key(off, width).alias("key"),
            )
            for i, (off, width) in enumerate(simhash_band_layout(max_hamming))
        ]
    )
    return sigs.select("doc_id", "simhash", F.explode(blocks).alias("b")).select(
        "doc_id", "simhash", F.col("b.blk").alias("blk"), F.col("b.key").alias("key")
    )


def simhash_near_pairs(sigs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup candidates via banded SimHash blocking with GUARANTEED
    recall at the advertised threshold: the 64-bit signature splits into
    ``max_hamming + 1`` contiguous blocks (simhash_band_layout), so any
    pair within ``hamming <= max_hamming`` shares at least one band key;
    candidates pass an exact popcount refine.  ``max_hamming=3``
    reproduces the classic 4x16-bit layout.  Cost model: more bands =
    shorter keys = more candidate pairs, so the completeness guarantee
    is paid in shuffle volume — large thresholds are exact but
    expensive, by design (the r3 contract bug was the opposite: a fixed
    4-band layout silently dropping hamming-4..6 pairs)."""

    b = _hamming_bands(sigs, max_hamming)
    l = b.select("blk", "key", F.col("doc_id").alias("doc_a"), F.col("simhash").alias("h_a"))
    r = b.select("blk", "key", F.col("doc_id").alias("doc_b"), F.col("simhash").alias("h_b"))
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (
        l.join(r, ["blk", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
        .withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def connected_components_star(
    edges: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iter: int = 50,
    return_rounds: bool = False,
) -> "DataFrame | tuple[DataFrame, int]":
    """Connected components over the duplicate-pair graph, the step that
    turns pairwise near-dup hits into dedup groups: one row
    (doc_id, component_id = min member id, the canonical survivor) per
    node that appears in an edge.

    Alternating large-star / small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) converges
    in O(log n) rounds on ANY topology, where min-label propagation
    would need diameter rounds (a 10k-node chain = 10k shuffles).

    large-star: every node u points its larger neighbors at
    m = min(neighbors(u) + {u}); small-star: every node points its
    smaller-or-equal neighbors (and itself) at the minimum of that set.
    The edge set converges to per-component stars centered at the
    component minimum.  Convergence is screened by an order-insensitive
    (count, xor-of-xxhash64) fingerprint of the edge set — one tiny agg
    per round — and then CONFIRMED exactly: both sets are distinct, so
    equal counts + an empty one-direction ``exceptAll`` proves set
    equality (a fingerprint collision alone can never terminate the
    loop early with wrong labels).  Each round's edges are
    localCheckpoint-ed so the plan doesn't deepen.
    ``return_rounds=True`` returns ``(labels, rounds)`` so callers and
    tests can assert the O(log n) round bound."""
    e = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    nodes = e.select(F.col("u").alias("id")).unionByName(
        e.select(F.col("v").alias("id"))
    ).distinct().localCheckpoint()

    def fingerprint(df: DataFrame):
        row = df.agg(
            F.count("*").alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("x"),
        ).first()
        return (row.n, row.x)

    def large_star(df: DataFrame) -> DataFrame:
        nbrs = df.unionByName(df.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = nbrs.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.withColumn("m", F.least(F.col("mn"), F.col("u"))).drop("mn")
        return (
            nbrs.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(df: DataFrame) -> DataFrame:
        # orient toward the smaller endpoint: u is the larger one
        oriented = df.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
        pointed = oriented.join(mins, "u").select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        selfed = mins.select(F.col("u"), F.col("m").alias("v"))
        return (
            pointed.unionByName(selfed)
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    fp = fingerprint(e)
    rounds = 0
    for _ in range(max_iter):
        prev_e = e
        new_e = small_star(large_star(e)).localCheckpoint()
        new_fp = fingerprint(new_e)
        e = new_e
        rounds += 1
        if new_fp == fp:
            # Fingerprint match is a screen, not a proof: confirm set
            # equality exactly.  Both sets are distinct and counts are
            # equal (part of the fingerprint), so a one-direction
            # exceptAll being empty implies equality.
            if new_e.exceptAll(prev_e).isEmpty():
                break
        fp = new_fp
    # converged edge set is a star u -> component min; isolated centers
    # (and any node appearing only as a center) label themselves
    labels = e.groupBy("u").agg(F.min("v").alias("component_id"))
    out = (
        nodes.join(labels, nodes.id == labels.u, "left")
        .select(
            F.col("id").alias("doc_id"),
            F.coalesce(F.col("component_id"), F.col("id")).alias("component_id"),
        )
    )
    if return_rounds:
        return out, rounds
    return out


def dedup_survivors(docs: DataFrame, components: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Keep one document per component (the min-id canonical survivor);
    documents with no duplicate edges survive untouched."""
    comp = components.filter(F.col("doc_id") != F.col("component_id"))
    return docs.join(
        comp.select(F.col("doc_id").alias(id_col)), id_col, "left_anti"
    )
