"""Similarity search over an embedding column (array<float>).

Exact (integer-quantized, so every path and the DuckDB oracle agree
bit-for-bit): ``cosine_topk`` ships the reference matrix to workers as a
side input (``fagi_gis_spark.sideinput``) and scans the queries once,
switching to the blocked cogroup kernel above
``_ANN_BROADCAST_MAX_REFS``; ``cosine_near_dup_pairs(blocking="exact")``
thresholds the same blocked matmul.

Approximate (candidates first, exact re-rank after): ``lsh_topk`` and
``cosine_near_dup_pairs`` bucket-join random-hyperplane signatures on
ids only (shuffle bounded by bucket width, no cross join); ``ivf_topk``
probes KMeans cells; ``pq_topk`` scores product-quantized codes by ADC.
Their small bounded arrays (centroids, codebooks) ride in the UDF
closure.

Every path scores with one rule, written once here: round to BIGINT at
``quantize``, then ``dot / sqrt(n_a * n_b)``.  ``_quantized`` (JVM) and
``_qmatrix`` (numpy) quantize; ``_cos`` and its numpy twin
``_cos_matrix`` score; ``_with_cos`` re-attaches vectors to id pairs;
``_topk`` keeps each query's (score desc, neighbor id asc) top-k;
``_blocked`` is the one block-partitioned cogroup harness;
``_auto_bits`` and ``_probe_bucket`` fix the LSH layout and its
hamming-1 multiprobe.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fagi_gis_spark.sources.layers import read_bucketed, write_bucketed


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, x: acc + x)


def _quantized(df: DataFrame, id_col: str, vec_col: str, scale: int, *keep) -> DataFrame:
    """(vid, v, *keep, n): the vector rounded to BIGINT at ``scale`` and
    its exact integer squared norm."""
    v = F.transform(F.col(vec_col), lambda x: F.round(x.cast("double") * scale).cast("long"))
    return df.select(F.col(id_col).alias("vid"), v.alias("v"), *keep).withColumn(
        "n", _dot(F.col("v"), F.col("v"))
    )


def _cos(va: str, na: str, vb: str, nb: str):
    """Exact cosine of two quantized vectors given their integer norms."""
    return _dot(F.col(va), F.col(vb)).cast("double") / F.sqrt(
        F.col(na).cast("double") * F.col(nb).cast("double")
    )


def _with_cos(pairs: DataFrame, a: str, b: str, vecs_a: DataFrame, vecs_b: DataFrame) -> DataFrame:
    """Re-attach ``_quantized`` vectors to the id pairs in columns ``a``
    and ``b`` and add their ``cos_sim``."""
    va = vecs_a.select(F.col("vid").alias(a), F.col("v").alias("__va"), F.col("n").alias("__na"))
    vb = vecs_b.select(F.col("vid").alias(b), F.col("v").alias("__vb"), F.col("n").alias("__nb"))
    return (
        pairs.join(va, a)
        .join(vb, b)
        .withColumn("cos_sim", _cos("__va", "__na", "__vb", "__nb"))
        .drop("__va", "__na", "__vb", "__nb")
    )


def _topk(df: DataFrame, score: str, k: int) -> DataFrame:
    """Each vec_id's top-k rows by (score desc, neighbor id asc)."""
    w = Window.partitionBy("vec_id").orderBy(F.col(score).desc(), F.col("neighbor_id").asc())
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", score, "rank")
    )


def _matrix(col: "pd.Series") -> np.ndarray:
    return np.vstack([np.asarray(v, dtype=np.float64) for v in col])


def _unit_rows(col: "pd.Series") -> np.ndarray:
    """L2-normalized float rows (zero vectors stay zero)."""
    M = _matrix(col)
    nrm = np.linalg.norm(M, axis=1, keepdims=True)
    return M / np.where(nrm == 0, 1.0, nrm)


def _qmatrix(col: "pd.Series", quantize: int) -> np.ndarray:
    """numpy twin of ``_quantized``.  Rounds ties away from zero, like
    Spark round() and DuckDB round() (np.rint would round them to even)."""
    x = _matrix(col) * quantize
    return np.where(x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5)).astype(np.int64)


def _cos_matrix(Q: np.ndarray, R: np.ndarray, rn: np.ndarray | None = None) -> np.ndarray:
    """numpy twin of ``_cos``: (queries x refs) cosines of quantized
    int64 matrices; ``rn`` passes precomputed reference norms."""
    qn = (Q * Q).sum(axis=1)
    if rn is None:
        rn = (R * R).sum(axis=1)
    return (Q @ R.T).astype(np.float64) / np.sqrt(
        qn[:, None].astype(np.float64) * rn[None, :].astype(np.float64)
    )


def _rows_topk(
    qids: np.ndarray, scores: np.ndarray, rids: np.ndarray, k: int, score_name: str
) -> pd.DataFrame:
    """Tie-safe per-row top-k of a (queries x refs) score matrix (score
    desc, neighbor id asc), self pairs excluded; both sides non-empty.

    Fully vectorized (guide §4.2 — no per-row Python loop): refs are
    pre-sorted by id ascending ONCE, then one STABLE argsort of the
    negated score matrix along axis=1 yields exactly (score desc,
    neighbor id asc) — stability makes equal scores keep the ascending-id
    column order.  Self pairs are masked to -inf (they sort last and are
    dropped by the validity mask)."""
    order = np.argsort(rids, kind="stable")
    rids_s = rids[order]
    sc = scores[:, order]  # column copy — safe to mutate
    sc[rids_s[None, :] == qids[:, None]] = -np.inf  # exclude self
    kk = min(k, scores.shape[1])
    idx = np.argsort(-sc, axis=1, kind="stable")[:, :kk]
    top = np.take_along_axis(sc, idx, axis=1)
    valid = (top > -np.inf).ravel()
    return pd.DataFrame(
        {
            "vec_id": pd.Series(np.repeat(qids, kk)[valid], dtype="int64"),
            "neighbor_id": pd.Series(rids_s[idx].ravel()[valid], dtype="int64"),
            score_name: pd.Series(top.ravel()[valid], dtype="float64"),
        }
    )


def _blocked(queries: DataFrame, refs: DataFrame, n_blocks: int, kernel, schema: str) -> DataFrame:
    """Block-partitioned cogroup: ``refs`` (vid, ...) hash-split into
    ``n_blocks`` row blocks by crc32 of the id, ``queries`` (qid, qv)
    replicated to every block, and ``kernel(queries_pdf, refs_pdf)``
    run once per (query batch, block) that has rows on both sides.
    Per-task memory is bounded by |block| x dim; nothing is collected to
    the driver."""
    fields = (f.split() for f in schema.split(","))
    empty = pd.DataFrame({n: pd.Series([], dtype="float64" if t == "double" else "int64") for n, t in fields})

    def run(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return empty
        return kernel(left, right)

    q = queries.withColumn("block", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))))
    r = refs.withColumn(
        "block", F.pmod(F.crc32(F.col("vid").cast("string")), F.lit(n_blocks)).cast("int")
    )
    return q.groupBy("block").cogroup(r.groupBy("block")).applyInPandas(run, schema=schema)


def _auto_bits(bits_per_table: int | str, emb: DataFrame) -> int:
    """Resolve ``bits_per_table="auto"``: clamp(ceil(log2(n/24)), 4, 16)
    from one count, which holds per-bucket width roughly constant as the
    corpus grows."""
    if bits_per_table != "auto":
        return bits_per_table
    return min(16, max(4, math.ceil(math.log2(max(emb.count(), 2) / 24.0))))


def _probe_bucket(bits: int, multiprobe: int):
    """The bucket column a probe side joins on: its own bucket and, with
    ``multiprobe``, the ``bits`` buckets at hamming distance 1.  The key
    is table * 2^bits + sig, so flipping signature bit i is a XOR on the
    packed key (the table prefix is untouched)."""
    if not multiprobe:
        return F.col("bucket")
    return F.explode(
        F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << i).cast("long")) for i in range(bits)],
        )
    )


#: side-input reference cutoff for the exact top-k: up to this many rows
#: the reference ships once to every worker (fagi_gis_spark.sideinput) as
#: one quantized int64 matrix (500k x 64 dims x 8 B = 256 MB) and the
#: query side is scanned ONCE — no 32x query replication, no cogroup
#: shuffle, no merge window; above it ``_blocked`` bounds per-task memory
#: by |block| x dim.  The broadcast-vs-shuffle join switch (guide §3.1):
#: both paths compute identical integer dot products and tie order.
_ANN_BROADCAST_MAX_REFS = 500_000


def _cosine_topk_broadcast(
    emb: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    quantize: int,
    queries: DataFrame | None,
) -> DataFrame:
    """Exact top-k with the full quantized reference shipped as a side
    input: one mapInPandas pass over the query side, zero
    shuffles/windows."""
    from fagi_gis_spark.sideinput import read_arrays, write_arrays

    ref_pdf = emb.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v")).toPandas()
    rids = ref_pdf["vid"].to_numpy("int64")
    R = _qmatrix(ref_pdf["v"], quantize) if len(ref_pdf) else np.empty((0, 0), np.int64)
    src = queries if queries is not None else emb
    # worker-cached side-input file, not a Python broadcast (see
    # fagi_gis_spark.sideinput — broadcasts re-unpickle per task)
    side = write_arrays(emb.sparkSession, rids=rids, R=R)

    def run(batches):
        z = read_arrays(side)
        rids_b, R_b = z["rids"], z["R"]
        if R_b.size == 0:
            return
        rn = (R_b * R_b).sum(axis=1)
        # slice queries so the (n_q, n_ref) score matrix stays ~16 MB:
        # fresh large allocations fault zeroed pages on this host (6x
        # slower than cache-sized blocks the allocator can recycle) —
        # slicing changes only loop granularity, never any value
        q_slice = max(1, 2_000_000 // max(1, R_b.shape[0]))
        for pdf in batches:
            for s in range(0, len(pdf), q_slice):
                part = pdf.iloc[s : s + q_slice]
                cos = _cos_matrix(_qmatrix(part["qv"], quantize), R_b, rn)
                out = _rows_topk(part["qid"].to_numpy("int64"), cos, rids_b, k, "cos_sim")
                # _rows_topk emits per query in (cos desc, neighbor id
                # asc) order — identical to the merge window's rank rule
                out["rank"] = out.groupby("vec_id").cumcount() + 1
                yield out

    return src.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
    ).mapInPandas(run, schema="vec_id long, neighbor_id long, cos_sim double, rank int")


def cosine_topk(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: int = 1000,
    queries: DataFrame | None = None,
    n_blocks: int = 32,
) -> DataFrame:
    """Exact cosine top-k neighbors for every vector (excluding self).
    Integer-quantized: cos = dot_q / sqrt(n_a * n_b) over exact BIGINTs,
    so both physical strategies (and the DuckDB oracle) agree
    bit-for-bit.

    Up to ``_ANN_BROADCAST_MAX_REFS`` reference rows, the quantized
    reference matrix ships to workers as a side input and the query side
    is scanned once (``_cosine_topk_broadcast``).  Above it: the
    ``_blocked`` exact matmul — one integer matmul + tie-safe per-block
    top-k per (query batch, block), and a final window merges the global
    top-k. NOTHING is collected to the driver, so "exact" survives
    reference sets far beyond one machine's memory: per-task working set
    is |block| x dim, and n_blocks scales with the data. (Per-block
    top-k is globally sufficient: any global top-k neighbor ranks within
    top-k of its own block under the same (cos desc, id asc) order.)"""
    if emb.count() <= _ANN_BROADCAST_MAX_REFS:
        return _cosine_topk_broadcast(emb, k, id_col, vec_col, quantize, queries)
    src = queries if queries is not None else emb

    def kernel(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        cos = _cos_matrix(_qmatrix(left["qv"], quantize), _qmatrix(right["v"], quantize))
        return _rows_topk(
            left["qid"].to_numpy("int64"), cos, right["vid"].to_numpy("int64"), k, "cos_sim"
        )

    per_block = _blocked(
        src.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")),
        emb.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v")),
        n_blocks,
        kernel,
        "vec_id long, neighbor_id long, cos_sim double",
    )
    return _topk(per_block, "cos_sim", k)


def ivf_topk(
    emb: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 3,
    quantize: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a KMeans coarse quantizer
    assigns each vector to a cell; queries probe their ``n_probe`` nearest
    centroids and re-rank exactly (integer dot products) inside those
    cells. The second scale path next to LSH: shuffle bounded by cell
    population; the (n_cells, dim) centroids ride in the UDF closure."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vec = emb.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    ).withColumn("features", array_to_vector(F.col("embedding")))
    km = KMeans(k=n_cells, seed=seed, maxIter=20).fit(vec)
    centers = _matrix(km.clusterCenters())

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def u_probe_cells(v: pd.Series) -> pd.Series:
        m = _matrix(v)
        d = ((m[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        order = np.argsort(d, axis=1)[:, :n_probe]
        return pd.Series(order.astype(np.int32).tolist())

    base = _quantized(vec, "vec_id", "embedding", quantize, "embedding", "features")
    build = km.transform(base).select(
        F.col("prediction").alias("cell"),
        F.col("vid").alias("neighbor_id"),
        F.col("v").alias("vb"),
        F.col("n").alias("nb"),
    )
    probe = base.select(
        F.col("vid").alias("vec_id"), F.col("v").alias("va"), F.col("n").alias("na"),
        F.explode(u_probe_cells(F.col("embedding"))).alias("cell"),
    )
    pairs = probe.join(build, "cell").filter(F.col("vec_id") != F.col("neighbor_id"))
    return _topk(
        pairs.withColumn("cos_sim", _cos("va", "na", "vb", "nb")).dropDuplicates(
            ["vec_id", "neighbor_id"]
        ),
        "cos_sim",
        k,
    )


def _pq_fit_codebooks(
    X: np.ndarray, m: int, n_centroids: int, iters: int, seed: int
) -> np.ndarray:
    """Per-subspace Lloyd k-means (seeded, deterministic) over an
    L2-normalized sample -> (m, n_centroids, dim/m) codebooks.  Empty
    clusters keep their previous centroid; degenerate samples (< nc
    distinct points) pad with the first centroid (padded slots can win
    an argmin tie but encode the identical centroid, so scores are
    unaffected)."""
    n, dim = X.shape
    sub = dim // m
    rng = np.random.default_rng(seed)
    nc = min(n_centroids, n)
    books = np.zeros((m, n_centroids, sub))
    for j in range(m):
        Xj = X[:, j * sub : (j + 1) * sub]
        C = Xj[rng.choice(n, size=nc, replace=False)].copy()
        for _ in range(iters):
            # argmin of ||x-c||^2 == argmin of -2x.c + ||c||^2: the
            # (n, nc) matrix form — never the (n, nc, sub) difference
            # tensor (~820 MB float64 at 50k x 256 x 8)
            a = (-2.0 * (Xj @ C.T) + (C * C).sum(axis=1)[None, :]).argmin(axis=1)
            for c in range(nc):
                pts = Xj[a == c]
                if len(pts):
                    C[c] = pts.mean(axis=0)
        books[j, :nc] = C
        if nc < n_centroids:
            books[j, nc:] = C[0]
    return books


def pq_topk(
    emb: DataFrame,
    k: int = 5,
    m: int = 8,
    n_centroids: int = 256,
    n_blocks: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    fit_sample_rows: int = 50_000,
    kmeans_iters: int = 10,
    rerank: int = 0,
    quantize: int = 1000,
) -> DataFrame:
    """Product-quantization approximate top-k (Jegou/Douze/Schmid,
    "Product quantization for nearest neighbor search", TPAMI 2011) —
    the memory-compressed scale path next to LSH and IVF: vectors
    L2-normalize and split into ``m`` subspaces; per-subspace codebooks
    fit on a bounded, hash-gated driver-side sample (same contract as
    the diagonal-EM fit); every vector encodes DISTRIBUTED to ``m``
    uint8 codes (dim=64 float32 = 256 B -> 8 B, 32x), and queries score
    candidates by ADC (per-query distance tables + code lookups) inside
    the same ``_blocked`` harness as the exact path — the CODES are
    the only per-row payload shuffled, so the candidate scan moves 32x
    less data than exact at the cost of quantization error (recall
    gate in pytest).  Returns (vec_id, neighbor_id, pq_score, rank);
    pq_score approximates cosine on normalized vectors.

    ``rerank=r`` (the paper's ADC+R) keeps the compressed scan but
    re-ranks each query's ADC top-``r`` shortlist by EXACT quantized
    cosine (ids-only shortlist, raw vectors re-attached afterward, same
    integer kernel as ``cosine_topk``): output becomes (vec_id,
    neighbor_id, cos_sim, rank) with exact scores, and recall is set by
    the shortlist rather than raw code resolution."""
    base = emb.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v"))

    # bounded deterministic fit sample: pure hash gate, NO limit() — an
    # unordered limit truncates by partition-planning order, so the same
    # data on a different core count would fit different codebooks (the
    # EM fit at operators/clustering.py uses the same no-limit contract);
    # expected sample size overshoots fit_sample_rows only marginally
    total = base.count()
    ppm = min(1_000_000, int(1_000_000 * fit_sample_rows / max(total, 1)) + 1)
    samp = base.filter(
        F.pmod(F.xxhash64(F.col("vid")), F.lit(1_000_000)) < ppm
    ).toPandas()
    X = _unit_rows(samp["v"])
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    # (m, n_centroids, dim/m) codebooks ride in the UDF closures
    books = _pq_fit_codebooks(X, m, n_centroids, kmeans_iters, seed)
    sub = dim // m

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def u_encode(v: pd.Series) -> pd.Series:
        M = _unit_rows(v)
        codes = np.empty((len(M), m), dtype=np.int32)
        for j in range(m):
            Mj = M[:, j * sub : (j + 1) * sub]
            # matrix form, not the (batch, nc, sub) difference tensor
            codes[:, j] = (
                -2.0 * (Mj @ books[j].T) + (books[j] * books[j]).sum(axis=1)[None, :]
            ).argmin(axis=1)
        return pd.Series(codes.tolist())

    k_adc = max(k, rerank)

    def adc(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        Q = _unit_rows(left["qv"])
        codes = np.vstack([np.asarray(c, dtype=np.int32) for c in right["codes"]])
        # ADC: per-subspace inner-product tables (B_q x n_centroids),
        # then one table lookup per (query, ref, subspace)
        scores = np.zeros((len(Q), len(codes)))
        for j in range(m):
            T_j = Q[:, j * sub : (j + 1) * sub] @ books[j].T
            scores += T_j[:, codes[:, j]]
        return _rows_topk(
            left["qid"].to_numpy("int64"), scores, right["vid"].to_numpy("int64"), k_adc, "pq_score"
        )

    per_block = _blocked(
        base.select(F.col("vid").alias("qid"), F.col("v").alias("qv")),
        base.select("vid", u_encode(F.col("v")).alias("codes")),
        n_blocks,
        adc,
        "vec_id long, neighbor_id long, pq_score double",
    )
    shortlist = _topk(per_block, "pq_score", k_adc)
    if not rerank:
        return shortlist
    # ADC+R: exact integer-cosine re-rank of the shortlist (ids only up
    # to here; vectors re-attach now, so the exact kernel touches r
    # candidates per query instead of n)
    qv = _quantized(base, "vid", "v", quantize)
    return _topk(
        _with_cos(shortlist.drop("rank", "pq_score"), "vec_id", "neighbor_id", qv, qv),
        "cos_sim",
        k,
    )


def cosine_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.8,
    quantize: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 32,
    blocking: str = "lsh",
    n_tables: int = 16,
    bits_per_table: int | str = "auto",
    dim: int = 64,
    multiprobe: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the dedup-by-embedding
    operator).  Two physical plans, identical output values for every
    emitted pair (both verify with the SAME exact integer-quantized
    cosine, so cos_sim is bit-identical between paths):

    ``blocking="lsh"`` (default — the corpus-scale path): candidate
    pairs come from shared random-hyperplane buckets (multi-table +
    multi-probe, same machinery as ``lsh_topk``; ids only through the
    bucket join), then every candidate is verified with the exact
    quantized cosine and kept iff >= threshold.  Candidate volume is
    ~linear in n with ``bits_per_table="auto"`` (bucket width held
    roughly constant), so at 10^9 rows this does ~10^12-10^13 dot
    products instead of the exact plan's 10^18 — the 100 TB default.
    APPROXIMATE in recall only (a pair the buckets never co-locate is
    missed; measured recall >= 0.95 at threshold 0.8 in pytest — no
    false positives ever, since every emitted pair passed the exact
    verify).

    ``blocking="exact"`` (the oracle/baseline path): exact quantized
    cosine via the same ``_blocked`` matmul as ``cosine_topk`` — rows
    replicate to every block as queries, and each (query batch, block)
    task emits only (id_a < id_b, cos_sim) at or above the threshold.
    Nothing is collected to the driver and nothing near n^2 ever leaves
    a kernel; each pair lands in exactly one block (the one owning
    id_b), so no dedup pass is needed.  Oracle-checkable (integer-exact
    dot products), complete by construction — and inherently O(n^2)
    FLOPs, which is why it is the small-n baseline, not the scale
    default."""
    if blocking == "lsh":
        return _cosine_near_dup_lsh(
            emb, threshold, quantize, id_col, vec_col,
            n_tables, bits_per_table, dim, multiprobe, seed,
        )
    if blocking != "exact":
        raise ValueError(f"blocking must be 'lsh' or 'exact', got {blocking!r}")

    def kernel(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        qids = left["qid"].to_numpy("int64")
        rids = right["vid"].to_numpy("int64")
        cos = _cos_matrix(_qmatrix(left["qv"], quantize), _qmatrix(right["v"], quantize))
        qi, ri = np.nonzero((cos >= threshold) & (qids[:, None] < rids[None, :]))
        return pd.DataFrame(
            {
                "id_a": pd.Series(qids[qi], dtype="int64"),
                "id_b": pd.Series(rids[ri], dtype="int64"),
                "cos_sim": pd.Series(cos[qi, ri], dtype="float64"),
            }
        )

    return _blocked(
        emb.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")),
        emb.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v")),
        n_blocks,
        kernel,
        "id_a long, id_b long, cos_sim double",
    )


def _cosine_near_dup_lsh(
    emb: DataFrame,
    threshold: float,
    quantize: int,
    id_col: str,
    vec_col: str,
    n_tables: int,
    bits_per_table: int | str,
    dim: int,
    multiprobe: int,
    seed: int,
) -> DataFrame:
    """LSH-candidate + exact-verify near-dup (see cosine_near_dup_pairs).
    The bucket join carries IDS ONLY; quantized vectors re-attach after
    the undirected pair dedup, and the verify cosine is the identical
    integer-dot / sqrt formula the exact path computes."""
    bits = _auto_bits(bits_per_table, emb)
    sig = hyperplane_signatures(
        emb, n_tables=n_tables, bits_per_table=bits, dim=dim,
        id_col=id_col, vec_col=vec_col, seed=seed,
    )
    cand = (
        sig.select(_probe_bucket(bits, multiprobe).alias("bucket"), F.col("vec_id").alias("id_a"))
        .join(sig.select("bucket", F.col("vec_id").alias("id_b")), "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    vecs = _quantized(emb, id_col, vec_col, quantize)
    return (
        _with_cos(cand, "id_a", "id_b", vecs, vecs)
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def hyperplane_signatures(
    emb: DataFrame,
    n_tables: int = 16,
    bits_per_table: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Multi-table random-hyperplane LSH: ``n_tables`` independent
    signatures of ``bits_per_table`` bits each (standard LSH amplification
    — one table of many bits has vanishing recall on high-dim data).
    Output: one row per (vector, table) with the bucket key."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_tables, bits_per_table, dim))
    weights = (2 ** np.arange(bits_per_table)).astype(np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def u_sigs(vec: pd.Series) -> pd.Series:
        m = _matrix(vec)  # (n, dim)
        out = np.empty((m.shape[0], planes.shape[0]), dtype=np.int64)
        for t in range(planes.shape[0]):
            bits = (m @ planes[t].T) > 0  # (n, bits)
            out[:, t] = bits.astype(np.int64) @ weights
        return pd.Series(out.tolist())

    sigs = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        F.posexplode(u_sigs(F.col(vec_col))).alias("table", "sig"),
    )
    # pack (table, sig) into one join key
    return sigs.withColumn(
        "bucket", F.col("table").cast("long") * F.lit(1 << bits_per_table).cast("long") + F.col("sig")
    ).drop("table", "sig")


def lsh_topk(
    emb: DataFrame,
    k: int = 5,
    n_tables: int = 16,
    bits_per_table: int | str = "auto",
    dim: int = 64,
    quantize: int = 1000,
    multiprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates from any shared LSH bucket across
    tables, exact integer re-rank in-bucket. Shuffle is bounded by bucket
    width x table count — no cross join.

    ``multiprobe=1`` (default) also probes, for each query and table,
    the ``bits_per_table`` buckets at hamming distance 1 from the
    query's signature — pure JVM bit-flips on the bucket key, no extra
    signature pass.  On near-uniform embeddings (this repo's synthetic
    corpus: top-5 neighbors at cos ~0.29, per-bit collision ~0.59)
    multi-probe lifts per-table recall ~5x (0.04 -> 0.22) and aggregate
    16-table recall to >0.9 where single-probe sat near 0.4 — the
    published multi-probe LSH result (Lv et al., VLDB'07: perturbed
    buckets stand in for extra tables).  Candidate volume grows by
    ~(1 + bits) probes/table.

    ``bits_per_table="auto"`` (default) holds per-bucket width roughly
    constant as the corpus grows: bits = clamp(ceil(log2(n/24)), 4, 16)
    from one planning count (the AQE-statistics analog, like hex
    auto-res) — candidate volume then scales ~linearly in n instead of
    quadratically, which is the 100x scale path.  Measured honestly at
    the test scales, though: exact ``cosine_topk`` still wins sf0.1
    (n=2000: 2.0s exact vs 7.7s LSH at recall 0.96); LSH's crossover
    sits where the n^2 pair volume stops fitting per-task working sets
    (n in the millions).  So LSH is the *scale escape hatch*, not the
    small-n fast path — the headline bench keeps ``ann_cosine_topk``
    and this stays recall-gated in pytest.  ``multiprobe=0`` restores
    single-probe."""
    bits = _auto_bits(bits_per_table, emb)
    sig = hyperplane_signatures(emb, n_tables=n_tables, bits_per_table=bits, dim=dim)
    # candidate generation carries IDS ONLY — the dim-length quantized
    # vectors join back after the pair dedup (carrying 64-long arrays
    # through the exploded bucket join was the dominant cost: measured
    # 39s -> ~8s at sf0.1)
    pairs = (
        sig.select(_probe_bucket(bits, multiprobe).alias("bucket"), "vec_id")
        .join(sig.select("bucket", F.col("vec_id").alias("neighbor_id")), "bucket")
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .select("vec_id", "neighbor_id")
        .dropDuplicates(["vec_id", "neighbor_id"])
    )
    vecs = _quantized(emb, "vec_id", "embedding", quantize)
    return _topk(_with_cos(pairs, "vec_id", "neighbor_id", vecs, vecs), "cos_sim", k)


def build_cosine_index(
    emb: DataFrame,
    path: str,
    n_tables: int = 16,
    bits_per_table: int | str = "auto",
    dim: int = 64,
    quantize: int = 1000,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Store the embedding-cosine day-2 index in the directory ``path``
    (a ``StoredTable`` build dir) — the same shape as the MinHash index
    (``dedup.build_minhash_index``): the corpus's hyperplane bucket rows
    land in ``buckets/`` (``write_bucketed`` on ``bucket``, so a new
    batch's candidate join is exchange-free on the corpus side) and the
    quantized vectors in ``vecs/`` (bucketed by id, so the exact verify
    re-attach is exchange-free too).  The resolved LSH layout (auto bits
    resolve HERE, against the corpus size) goes to ``layout.json`` —
    day-2 batches inherit it instead of re-deriving against a different
    n."""
    bits = _auto_bits(bits_per_table, emb)
    sig = hyperplane_signatures(
        emb, n_tables=n_tables, bits_per_table=bits, dim=dim,
        id_col=id_col, vec_col=vec_col, seed=seed,
    )
    write_bucketed(
        sig.select("bucket", "vec_id"), os.path.join(path, "buckets"), ["bucket"], sort=True
    )
    write_bucketed(
        _quantized(emb, id_col, vec_col, quantize).select(
            F.col("vid").alias("vec_id"), F.col("v").alias("qvec")
        ),
        os.path.join(path, "vecs"),
        ["vec_id"],
        sort=True,
    )
    layout = {"n_tables": n_tables, "bits_per_table": int(bits), "dim": dim,
              "quantize": quantize, "seed": seed}
    with open(os.path.join(path, "layout.json"), "w") as f:
        json.dump(layout, f)


def incremental_cosine_pairs(
    new_emb: DataFrame,
    path: str,
    threshold: float = 0.8,
    multiprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs (cos >= threshold) of a NEW batch against
    itself and the ``build_cosine_index`` corpus stored at ``path``.  The
    LSH layout comes from its ``layout.json`` (built-at layout, never
    re-derived), the corpus side of the bucket join reads pre-bucketed
    storage (exchange-free), and every candidate passes the SAME exact
    integer-quantized cosine verify as ``cosine_near_dup_pairs`` — so
    emitted cos_sim values are bit-identical to a full-batch run, and
    new-side multiprobe covers both probe directions (bucket-flip
    adjacency is symmetric: probe(new) hits exact(corpus) iff
    probe(corpus) would hit exact(new)).  Output (id_a, id_b, cos_sim,
    pair_type); cost scales with the batch, not the stored corpus."""
    spark = new_emb.sparkSession
    with open(os.path.join(path, "layout.json")) as f:
        layout = json.load(f)
    n_tables, bits, dim = layout["n_tables"], layout["bits_per_table"], layout["dim"]
    quantize, seed = layout["quantize"], layout["seed"]

    nn = cosine_near_dup_pairs(
        new_emb,
        threshold=threshold,
        quantize=quantize,
        id_col=id_col,
        vec_col=vec_col,
        blocking="lsh",
        n_tables=n_tables,
        bits_per_table=bits,
        dim=dim,
        multiprobe=multiprobe,
        seed=seed,
    ).withColumn("pair_type", F.lit("new_new"))

    sig = hyperplane_signatures(
        new_emb, n_tables=n_tables, bits_per_table=bits, dim=dim,
        id_col=id_col, vec_col=vec_col, seed=seed,
    )
    corpus = read_bucketed(spark, os.path.join(path, "buckets")).select(
        "bucket", F.col("vec_id").alias("id_c")
    )
    cand = (
        sig.select(_probe_bucket(bits, multiprobe).alias("bucket"), F.col("vec_id").alias("id_n"))
        .join(corpus, "bucket")
        # a retried batch whose ids already folded into the index must
        # not emit self-pairs
        .filter(F.col("id_n") != F.col("id_c"))
        # dedup on the CANONICAL pair while keeping the (batch, corpus)
        # roles: when both members are in the batch AND the index
        # (re-ingest), the probe yields both directions — directed
        # dedup would keep both and double-emit; either survivor's
        # roles resolve (both ids exist on both vector sides then)
        .withColumn("__pa", F.least("id_n", "id_c"))
        .withColumn("__pb", F.greatest("id_n", "id_c"))
        .dropDuplicates(["__pa", "__pb"])
        # ...and the batch-internal branch already reports such pairs
        # as new_new; the corpus echo would be a duplicate row
        .join(
            nn.select(F.col("id_a").alias("__pa"), F.col("id_b").alias("__pb")),
            ["__pa", "__pb"],
            "left_anti",
        )
        .select("id_n", "id_c")
    )
    corpus_vecs = (
        read_bucketed(spark, os.path.join(path, "vecs"))
        .select(F.col("vec_id").alias("vid"), F.col("qvec").alias("v"))
        .withColumn("n", _dot(F.col("v"), F.col("v")))
    )
    nc = (
        _with_cos(cand, "id_n", "id_c", _quantized(new_emb, id_col, vec_col, quantize), corpus_vecs)
        .filter(F.col("cos_sim") >= F.lit(threshold))
        .select(
            F.least("id_n", "id_c").alias("id_a"),
            F.greatest("id_n", "id_c").alias("id_b"),
            "cos_sim",
            F.lit("new_corpus").alias("pair_type"),
        )
    )
    return nn.unionByName(nc)
