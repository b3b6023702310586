"""Similarity search over an embedding column (array<float>).

Exact (integer-quantized, so every path and the DuckDB oracle agree
bit-for-bit): ``cosine_topk`` ships the reference matrix to workers as a
side input (``fagi_gis_spark.sideinput``) and scans the queries once,
switching to a block-partitioned cogroup matmul above
``_ANN_BROADCAST_MAX_REFS``; ``cosine_near_dup_pairs(blocking="exact")``
thresholds the same cogroup kernel.

Approximate (candidates first, exact re-rank after): ``lsh_topk`` and
``cosine_near_dup_pairs`` bucket-join random-hyperplane signatures on
ids only (shuffle bounded by bucket width, no cross join); ``ivf_topk``
probes KMeans cells; ``pq_topk`` scores product-quantized codes by ADC.
Their small bounded arrays (centroids, codebooks) ride in the UDF
closure.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _quantized(df: DataFrame, id_col: str, vec_col: str, scale: int) -> DataFrame:
    q = F.transform(F.col(vec_col), lambda x: F.round(x.cast("double") * scale).cast("long"))
    return df.select(F.col(id_col).alias("vid"), q.alias("v"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, x: acc + x)


def _round_half_away(x: np.ndarray) -> np.ndarray:
    """Match Spark round()/DuckDB round(): ties away from zero (np.rint
    would round ties to even)."""
    return np.where(x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5)).astype(np.int64)


def _qmatrix(col: "pd.Series", quantize: int) -> np.ndarray:
    return _round_half_away(
        np.vstack([np.asarray(v, dtype=np.float64) for v in col]) * quantize
    )


def _rows_topk(
    qids: np.ndarray, scores: np.ndarray, rids: np.ndarray, k: int, score_name: str
) -> pd.DataFrame:
    """Tie-safe per-row top-k of a (queries x refs) score matrix (score
    desc, neighbor id asc), self pairs excluded.  Shared by the exact
    blocked kernel and the PQ/ADC kernel.

    Fully vectorized (guide §4.2 — no per-row Python loop): refs are
    pre-sorted by id ascending ONCE, then one STABLE argsort of the
    negated score matrix along axis=1 yields exactly (score desc,
    neighbor id asc) — stability makes equal scores keep the ascending-id
    column order, which is the identical tie rule the previous per-row
    lexsort implemented.  Self pairs are masked to -inf (they sort last
    and are dropped by the validity mask)."""
    n_q, n_ref = scores.shape
    if n_q == 0 or n_ref == 0:
        return pd.DataFrame(
            {
                "vec_id": pd.Series([], dtype="int64"),
                "neighbor_id": pd.Series([], dtype="int64"),
                score_name: pd.Series([], dtype="float64"),
            }
        )
    order = np.argsort(rids, kind="stable")
    rids_s = rids[order]
    sc = scores[:, order]  # column copy — safe to mutate
    sc[rids_s[None, :] == qids[:, None]] = -np.inf  # exclude self
    kk = min(k, n_ref)
    idx = np.argsort(-sc, axis=1, kind="stable")[:, :kk]
    top = np.take_along_axis(sc, idx, axis=1)
    valid = (top > -np.inf).ravel()
    return pd.DataFrame(
        {
            "vec_id": pd.Series(
                np.repeat(qids, kk)[valid], dtype="int64"
            ),
            "neighbor_id": pd.Series(rids_s[idx].ravel()[valid], dtype="int64"),
            score_name: pd.Series(top.ravel()[valid], dtype="float64"),
        }
    )


def _block_topk(
    qids: np.ndarray, Q: np.ndarray, rids: np.ndarray, R: np.ndarray, k: int
) -> pd.DataFrame:
    """Exact tie-safe per-block top-k (cos desc, neighbor id asc), self
    pairs excluded. Shared by the blocked top-k kernel."""
    qn = (Q * Q).sum(axis=1)
    rn = (R * R).sum(axis=1)
    cos = (Q @ R.T).astype(np.float64) / np.sqrt(
        qn[:, None].astype(np.float64) * rn[None, :].astype(np.float64)
    )
    return _rows_topk(qids, cos, rids, k, "cos_sim")


#: side-input reference cutoff for the exact top-k: reference matrices
#: up to this many rows ship once to every worker, through
#: fagi_gis_spark.sideinput, as one quantized int64 numpy matrix (500k x
#: 64 dims x 8 B = 256 MB).  Below it the query side is
#: scanned ONCE with the whole reference in task memory — no 32x query
#: replication, no cogroup shuffle, no merge window; above it the blocked
#: cogroup path keeps per-task memory bounded by |block| x dim.  The same
#: physical-strategy switch as broadcast-vs-shuffle joins (guide §3.1) —
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

    ref_pdf = (
        emb.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v"))
        .toPandas()
    )
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
                if not len(part):
                    continue
                qids = part["qid"].to_numpy("int64")
                Q = _qmatrix(part["qv"], quantize)
                qn = (Q * Q).sum(axis=1)
                cos = (Q @ R_b.T).astype(np.float64) / np.sqrt(
                    qn[:, None].astype(np.float64) * rn[None, :].astype(np.float64)
                )
                out = _rows_topk(qids, cos, rids_b, k, "cos_sim")
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
    is scanned once (``_cosine_topk_broadcast``).  Above it: a
    block-partitioned exact matmul — the reference set is hash-split
    into ``n_blocks`` row blocks, queries replicate to every block, a
    cogrouped Arrow kernel does one integer matmul + tie-safe per-block
    top-k per (query batch, block), and a final window merges the global
    top-k. NOTHING is collected to the driver, so "exact" survives
    reference sets far beyond one machine's memory: per-task working set
    is |block| x dim, and n_blocks scales with the data. (Per-block
    top-k is globally sufficient: any global top-k neighbor ranks within
    top-k of its own block under the same (cos desc, id asc) order.)"""
    try:
        n_ref = emb.count()
    except Exception:  # pragma: no cover — unplannable frame
        n_ref = None
    if n_ref is not None and n_ref <= _ANN_BROADCAST_MAX_REFS:
        return _cosine_topk_broadcast(emb, k, id_col, vec_col, quantize, queries)
    ref = emb.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v")).withColumn(
        "block", F.pmod(F.crc32(F.col("vid").cast("string")), F.lit(n_blocks)).cast("int")
    )
    src = queries if queries is not None else emb
    q = src.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")).withColumn(
        "block", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1)))
    )

    def blk(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame(
                {
                    "vec_id": pd.Series([], dtype="int64"),
                    "neighbor_id": pd.Series([], dtype="int64"),
                    "cos_sim": pd.Series([], dtype="float64"),
                }
            )
        return _block_topk(
            left["qid"].to_numpy("int64"),
            _qmatrix(left["qv"], quantize),
            right["vid"].to_numpy("int64"),
            _qmatrix(right["v"], quantize),
            k,
        )

    per_block = (
        q.groupBy("block")
        .cogroup(ref.groupBy("block"))
        .applyInPandas(blk, schema="vec_id long, neighbor_id long, cos_sim double")
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return (
        per_block.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "cos_sim", "rank")
    )


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
    centers = np.vstack([np.asarray(c) for c in km.clusterCenters()])

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def u_probe_cells(v: pd.Series) -> pd.Series:
        m = np.vstack([np.asarray(x, dtype=np.float64) for x in v])
        d = ((m[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        order = np.argsort(d, axis=1)[:, :n_probe]
        return pd.Series(order.astype(np.int32).tolist())

    base = vec.withColumn(
        "v", F.transform("embedding", lambda x: F.round(x.cast("double") * quantize).cast("long"))
    ).withColumn("n", _dot(F.col("v"), F.col("v")))
    build = km.transform(base).select(
        F.col("prediction").alias("cell"),
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("vb"),
        F.col("n").alias("nb"),
    )
    probe = base.select(
        "vec_id", F.col("v").alias("va"), F.col("n").alias("na"),
        F.explode(u_probe_cells(F.col("embedding"))).alias("cell"),
    )
    pairs = probe.join(build, "cell").filter(F.col("vec_id") != F.col("neighbor_id"))
    cos = _dot(F.col("va"), F.col("vb")).cast("double") / F.sqrt(
        F.col("na").cast("double") * F.col("nb").cast("double")
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return (
        pairs.withColumn("cos_sim", cos)
        .dropDuplicates(["vec_id", "neighbor_id"])
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "cos_sim", "rank")
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
    the same blocked cogroup harness as the exact path — the CODES are
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
    X = np.vstack([np.asarray(v, dtype=np.float64) for v in samp["v"]])
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    X = X / np.where(norms == 0, 1.0, norms)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    # (m, n_centroids, dim/m) codebooks ride in the UDF closures
    books = _pq_fit_codebooks(X, m, n_centroids, kmeans_iters, seed)
    sub = dim // m

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def u_encode(v: pd.Series) -> pd.Series:
        M = np.vstack([np.asarray(x, dtype=np.float64) for x in v])
        nrm = np.linalg.norm(M, axis=1, keepdims=True)
        M = M / np.where(nrm == 0, 1.0, nrm)
        codes = np.empty((len(M), m), dtype=np.int32)
        for j in range(m):
            Mj = M[:, j * sub : (j + 1) * sub]
            # matrix form, not the (batch, nc, sub) difference tensor
            codes[:, j] = (
                -2.0 * (Mj @ books[j].T) + (books[j] * books[j]).sum(axis=1)[None, :]
            ).argmin(axis=1)
        return pd.Series(codes.tolist())

    ref = base.select(
        "vid",
        u_encode(F.col("v")).alias("codes"),
        F.pmod(F.crc32(F.col("vid").cast("string")), F.lit(n_blocks)).cast("int").alias("block"),
    )
    q = base.select(F.col("vid").alias("qid"), F.col("v").alias("qv")).withColumn(
        "block", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1)))
    )

    k_adc = max(k, rerank)

    def blk(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame(
                {
                    "vec_id": pd.Series([], dtype="int64"),
                    "neighbor_id": pd.Series([], dtype="int64"),
                    "pq_score": pd.Series([], dtype="float64"),
                }
            )
        Q = np.vstack([np.asarray(x, dtype=np.float64) for x in left["qv"]])
        nrm = np.linalg.norm(Q, axis=1, keepdims=True)
        Q = Q / np.where(nrm == 0, 1.0, nrm)
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

    per_block = (
        q.groupBy("block")
        .cogroup(ref.groupBy("block"))
        .applyInPandas(blk, schema="vec_id long, neighbor_id long, pq_score double")
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("pq_score").desc(), F.col("neighbor_id").asc())
    adc = (
        per_block.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k_adc)
        .select("vec_id", "neighbor_id", "pq_score", "rank")
    )
    if not rerank:
        return adc
    # ADC+R: exact integer-cosine re-rank of the shortlist (ids only up
    # to here; vectors re-attach now, so the exact kernel touches r
    # candidates per query instead of n)
    qv = _quantized(base, "vid", "v", quantize).withColumn("n", _dot(F.col("v"), F.col("v")))
    va = qv.select(F.col("vid").alias("vec_id"), F.col("v").alias("va"), F.col("n").alias("na"))
    vb = qv.select(
        F.col("vid").alias("neighbor_id"), F.col("v").alias("vb"), F.col("n").alias("nb")
    )
    cos = _dot(F.col("va"), F.col("vb")).cast("double") / F.sqrt(
        F.col("na").cast("double") * F.col("nb").cast("double")
    )
    w2 = Window.partitionBy("vec_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return (
        adc.drop("rank", "pq_score")
        .join(va, "vec_id")
        .join(vb, "neighbor_id")
        .withColumn("cos_sim", cos)
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "cos_sim", "rank")
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
    cosine via the same block-partitioned cogroup matmul as
    ``cosine_topk`` — the table is hash-split into ``n_blocks`` row
    blocks, rows replicate to every block as queries, and each (query
    batch, block) task emits only (id_a < id_b, cos_sim) at or above
    the threshold.  Nothing is collected to the driver and nothing near
    n^2 ever leaves a kernel; each pair lands in exactly one block (the
    one owning id_b), so no dedup pass is needed.  Oracle-checkable
    (integer-exact dot products), complete by construction — and
    inherently O(n^2) FLOPs, which is why it is the small-n baseline,
    not the scale default."""
    if blocking == "lsh":
        return _cosine_near_dup_lsh(
            emb, threshold, quantize, id_col, vec_col,
            n_tables, bits_per_table, dim, multiprobe, seed,
        )
    if blocking != "exact":
        raise ValueError(f"blocking must be 'lsh' or 'exact', got {blocking!r}")
    ref = emb.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v")).withColumn(
        "block", F.pmod(F.crc32(F.col("vid").cast("string")), F.lit(n_blocks)).cast("int")
    )
    q = emb.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")).withColumn(
        "block", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1)))
    )

    def blk(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "id_a": pd.Series([], dtype="int64"),
                "id_b": pd.Series([], dtype="int64"),
                "cos_sim": pd.Series([], dtype="float64"),
            }
        )
        if len(left) == 0 or len(right) == 0:
            return empty
        qids = left["qid"].to_numpy("int64")
        rids = right["vid"].to_numpy("int64")
        Q = _qmatrix(left["qv"], quantize)
        R = _qmatrix(right["v"], quantize)
        qn = (Q * Q).sum(axis=1)
        rn = (R * R).sum(axis=1)
        cos = (Q @ R.T).astype(np.float64) / np.sqrt(
            qn[:, None].astype(np.float64) * rn[None, :].astype(np.float64)
        )
        hit = (cos >= threshold) & (qids[:, None] < rids[None, :])
        qi, ri = np.nonzero(hit)
        return pd.DataFrame(
            {
                "id_a": pd.Series(qids[qi], dtype="int64"),
                "id_b": pd.Series(rids[ri], dtype="int64"),
                "cos_sim": pd.Series(cos[qi, ri], dtype="float64"),
            }
        )

    return (
        q.groupBy("block")
        .cogroup(ref.groupBy("block"))
        .applyInPandas(blk, schema="id_a long, id_b long, cos_sim double")
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
    if bits_per_table == "auto":
        import math

        n_rows = emb.count()
        bits_per_table = min(16, max(4, math.ceil(math.log2(max(n_rows, 2) / 24.0))))
    base = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    sig = hyperplane_signatures(
        base, n_tables=n_tables, bits_per_table=bits_per_table, dim=dim, seed=seed
    )
    if multiprobe:
        probes = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << i).cast("long"))
                for i in range(bits_per_table)
            ],
        )
        l = sig.select(F.explode(probes).alias("bucket"), F.col("vec_id"))
    else:
        l = sig.select("bucket", "vec_id")
    r = sig.select("bucket", F.col("vec_id").alias("id_b"))
    cand = (
        l.join(r, "bucket")
        .filter(F.col("vec_id") < F.col("id_b"))
        .select(F.col("vec_id").alias("id_a"), "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # same _quantized helper as the exact path: the emitted cos_sim must
    # stay bit-identical between blockings, so ONE quantization rule
    vecs = (
        _quantized(base, "vec_id", "embedding", quantize)
        .select(F.col("vid").alias("__vid"), F.col("v").alias("__v"))
        .withColumn("__n", _dot(F.col("__v"), F.col("__v")))
    )
    cand = cand.join(
        vecs.select(F.col("__vid").alias("id_a"), F.col("__v").alias("va"), F.col("__n").alias("na")),
        "id_a",
    ).join(
        vecs.select(F.col("__vid").alias("id_b"), F.col("__v").alias("vb"), F.col("__n").alias("nb")),
        "id_b",
    )
    cos = _dot(F.col("va"), F.col("vb")).cast("double") / F.sqrt(
        F.col("na").cast("double") * F.col("nb").cast("double")
    )
    return (
        cand.withColumn("cos_sim", cos)
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
        m = np.vstack([np.asarray(v, dtype=np.float64) for v in vec])  # (n, dim)
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
    the test scales, though: the blocked brute-force matmul
    (``cosine_topk``) still wins sf0.1 (n=2000: 2.0s exact vs 7.7s
    LSH at recall 0.96) — a few megabytes of integer matmul beat any
    shuffle-join candidate machinery; LSH's crossover sits where the
    n^2 pair volume stops fitting per-task working sets (n in the
    millions), exactly where brute force stops being runnable.  So LSH
    is the *scale escape hatch*, not the small-n fast path — which is
    why the headline bench keeps ``ann_cosine_topk`` and this stays
    recall-gated in pytest.  ``multiprobe=0`` restores single-probe."""
    if bits_per_table == "auto":
        import math

        n_rows = emb.count()
        bits_per_table = min(16, max(4, math.ceil(math.log2(max(n_rows, 2) / 24.0))))
    sig = hyperplane_signatures(emb, n_tables=n_tables, bits_per_table=bits_per_table, dim=dim)

    # candidate generation carries IDS ONLY — the dim-length quantized
    # vectors join back after the pair dedup (carrying 64-long arrays
    # through the exploded bucket join was the dominant cost: measured
    # 39s -> ~8s at sf0.1)
    if multiprobe:
        # bucket = table * 2^bits + sig: flipping signature bit i is a
        # XOR on the packed key (the table prefix is untouched)
        probes = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << i).cast("long"))
                for i in range(bits_per_table)
            ],
        )
        l = sig.select(F.explode(probes).alias("bucket"), F.col("vec_id"))
    else:
        l = sig.select("bucket", "vec_id")
    r = sig.select("bucket", F.col("vec_id").alias("neighbor_id"))
    pairs = (
        l.join(r, "bucket")
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .select("vec_id", "neighbor_id")
        .dropDuplicates(["vec_id", "neighbor_id"])
    )
    vecs = emb.select(
        F.col("vec_id").alias("__vid"),
        F.transform("embedding", lambda x: F.round(x.cast("double") * quantize).cast("long")).alias("__v"),
    ).withColumn("__n", _dot(F.col("__v"), F.col("__v")))
    pairs = (
        pairs.join(
            vecs.select(F.col("__vid").alias("vec_id"), F.col("__v").alias("va"), F.col("__n").alias("na")),
            "vec_id",
        )
        .join(
            vecs.select(F.col("__vid").alias("neighbor_id"), F.col("__v").alias("vb"), F.col("__n").alias("nb")),
            "neighbor_id",
        )
    )
    cos = _dot(F.col("va"), F.col("vb")).cast("double") / F.sqrt(
        F.col("na").cast("double") * F.col("nb").cast("double")
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return (
        pairs.withColumn("cos_sim", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "cos_sim", "rank")
    )


def build_cosine_index(
    emb: DataFrame,
    table: str,
    n_tables: int = 16,
    bits_per_table: int | str = "auto",
    dim: int = 64,
    quantize: int = 1000,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the embedding-cosine day-2 index — the same shape as the
    MinHash index (``dedup.build_minhash_index``): the corpus's hyperplane bucket rows land in ``{table}_buckets``
    (storage-bucketed by ``bucket``, so a new batch's candidate join is
    exchange-free on the corpus side) and the quantized vectors in
    ``{table}_vecs`` (bucketed by id, so the exact verify re-attach is
    exchange-free too).  The resolved LSH layout (auto bits resolve
    HERE, against the corpus size) persists in ``{table}_meta`` —
    day-2 batches inherit it instead of re-deriving against a
    different n."""
    from fagi_gis_spark.functions.dedup import _INDEX_BUCKETS, _write_index_meta

    spark = emb.sparkSession
    have = {
        part: spark.catalog.tableExists(f"{table}_{part}")
        for part in ("buckets", "vecs", "meta")
    }
    if all(have.values()):
        return  # complete index: nothing to do, no count() job
    if have["buckets"] and not have["meta"]:
        # a crashed build left buckets without their layout record:
        # auto bits would re-resolve against TODAY'S corpus size and
        # could mismatch the stored keys — exactly the silent recall
        # loss the meta guard exists to prevent
        raise RuntimeError(
            f"index {table} is partial (buckets without meta) — drop "
            f"{table}_buckets/{table}_vecs and rebuild"
        )
    if bits_per_table == "auto":
        import math

        n_rows = emb.count()
        bits_per_table = min(16, max(4, math.ceil(math.log2(max(n_rows, 2) / 24.0))))
    base = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    if not have["buckets"]:
        sig = hyperplane_signatures(
            base, n_tables=n_tables, bits_per_table=bits_per_table, dim=dim, seed=seed
        )
        (
            sig.select("bucket", "vec_id")
            .write.bucketBy(_INDEX_BUCKETS, "bucket")
            .sortBy("bucket")
            .saveAsTable(f"{table}_buckets")
        )
    if not have["vecs"]:
        (
            _quantized(base, "vec_id", "embedding", quantize)
            .select(F.col("vid").alias("vec_id"), F.col("v").alias("qvec"))
            .write.bucketBy(_INDEX_BUCKETS, "vec_id")
            .sortBy("vec_id")
            .saveAsTable(f"{table}_vecs")
        )
    _write_index_meta(
        spark,
        f"{table}_meta",
        {
            "n_tables": n_tables,
            "bits_per_table": int(bits_per_table),
            "dim": dim,
            "quantize": quantize,
            "seed": seed,
        },
    )


def incremental_cosine_pairs(
    new_emb: DataFrame,
    table: str,
    threshold: float = 0.8,
    multiprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs (cos >= threshold) of a NEW batch against
    itself and a stored ``build_cosine_index`` corpus.  The LSH layout
    comes from the index meta (built-at layout, never re-derived), the
    corpus side of the bucket join reads pre-bucketed storage
    (exchange-free), and every candidate passes the SAME exact
    integer-quantized cosine verify as ``cosine_near_dup_pairs`` — so
    emitted cos_sim values are bit-identical to a full-batch run, and
    new-side multiprobe covers both probe directions (bucket-flip
    adjacency is symmetric: probe(new) hits exact(corpus) iff
    probe(corpus) would hit exact(new)).  Output (id_a, id_b, cos_sim,
    pair_type); cost scales with the batch, not the stored corpus."""
    spark = new_emb.sparkSession
    meta = spark.table(f"{table}_meta").head()
    n_tables, bits, dim = meta.n_tables, meta.bits_per_table, meta.dim
    quantize, seed = meta.quantize, meta.seed

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

    base = new_emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    sig = hyperplane_signatures(
        base, n_tables=n_tables, bits_per_table=bits, dim=dim, seed=seed
    )
    if multiprobe:
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << i).cast("long")) for i in range(bits)],
        )
        l = sig.select(F.explode(probes).alias("bucket"), F.col("vec_id").alias("id_n"))
    else:
        l = sig.select("bucket", F.col("vec_id").alias("id_n"))
    corpus = spark.table(f"{table}_buckets").select(
        "bucket", F.col("vec_id").alias("id_c")
    )
    cand = (
        l.join(corpus, "bucket")
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
    new_vecs = (
        _quantized(base, "vec_id", "embedding", quantize)
        .select(F.col("vid").alias("id_n"), F.col("v").alias("vn"))
        .withColumn("nn2", _dot(F.col("vn"), F.col("vn")))
    )
    corpus_vecs = (
        spark.table(f"{table}_vecs")
        .select(F.col("vec_id").alias("id_c"), F.col("qvec").alias("vc"))
        .withColumn("nc2", _dot(F.col("vc"), F.col("vc")))
    )
    cand = cand.join(new_vecs, "id_n").join(corpus_vecs, "id_c")
    cos = _dot(F.col("vn"), F.col("vc")).cast("double") / F.sqrt(
        F.col("nn2").cast("double") * F.col("nc2").cast("double")
    )
    nc = (
        cand.withColumn("cos_sim", cos)
        .filter(F.col("cos_sim") >= F.lit(threshold))
        .select(
            F.least("id_n", "id_c").alias("id_a"),
            F.greatest("id_n", "id_c").alias("id_b"),
            "cos_sim",
            F.lit("new_corpus").alias("pair_type"),
        )
    )
    return nn.unionByName(nc)
