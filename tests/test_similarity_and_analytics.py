"""Pytest differential oracles for the non-SQL-expressible operators:
Jaro-Winkler / fuzzy Jaccard, MinHash-LSH recall, SimHash, ANN-LSH recall,
clustering, SVM learning."""

import numpy as np
import pytest

from fagi_gis_spark.functions.similarity import (
    fuzzy_token_jaccard,
    jaro,
    jaro_winkler,
    tokenize,
)

SF = "/root/testdata/sf0.001"


def test_jaro_winkler_known_values():
    # published reference values for the classic test pairs
    assert jaro("martha", "marhta") == pytest.approx(0.944444, abs=1e-6)
    assert jaro_winkler("martha", "marhta") == pytest.approx(0.961111, abs=1e-6)
    assert jaro_winkler("dixon", "dicksonx") == pytest.approx(0.813333, abs=1e-6)
    assert jaro_winkler("abc", "abc") == 1.0
    assert jaro_winkler("", "abc") == 0.0


def test_tokenizer_camel_and_punct():
    assert tokenize("Main Street, CamelCase-42") == ["main", "street", "camel", "case", "42"]


def test_fuzzy_jaccard_reference_semantics():
    # identical strings -> 1.0; typo token still intersects via JW > 0.8
    assert fuzzy_token_jaccard("cafe plaza", "cafe plaza") == 1.0
    assert fuzzy_token_jaccard("cafe plaza", "caffe plaza") == 1.0
    assert fuzzy_token_jaccard("cafe plaza", "museum station") == 0.0


_MINHASH_TEXTS = {
    0: "the quick brown fox jumps over the lazy dog in the park today",
    1: "the quick brown fox jumps over the lazy dog in the park tonight",  # near-dup of 0
    2: "completely different content about spark dataframes and shuffles",
    3: "the quick brown fox jumps over the lazy dog in the park today",  # exact dup of 0
}


def _minhash_pairs(spark, id_type) -> dict:
    import pandas as pd

    from fagi_gis_spark.functions.dedup import minhash_lsh_pairs, minhash_signatures

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [id_type(i) for i in _MINHASH_TEXTS],
                "text": _MINHASH_TEXTS.values(),
            }
        )
    )
    return {
        (int(r.doc_a), int(r.doc_b)): r.jaccard_est
        for r in minhash_lsh_pairs(minhash_signatures(docs), jaccard_threshold=0.3).collect()
    }


@pytest.fixture(scope="module")
def minhash_join_pairs(spark):
    """Reference estimates: int ids through the signature-join verify."""
    from fagi_gis_spark.functions import dedup

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(dedup, "_VERIFY_BROADCAST_MAX_DOCS", 0)
        return _minhash_pairs(spark, int)


@pytest.mark.parametrize("verify", ["sideinput", "join"])
@pytest.mark.parametrize("id_type", [int, str], ids=["int", "str"])
def test_minhash_estimates_jaccard(spark, monkeypatch, minhash_join_pairs, id_type, verify):
    """Both verify strategies (worker side input below the cutoff, the
    signature join above it) give the same estimates for int and string
    doc ids — string ids ship as fixed-width numpy arrays, never as
    pickled object arrays."""
    from fagi_gis_spark.functions import dedup
    from fagi_gis_spark.functions.dedup import _shingle_hashes

    if verify == "join":
        monkeypatch.setattr(dedup, "_VERIFY_BROADCAST_MAX_DOCS", 0)
    pairs = _minhash_pairs(spark, id_type)
    assert pairs[(0, 3)] == 1.0  # exact dup
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.5  # near dup found
    assert not any(2 in p for p in pairs)  # unrelated not paired
    assert pairs == minhash_join_pairs

    # estimator sanity vs true shingle jaccard
    s0, s1 = (set(_shingle_hashes(_MINHASH_TEXTS[i]).tolist()) for i in (0, 1))
    true_j = len(s0 & s1) / len(s0 | s1)
    assert abs(pairs[(0, 1)] - true_j) < 0.25


def test_simhash_hamming(spark):
    import pandas as pd

    from fagi_gis_spark.functions.dedup import simhash_near_pairs, simhash_signatures

    texts = {
        0: "alpha beta gamma delta epsilon zeta eta theta",
        1: "alpha beta gamma delta epsilon zeta eta iota",  # one token swap
        2: "totally unrelated words here nothing shared at all",
    }
    docs = spark.createDataFrame(pd.DataFrame({"doc_id": texts.keys(), "text": texts.values()}))
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in
             simhash_near_pairs(simhash_signatures(docs), max_hamming=16).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] <= 16
    assert (0, 2) not in pairs


def _assert_exact_scores(exact, approx):
    """Every (vec_id, neighbor_id) pair an approximate path shares with
    ``cosine_topk`` carries a bit-identical cos_sim: the re-rank is the
    exact quantized cosine, not a second copy of it."""
    ex_score = {
        (t.vec_id, t.neighbor_id): t.cos_sim for t in exact.itertuples(index=False)
    }
    shared = [t for t in approx.itertuples(index=False) if (t.vec_id, t.neighbor_id) in ex_score]
    assert shared
    for t in shared:
        assert t.cos_sim == ex_score[(t.vec_id, t.neighbor_id)], t


def test_ann_lsh_recall_vs_exact(spark):
    from fagi_gis_spark.functions.ann import cosine_topk, lsh_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    exact = cosine_topk(emb, k=5).toPandas()
    approx = lsh_topk(emb, k=5).toPandas()
    e = set(map(tuple, exact[["vec_id", "neighbor_id"]].itertuples(index=False)))
    a = set(map(tuple, approx[["vec_id", "neighbor_id"]].itertuples(index=False)))
    recall = len(e & a) / len(e)
    # multi-probe (hamming-1 buckets) holds recall >= 0.8 on this
    # near-uniform corpus where single-probe 16x6 sat near 0.4
    assert recall >= 0.8, f"LSH recall too low: {recall}"
    _assert_exact_scores(exact, approx)


def test_cluster_links_assigns_all(spark):
    from fagi_gis_spark.operators.clustering import cluster_links
    from fagi_gis_spark.registry import layers

    L = layers(spark, SF)
    out = cluster_links(L["links"].limit(300), L["poi_a"], L["poi_b"], k=3).toPandas()
    assert len(out) > 0
    assert set(out.cluster_id.unique()) <= {0, 1, 2}
    assert out.cluster_id.nunique() >= 2  # displacement structure separates
    # scale path: fit on a hash-gated SAMPLE, distributed argmax still
    # assigns EVERY pair a valid cluster id
    sampled = cluster_links(
        L["links"].limit(300), L["poi_a"], L["poi_b"], k=3, fit_sample_rows=50
    ).toPandas()
    assert len(sampled) == len(out)
    assert set(sampled.cluster_id.unique()) <= {0, 1, 2}
    assert sampled.cluster_id.notna().all()


def test_svm_learns_separable_actions(spark):
    from pyspark.sql import functions as F

    from fagi_gis_spark.operators.fusion import linked_pairs
    from fagi_gis_spark.operators.learning import (
        pair_features,
        predict_actions,
        train_action_classifier,
    )
    from fagi_gis_spark.registry import layers

    L = layers(spark, SF)
    pairs = linked_pairs(
        L["links"], L["poi_a"], L["poi_b"], feature_primitives=True
    ).limit(400)
    feats = pair_features(pairs)
    # synthetic ground truth: action 1 iff either geometry is a POINT
    # (BooleanVector slot 3 = any-side Point bit)
    labeled = feats.withColumn("label", F.col("fv")[3].cast("double"))
    model = train_action_classifier(labeled)
    pred = predict_actions(model, feats).join(
        labeled.select("subject_a", "subject_b", "label"), ["subject_a", "subject_b"]
    )
    acc = pred.filter(F.col("action_pred") == F.col("label").cast("int")).count() / pred.count()
    assert acc > 0.95, f"SVM failed to learn separable labels: {acc}"


def test_fuzzy_discovery_matches_python_oracle(spark):
    """Differential oracle for the JW-based discovery path at sf0.001."""
    from fagi_gis_spark.operators.discovery import discover_links
    from fagi_gis_spark.registry import layers

    L = layers(spark, SF)
    got = discover_links(
        L["poi_a"], L["poi_b"], L["triples_a"], L["triples_b"], radius_m=200.0, mode="fuzzy"
    ).toPandas()

    # local oracle: numpy/pure-python replay
    pa = L["poi_a"].select("subject", "lon", "lat").toPandas()
    pb = L["poi_b"].select("subject", "lon", "lat").toPandas()
    ta = {r.subject: r.object for r in L["triples_a"]
          .filter("predicate = 'http://a.example/name'").collect()}
    tb = {r.subject: r.object for r in L["triples_b"]
          .filter("predicate = 'http://b.example/label'").collect()}
    ax, ay = pa.lon.to_numpy(), pa.lat.to_numpy()
    bx, by = pb.lon.to_numpy(), pb.lat.to_numpy()
    expected = set()
    for i in range(len(pa)):
        d = np.sqrt((ax[i] - bx) ** 2 + (ay[i] - by) ** 2) * 111195.0
        idx = np.where(d <= 200.0)[0]
        lits = [tb[pb.subject[j]] for j in idx]
        for j in idx:
            lit = tb[pb.subject[j]]
            if lits.count(lit) != 1:
                continue
            if fuzzy_token_jaccard(ta[pa.subject[i]], lit) > 0.2:
                expected.add((pa.subject[i], pb.subject[j]))
    assert set(map(tuple, got[["node_a", "node_b"]].itertuples(index=False))) == expected
    assert len(expected) > 0


def test_ivf_recall_vs_exact(spark):
    from fagi_gis_spark.functions.ann import cosine_topk, ivf_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    exact = cosine_topk(emb, k=5).toPandas()
    approx = ivf_topk(emb, k=5, n_cells=8, n_probe=3).toPandas()
    e = set(map(tuple, exact[["vec_id", "neighbor_id"]].itertuples(index=False)))
    a = set(map(tuple, approx[["vec_id", "neighbor_id"]].itertuples(index=False)))
    recall = len(e & a) / len(e)
    assert recall > 0.5, f"IVF recall too low: {recall}"
    _assert_exact_scores(exact, approx)


def test_displacement_coverage_is_real_intersects(spark):
    """Coverage must be the true ST_Intersects bit (GeoClusterer.
    calculateCoverage), not a distance proxy: near-but-disjoint polygons
    (centroids ~20 m apart) get 0, touching polygons get 1, and the
    envelope short-circuit agrees with the relate kernel everywhere."""
    from fagi_gis_spark.operators.clustering import displacement_features
    from fagi_gis_spark.operators.fusion import linked_pairs

    rows_a = [
        ("a1", "POLYGON ((0 0, 0.0001 0, 0.0001 0.0001, 0 0.0001, 0 0))"),
        ("a2", "POLYGON ((0 0, 0.0001 0, 0.0001 0.0001, 0 0.0001, 0 0))"),
        ("a3", "POLYGON ((0 0, 0.0001 0, 0.0001 0.0001, 0 0.0001, 0 0))"),
        ("a4", "POINT (0.5 0.5)"),
    ]
    rows_b = [
        # near-but-disjoint: gap of 0.00005 deg (~5 m), centroid dist ~17 m
        ("b1", "POLYGON ((0.00015 0, 0.00025 0, 0.00025 0.0001, 0.00015 0.0001, 0.00015 0))"),
        # touching at x=0.0001 -> intersects
        ("b2", "POLYGON ((0.0001 0, 0.0002 0, 0.0002 0.0001, 0.0001 0.0001, 0.0001 0))"),
        # overlapping
        ("b3", "POLYGON ((0.00005 0, 0.00015 0, 0.00015 0.0001, 0.00005 0.0001, 0.00005 0))"),
        # coincident point
        ("b4", "POINT (0.5 0.5)"),
    ]

    def layer(rows):
        return spark.createDataFrame(
            [(s, w, 0.0, 0.0) for s, w in rows], "subject string, geom_wkt string, lon double, lat double"
        )

    links = spark.createDataFrame(
        [("a1", "b1"), ("a2", "b2"), ("a3", "b3"), ("a4", "b4")], "node_a string, node_b string"
    )
    pairs = linked_pairs(links, layer(rows_a), layer(rows_b), feature_primitives=True)
    out = (
        displacement_features(pairs)
        .toPandas()
        .set_index("subject_a")["coverage"]
        .to_dict()
    )
    assert out == {"a1": 0.0, "a2": 1.0, "a3": 1.0, "a4": 1.0}


def test_load_wordnet_dict_real_format(tmp_path):
    """The wndb loader parses the exact Princeton database-file layout
    (hex w_cnt, pointer quads, license header) and feeds the same
    hypernym scoring the injected-taxonomy path uses."""
    from fagi_gis_spark.functions.semantic import load_wordnet_dict, semantic_word_score

    # data.noun: dog/canine/carnivore/animal chain + cat under carnivore
    (tmp_path / "data.noun").write_text(
        "  1 This software and database is being provided to you the LICENSEE.\n"
        "00001740 03 n 01 animal 0 000 | a living organism\n"
        "00002100 03 n 01 carnivore 0 001 @ 00001740 n 0000 | flesh-eater\n"
        "00002200 03 n 02 dog 0 domestic_dog 0 002 @ 00002100 n 0000 ~ 00002300 n 0000 | the dog\n"
        "00002300 03 n 01 cat 0 001 @ 00002100 n 0000 | the cat\n"
    )
    (tmp_path / "index.noun").write_text(
        "  1 This software and database is being provided to you the LICENSEE.\n"
        "animal n 1 0 1 0 00001740\n"
        "carnivore n 1 1 @ 1 0 00002100\n"
        "dog n 1 2 @ ~ 1 1 00002200\n"
        "cat n 1 1 @ 1 1 00002300\n"
    )
    wn = load_wordnet_dict(str(tmp_path / "index.noun"), str(tmp_path / "data.noun"))
    assert wn.senses["dog"] == ["00002200"]
    assert wn.hypernyms["00002200"] == ["00002100"]  # ~ (hyponym) ignored
    # dog vs cat: common parent carnivore at 1 hop -> 1 - 1/5 = 0.8
    assert semantic_word_score("dog", "cat", wn) == 0.8
    # dog vs animal: common parent is animal itself, 2 hops up -> 0.6
    assert semantic_word_score("Dog", "ANIMAL", wn) == 0.6
    assert semantic_word_score("dog", "dog", wn) == 1.0


def test_near_dup_lsh_recall_and_no_false_positives(spark):
    """blocking="lsh" (the corpus-scale default) vs the exact blocked
    matmul at sf0.01 (the driver-oracle pair set): recall >= 0.95, and
    ZERO false positives — every emitted pair passed the same exact
    integer-quantized verify, so cos_sim values are bit-identical."""
    from fagi_gis_spark.functions.ann import cosine_near_dup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    exact = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in cosine_near_dup_pairs(emb, threshold=0.35, blocking="exact").collect()
    }
    lsh = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in cosine_near_dup_pairs(emb, threshold=0.35).collect()
    }
    assert len(exact) > 200
    assert not (lsh - exact), "LSH path emitted a pair the exact path lacks"
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.95, f"near-dup LSH recall too low: {recall}"


def test_near_dup_lsh_candidate_volume_sublinear(spark):
    """Doubling n must NOT quadruple the LSH candidate-pair volume (the
    all-pairs plan would): auto bits deepen with n, holding bucket
    width ~constant, so candidates grow ~linearly — the property that
    makes blocking="lsh" the 100 TB default."""
    import numpy as np

    from fagi_gis_spark.functions.ann import _cosine_near_dup_lsh

    rng = np.random.default_rng(7)

    def emb_df(n):
        m = rng.standard_normal((n, 64))
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        return spark.createDataFrame(
            [(i, [float(x) for x in m[i]]) for i in range(n)],
            "vec_id long, embedding array<double>",
        )

    def cand_count(n):
        # threshold -1 keeps EVERY verified candidate -> candidate
        # volume.  Single-probe, 4 tables: at test-scale n the full
        # 16-table multi-probe default SATURATES on i.i.d. vectors
        # (nearly every pair shares some bucket, so volume tracks n^2
        # until n ~ 10^5) — the scaling LAW is the same, this setting
        # just exits the saturated regime at a size pytest can afford.
        return _cosine_near_dup_lsh(
            emb_df(n),
            threshold=-1.0,
            quantize=1000,
            id_col="vec_id",
            vec_col="embedding",
            n_tables=4,
            bits_per_table="auto",
            dim=64,
            multiprobe=0,
            seed=42,
        ).count()

    c1, c2 = cand_count(3000), cand_count(6000)
    assert c1 > 0
    assert c2 / c1 < 3.0, f"candidate volume scaled superlinearly: {c1} -> {c2}"


def test_pq_recall_vs_exact_and_rerank_scores(spark):
    """PQ/ADC (Jegou et al. 2011): raw ADC recall clears a floor; with
    the exact shortlist re-rank (ADC+R) recall >= 0.8 and every emitted
    score is bit-identical to the exact kernel's quantized cosine for
    that pair (the re-rank IS the exact kernel over r candidates)."""
    from fagi_gis_spark.functions.ann import cosine_topk, pq_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    exact = cosine_topk(emb, k=5).toPandas()
    e = set(map(tuple, exact[["vec_id", "neighbor_id"]].itertuples(index=False)))

    adc = pq_topk(emb, k=5).toPandas()
    a = set(map(tuple, adc[["vec_id", "neighbor_id"]].itertuples(index=False)))
    adc_recall = len(e & a) / len(e)
    assert adc_recall > 0.4, f"raw ADC recall too low: {adc_recall}"

    rr = pq_topk(emb, k=5, rerank=25).toPandas()
    r = set(map(tuple, rr[["vec_id", "neighbor_id"]].itertuples(index=False)))
    recall = len(e & r) / len(e)
    assert recall >= 0.8, f"ADC+R recall too low: {recall}"
    _assert_exact_scores(exact, rr)


def test_pq_codes_are_m_bytes(spark):
    """The PQ scan's only per-row payload is the m-entry code array —
    the 32x compression claim is structural, not aspirational."""
    import numpy as np

    from fagi_gis_spark.functions.ann import _pq_fit_codebooks

    rng = np.random.default_rng(0)
    X = rng.normal(size=(400, 64))
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    books = _pq_fit_codebooks(X, m=8, n_centroids=64, iters=5, seed=1)
    assert books.shape == (8, 64, 8)
    # deterministic: same sample + seed -> identical codebooks
    books2 = _pq_fit_codebooks(X, m=8, n_centroids=64, iters=5, seed=1)
    assert np.array_equal(books, books2)


def test_pack_documents_invariants(spark):
    """Sequence packing: per-(grp, seq) token sums never exceed the
    budget; seq ids are contiguous from 0 in doc order; a sequence break
    happens ONLY when the doc would not have fit; overlong docs truncate
    to the budget."""
    from fagi_gis_spark.functions.text import pack_documents

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    budget = 128
    out = (
        pack_documents(docs, budget=budget, group_size=50)
        .toPandas()
        .sort_values(["grp", "doc_id"])
        .reset_index(drop=True)
    )
    assert (out["n_tokens_packed"] <= budget).all()
    sums = out.groupby(["grp", "seq_id"])["n_tokens_packed"].sum()
    assert (sums <= budget).all()
    for _, g in out.groupby("grp"):
        seqs = g["seq_id"].to_numpy()
        toks = g["n_tokens_packed"].to_numpy()
        assert seqs[0] == 0
        fill = toks[0]
        for i in range(1, len(g)):
            if seqs[i] == seqs[i - 1]:
                fill += toks[i]
                assert fill <= budget
            else:
                assert seqs[i] == seqs[i - 1] + 1
                assert fill + toks[i] > budget  # break only when needed
                fill = toks[i]


def test_minhash_batched_signatures_bit_identical():
    """r6 internals guard: the chunked reduceat signature kernel must be
    bit-identical to the per-document definition ((a*x+b) mod M61 over
    the doc's unique shingle hashes, min per permutation) — including
    empty/short docs and forced chunk boundaries."""
    import random
    import string

    import numpy as np

    from fagi_gis_spark.functions.dedup import (
        _MERSENNE,
        _perm_params,
        _shingle_hashes,
    )

    a, b = _perm_params(64)
    m = np.uint64(_MERSENNE)

    def reference(s):
        sh = _shingle_hashes(s, 5)
        vals = (sh[None, :] * a[:, None] + b[:, None]) % m
        return vals.min(axis=1).astype(np.int64).tolist()

    def batched(texts, budget=137):  # tiny budget -> many chunk breaks
        shs = [_shingle_hashes(s, 5) for s in texts]
        n = len(shs)
        lens = np.array([len(x) for x in shs], dtype=np.int64)
        out = np.empty((n, 64), dtype=np.int64)
        start = 0
        while start < n:
            end, tot = start, 0
            while end < n and (tot == 0 or tot + lens[end] <= budget):
                tot += lens[end]
                end += 1
            seg = np.concatenate(shs[start:end])
            offs = np.zeros(end - start, dtype=np.int64)
            np.cumsum(lens[start : end - 1], out=offs[1:])
            vals = (seg[None, :] * a[:, None] + b[:, None]) % m
            out[start:end] = np.minimum.reduceat(vals, offs, axis=1).T.astype(
                np.int64
            )
            start = end
        return out

    rng = random.Random(0)
    texts = ["", "ab", "   ", "hello world"] + [
        "".join(rng.choices(string.ascii_lowercase + " ", k=rng.randint(1, 400)))
        for _ in range(200)
    ]
    got = batched(texts)
    for i, t in enumerate(texts):
        assert got[i].tolist() == reference(t), (i, t[:40])
