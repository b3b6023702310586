"""Text analysis for large-scale training-data pipelines over ``documents``:
token counting, quality scoring, language-ID heuristic, fingerprinting.

All hot-path pieces are JVM column expressions; only sequence packing
drops to pandas, one group per ``applyInPandas`` call.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_STOPWORDS = (
    "the of and a to in is it you that he was for on are as with his they i "
    "at be this have from or one had by word but not what all were we when"
).split()


def token_count(text: Column) -> Column:
    """Whitespace token count (BPE-ish subword count ~ tokens * 1.3 is a
    separate column for budget estimation)."""
    t = F.trim(text)
    return F.when(t == "", 0).otherwise(F.size(F.split(t, r"\s+"))).cast("long")


#: BPE-ish subword chunking: word pieces up to 4 chars, digits, or a
#: single non-space symbol — a deterministic stand-in for a trained BPE
#: vocabulary, used for token-budget estimation
BPE_ISH_PATTERN = r"[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]"


def bpe_ish_count(text: Column) -> Column:
    """Subword-unit count via regexp (JVM-side regexp_count)."""
    return F.regexp_count(text, F.lit(BPE_ISH_PATTERN)).cast("long")


def char_classes(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / digit / uppercase counts — quality features."""
    t = F.col(text_col)
    return (
        df.withColumn("n_chars_m", F.length(t).cast("long"))
        .withColumn("n_tokens", token_count(t))
        .withColumn(
            "n_punct", (F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))).cast("long")
        )
        .withColumn(
            "n_digits", (F.length(t) - F.length(F.regexp_replace(t, r"[0-9]", ""))).cast("long")
        )
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic quality heuristic: length band + punct ratio +
    stopword hit rate, scaled to [0, 100] integers (stable across engines)."""
    d = char_classes(df, text_col)
    toks = F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
    stop_hits = F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in _STOPWORDS])))
    return (
        d.withColumn("stop_hits", stop_hits.cast("long"))
        .withColumn(
            "quality",
            (
                F.when((F.col("n_chars_m") >= 100) & (F.col("n_chars_m") <= 20000), 40).otherwise(10)
                + F.when(F.col("n_tokens") > 0, F.least(F.lit(30), F.col("stop_hits") * 3)).otherwise(0)
                + F.when(
                    F.col("n_chars_m") > 0,
                    F.when(F.col("n_punct") * 5 <= F.col("n_chars_m"), 30).otherwise(5),
                ).otherwise(0)
            ).cast("long"),
        )
    )


def lang_id_heuristic(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Cheap language ID: English stopword hit-rate vs ascii ratio —
    emits 'en' / 'other' / 'unknown'. (A production engine would plug a
    real n-gram model here; the Spark plumbing — column in, label out —
    is identical.)"""
    d = quality_score(df, text_col)
    ascii_ratio = F.length(F.regexp_replace(F.col(text_col), r"[^\x00-\x7F]", "")) / F.greatest(
        F.length(F.col(text_col)), F.lit(1)
    )
    return d.withColumn(
        "lang_pred",
        F.when(F.col("n_tokens") < 3, "unknown")
        .when((F.col("stop_hits") >= 3) & (ascii_ratio > 0.9), "en")
        .otherwise("other"),
    )


def fingerprint_md5(text: Column) -> Column:
    """Document fingerprint: md5 of lowercased, whitespace-collapsed text —
    identical in Spark and DuckDB (both emit hex md5)."""
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.md5(norm)


def pack_documents(
    docs,
    budget: int = 512,
    group_size: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokens_col: str | None = None,
):
    """Greedy sequential packing of documents into fixed-token-budget
    training sequences — the pretraining step that turns a cleaned
    corpus into model-input rows.  Documents pack in ``id_col`` order
    within deterministic groups of ``group_size`` consecutive ids: a doc
    joins the current sequence if it fits, else opens the next one;
    overlong docs truncate to ``budget``.  The group bound is what makes
    the operation BOTH deterministic and distributed — groups pack
    embarrassingly parallel (one Arrow batch each), where a single
    global greedy scan would serialize the corpus.  Output
    (grp, doc_id, n_tokens_packed, seq_id); sequence ids restart per
    group, so the global sequence key is (grp, seq_id)."""
    tok = (
        F.col(tokens_col).cast("long")
        if tokens_col
        else token_count(F.col(text_col))
    )
    d = (
        docs.select(F.col(id_col).alias("doc_id"), tok.alias("n_tokens"))
        .withColumn("grp", F.floor(F.col("doc_id") / group_size).cast("long"))
        .withColumn("eff", F.least(F.col("n_tokens"), F.lit(budget)).cast("long"))
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        seqs = np.zeros(len(pdf), dtype=np.int64)
        seq = 0
        fill = 0
        for i, nt in enumerate(pdf["eff"].to_numpy()):
            if fill and fill + nt > budget:
                seq += 1
                fill = 0
            fill += nt
            seqs[i] = seq
        out = pdf[["grp", "doc_id", "eff"]].rename(columns={"eff": "n_tokens_packed"})
        out["seq_id"] = seqs
        return out

    return d.groupBy("grp").applyInPandas(
        pack, schema="grp long, doc_id long, n_tokens_packed long, seq_id long"
    )


def word_ngram_col(words: Column, n: int) -> Column:
    """Word ``n``-grams from a split-words array, entirely in whole-stage
    codegen (``transform(sequence(...), slice + concat_ws)``) — no UDF, no
    self-join.  Documents shorter than ``n`` words yield an empty array
    (``sequence`` would otherwise count DOWN and fabricate grams)."""
    if n == 1:
        return words
    grams = F.transform(
        F.sequence(F.lit(1), F.size(words) - F.lit(n - 1)),
        lambda i: F.concat_ws(" ", F.slice(words, i, n)),
    )
    return F.when(F.size(words) >= n, grams).otherwise(
        F.array().cast(T.ArrayType(T.StringType()))
    )


def repetition_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ns: tuple[int, ...] = (2, 3),
    max_top_frac: float = 0.20,
    max_dup_frac: float = 0.18,
) -> DataFrame:
    """Gopher-style repetition filter signals (Rae et al. 2021, table A1):
    for each word-``n``-gram size, the fraction of gram occurrences that
    are duplicates (``dup_{n}gram_frac``) and the fraction taken by the
    single most frequent gram (``top_{n}gram_frac``).  ``repetition_ok``
    gates on top-gram share for the smallest n and duplicate share for the
    largest n — the classic "same phrase repeated" spam signal a
    training-data pipeline filters before tokenization.

    Scale shape: one gram explode (codegen ``transform`` + ``explode``),
    one partially-aggregated groupBy on (doc_id, n, gram) — the map-side
    combine collapses per-doc repeats before the shuffle — then a groupBy
    on doc_id alone.  No UDFs, no self-joins, row count always equals the
    input (docs with < min(ns) words come back with fracs of 0.0).
    """
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    base = df.select(F.col(id_col).alias("doc_id"), words.alias("w"))
    grams = None
    for n in ns:
        part = base.select(
            "doc_id",
            F.lit(n).alias("n"),
            F.explode(word_ngram_col(F.col("w"), n)).alias("gram"),
        )
        grams = part if grams is None else grams.unionAll(part)
    counts = grams.groupBy("doc_id", "n", "gram").agg(F.count("*").alias("c"))
    aggs = []
    for n in ns:
        cn = F.when(F.col("n") == n, F.col("c"))
        tot = F.sum(cn)
        aggs.append(
            F.round(F.coalesce((tot - F.count(cn)) / tot, F.lit(0.0)), 6).alias(
                f"dup_{n}gram_frac"
            )
        )
        aggs.append(
            F.round(F.coalesce(F.max(cn) / tot, F.lit(0.0)), 6).alias(f"top_{n}gram_frac")
        )
    sig = counts.groupBy("doc_id").agg(*aggs)
    out = df.select(F.col(id_col).alias("doc_id")).join(sig, "doc_id", "left")
    frac_cols = [c for c in sig.columns if c != "doc_id"]
    for c in frac_cols:
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit(0.0)))
    ok = (F.col(f"top_{ns[0]}gram_frac") <= max_top_frac) & (
        F.col(f"dup_{ns[-1]}gram_frac") <= max_dup_frac
    )
    return out.withColumn("repetition_ok", ok.cast("int"))


def decontaminate(
    train: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    broadcast_bench: bool = True,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word-``n``-gram with a held-out benchmark/eval set (the standard
    n-gram-overlap decontamination step, e.g. GPT-3 appendix C uses
    13-grams; this synthetic corpus's ~40-word vocabulary needs a smaller
    default to exercise the path).

    Scale shape: the benchmark side is eval suites — tiny relative to the
    corpus — so its distinct gram set broadcasts (``broadcast_bench``,
    default on) and the training corpus never shuffles: gram explode →
    broadcast hash join → per-doc distinct-hit count.  Set
    ``broadcast_bench=False`` for a giant benchmark side to fall back to a
    shuffle join.  Output keeps every training doc (left join):
    (doc_id, n_hit_grams, contaminated).
    """

    def grams(d: DataFrame) -> DataFrame:
        w = F.split(F.trim(F.col(text_col)), r"\s+")
        return d.select(
            F.col(id_col).alias("doc_id"), F.explode(word_ngram_col(w, n)).alias("gram")
        )

    bg = grams(bench).select("gram").distinct()
    if broadcast_bench:
        bg = F.broadcast(bg)
    hits = (
        grams(train)
        .join(bg, "gram")
        .groupBy("doc_id")
        .agg(F.count_distinct("gram").alias("n_hit_grams"))
    )
    return (
        train.select(F.col(id_col).alias("doc_id"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_hit_grams"), F.lit(0).cast("long")).alias("n_hit_grams"),
            (F.coalesce(F.col("n_hit_grams"), F.lit(0)) > 0).cast("int").alias("contaminated"),
        )
    )


def stratified_sample(
    docs: DataFrame,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    rate_denom: int = 1_000_000,
) -> DataFrame:
    """Deterministic stratified downsampling for corpus mixing: every
    stratum is capped at the floor-mean stratum size, implemented as a
    per-stratum keep-rate (ppm) applied through a multiplicative-hash
    gate on the id.  This is the reweighting step a training-data
    pipeline runs to stop one over-represented domain/language from
    dominating the mix.

    Determinism contract: the gate is pure integer arithmetic on the id
    (``((id % 1000003) * 48271 % 1000003) % rate_denom``), so the kept
    set is a function of the DATA alone — independent of partitioning,
    core count, and engine (the DuckDB oracle replays it verbatim).
    Sample sizes are expected-value (hash-gated), not exact-k: exact-k
    would need a global sort-and-rank shuffle per stratum.

    Scale notes: stratum counts are one partial-aggregated groupBy over
    a tiny key space; the per-stratum rates broadcast back onto the scan
    (no second shuffle of the corpus); the gate itself is whole-stage
    codegen.  Output: (doc_id, strata kept rows) with the applied
    rate_ppm for audit.
    """
    cnts = docs.groupBy(strata_col).agg(F.count("*").alias("n"))
    tot = cnts.agg(
        F.expr("sum(n) div count(*)").cast("long").alias("cap")
    )
    rates = (
        cnts.crossJoin(F.broadcast(tot))  # 1-row planning agg
        .withColumn(
            "rate_ppm",
            F.when(F.col("n") <= F.col("cap"), F.lit(rate_denom).cast("long")).otherwise(
                F.expr(f"({rate_denom} * cap) div n").cast("long")
            ),
        )
        .select(strata_col, "rate_ppm")
    )
    gate = (
        F.pmod(F.pmod(F.col(id_col), F.lit(1000003)) * F.lit(48271), F.lit(1000003))
        % F.lit(rate_denom)
    )
    return (
        docs.join(F.broadcast(rates), strata_col)
        .filter(gate < F.col("rate_ppm"))
        .select(F.col(id_col).alias("doc_id"), F.col(strata_col), F.col("rate_ppm"))
    )


def bigram_lm_score(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ref_mod: int = 89,
    alpha_micro: int = 100_000,
    max_avg_nll_micro: int = 4_200_000,
    broadcast_ref: bool = True,
) -> DataFrame:
    """CCNet-style bigram language-model quality score (Wenzek et al.
    2020 filter a web corpus by the perplexity of a small LM trained on
    a trusted reference; the reference here is the deterministic
    ``doc_id % ref_mod == 0`` slice standing in for "curated corpus").

    Model: add-alpha smoothed bigram LM.  For each document bigram
    (w1, w2): ``p = (c(w1 w2) + a) / (c(w1·) + a*V)`` with ``a =
    alpha_micro / 1e6``, ``c`` counts over the reference slice's bigram
    table, and ``V`` the reference's distinct-successor vocabulary.
    Per-doc score is the summed negative log-likelihood in MICRO-NATS:
    each gram's ``-ln(p)`` is quantized to an int64 FIRST and the doc
    aggregates integers, so Spark and the DuckDB oracle sum identically
    regardless of float addition order (the registry's quantized-inputs
    parity rule).  ``p < 1`` always (``c(w1 w2) <= c(w1·)``, ``V >= 1``)
    so the quantity is nonnegative and both engines' round() agree.

    Gate: ``lm_ok`` iff average nll <= ``max_avg_nll_micro`` micro-nats
    (default 4.2 nats — ~p75 of the synthetic corpus so the gate
    actually splits; a real pipeline sweeps this against held-out
    judgments exactly like CCNet's perplexity buckets),
    per bigram, compared as ``nll_micro <= thr * n_bigrams`` — pure
    integer arithmetic, no division.  Docs with < 2 tokens have no
    evidence and pass.  Output keeps every input doc: (doc_id,
    n_bigrams, nll_micro, lm_ok, is_ref).

    Scale shape: the reference LM's count tables are bounded by the
    reference's bigram-TYPE vocabulary, not the corpus — they broadcast
    (``broadcast_ref``, default; set False to shuffle-join against a
    huge reference).  The corpus side is one codegen gram explode, two
    broadcast joins, and a per-doc partially-aggregated groupBy; corpus
    text never shuffles.
    """
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    bi = docs.select(F.col(id_col).alias("doc_id"), words.alias("w")).select(
        "doc_id", F.explode(word_ngram_col(F.col("w"), 2)).alias("g")
    )
    ref = bi.filter(F.col("doc_id") % ref_mod == 0)
    cb = ref.groupBy("g").agg(F.count("*").alias("cb"))
    cu = ref.groupBy(F.substring_index("g", " ", 1).alias("w1")).agg(
        F.count("*").alias("cu")
    )
    vdf = ref.agg(
        F.count_distinct(F.substring_index("g", " ", -1)).alias("v")
    )  # 1-row planning agg (distinct successor vocab)
    if broadcast_ref:
        cb, cu = F.broadcast(cb), F.broadcast(cu)
    a = F.lit(alpha_micro).cast("double") / F.lit(1e6)
    p = (F.coalesce(F.col("cb"), F.lit(0)) + a) / (
        F.coalesce(F.col("cu"), F.lit(0)) + a * F.col("v")
    )
    scored = (
        bi.withColumn("w1", F.substring_index("g", " ", 1))
        .join(cb, "g", "left")
        .join(cu, "w1", "left")
        .crossJoin(F.broadcast(vdf))
        .select("doc_id", F.round(-F.log(p) * F.lit(1e6)).cast("long").alias("q"))
    )
    agg = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"), F.sum("q").alias("nll_micro")
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0).cast("long")).alias("n_bigrams"),
            F.coalesce(F.col("nll_micro"), F.lit(0).cast("long")).alias("nll_micro"),
            (
                F.coalesce(F.col("nll_micro"), F.lit(0))
                <= F.lit(max_avg_nll_micro) * F.coalesce(F.col("n_bigrams"), F.lit(0))
            )
            .cast("int")
            .alias("lm_ok"),
            (F.col("doc_id") % ref_mod == 0).cast("int").alias("is_ref"),
        )
    )


#: PII patterns kept to the regex subset where Java (Spark) and RE2
#: (DuckDB) agree on match semantics — character classes, bounded
#: repetition, \b anchors; no backrefs or lookaround.  Replacement order
#: matters (email before IPv4 would otherwise leave the host part of a
#: dotted-quad "user@1.2.3.4" unredacted the other way around).
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d{1,3}( \d{3,4}){2,4}\b", "<PHONE>"),
)


def pii_scrub(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """PII redaction for training corpora: replaces emails, IPv4
    addresses, and international-format phone numbers with typed
    placeholder tokens and reports per-class match counts — the standard
    pre-training scrub pass (e.g. the C4/Dolma pipeline's email/IP
    rules), all JVM-side ``regexp_replace``/``regexp_count`` (zero
    Python in the hot path; one scan, no shuffle).

    Counts are DETECTION counts — matches of each pattern on the
    ORIGINAL text — not placeholder tallies: where classes overlap
    (e.g. a dotted quad inside an email's host), an earlier rule's
    replacement can consume a later rule's match, so n_<class> can
    exceed the <CLASS> tokens in text_scrubbed.

    Output: (doc_id, text_scrubbed, n_email, n_ipv4, n_phone).
    """
    text = F.col(text_col)
    counts = [
        F.regexp_count(text, F.lit(pat)).cast("long").alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    scrubbed = text
    for _, pat, repl in PII_PATTERNS:
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        scrubbed.alias("text_scrubbed"),
        *counts,
    )


def pii_scrub_sql(source_sql: str) -> str:
    """DuckDB twin of :func:`pii_scrub` — same patterns, same
    replacement order, global ('g') replacement to match Spark's
    replace-all semantics."""
    scrub = "text"
    for _, pat, repl in PII_PATTERNS:
        esc = pat.replace("'", "''")
        scrub = f"regexp_replace({scrub}, '{esc}', '{repl}', 'g')"
    count_cols = ",\n  ".join(
        "CAST(len(regexp_extract_all(text, '{}')) AS BIGINT) AS n_{}".format(
            pat.replace("'", "''"), name
        )
        for name, pat, _ in PII_PATTERNS
    )
    return (
        f"SELECT doc_id,\n  {scrub} AS text_scrubbed,\n  {count_cols}\n"
        f"FROM ({source_sql}) src"
    )
