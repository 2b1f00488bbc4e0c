"""Round-7 curation additions: published training-data techniques not
yet covered by the suite, each Spark-first with a full-value DuckDB
oracle.

- segment_dedup_c4: C4's duplicate-span removal rule (Raffel et al.
  2020 §2.2) at fixed token-window granularity — corpus-wide survivor
  selection via one hash aggregate (operators/spans.py segment_dedup).
- dsir_importance_topk: hashed-ngram importance resampling weights
  (DSIR, Xie et al. 2023) — which raw documents look most like the
  target distribution (operators/sampling.py dsir_importance).
- trigram_novelty_by_source: per-source novelty = share of a doc's
  distinct trigrams whose corpus-wide first occurrence is that doc —
  the "is this source adding anything new" curation signal.
- lang_vocab_overlap: pairwise Jaccard of per-language top-100
  vocabularies — cross-lingual contamination screen.
- length_percentile_bands: exact per-language length percentiles
  (Spark `percentile` ≡ DuckDB `quantile_cont`, both type-7 linear
  interpolation — verified identical before pinning).

Determinism: all hashing is md5-derived ``stable_hash64`` replayed in
SQL; rankings order by the ROUNDED score with doc_id tie-breaks;
integer aggregates are CAST to BIGINT in the oracle (DuckDB sums climb
to HUGEINT, which the strict comparator would flag).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import sampling, spans
from ..streaming.novelty_stream import batch_doc_grams, novelty_report_from_grams
from ..streaming.vocab_stream import batch_vocab_counts, vocab_overlap_from_counts
from . import QuerySpec, load

SPECS: list[QuerySpec] = []

# Suite conventions (see round5.py / curation.py): tokenization in SQL
# must replay TX.tokens exactly (regex \s+ split, lowercased, empties
# removed), and ratio/FP roundings use the engine-portable
# floor(x*1e4 + 0.5)/1e4 — plain round() on a quotient can flip the
# last decimal between Spark's BigDecimal HALF_UP and DuckDB's float
# rounding (the r5 gate failure this repo already paid for).
_TOKS_SQL = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '')"


def _r4(c):
    """Engine-portable round-to-4 decimals (suite convention — see
    functions/stats.portable_round, reused here)."""
    from ..functions.stats import portable_round

    return portable_round(c, 4).cast("double")


def spec(name: str, oracle: str | None, doc: str = ""):
    def deco(fn):
        SPECS.append(QuerySpec(name, fn, oracle, doc))
        return fn

    return deco


_SEGMENT_DEDUP_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS ord
  FROM documents
), segs AS (
  SELECT doc_id, (ord - 1) // 5 AS seg_idx,
         string_agg(tok, ' ' ORDER BY ord) AS seg
  FROM toks GROUP BY 1, 2
), occ AS (
  SELECT doc_id, seg_idx,
         CAST(('0x' || substr(md5(seg), 1, 15)) AS BIGINT) AS seg_hash
  FROM segs
), surv_doc AS (
  -- two-level lexicographic min replays Spark's min(struct(doc_id,
  -- seg_idx)) exactly at ANY scale; an integer encoding like
  -- doc_id*1e6+seg_idx would silently mis-pick once a document holds
  -- >= 1e6 segments
  SELECT seg_hash, min(doc_id) AS first_doc FROM occ GROUP BY 1
), surv AS (
  SELECT o.seg_hash, o.doc_id AS first_doc, min(o.seg_idx) AS first_idx
  FROM occ o JOIN surv_doc d
    ON o.seg_hash = d.seg_hash AND o.doc_id = d.first_doc
  GROUP BY 1, 2
)
SELECT o.doc_id,
       count(*) AS n_segs,
       CAST(sum(CASE WHEN o.doc_id = s.first_doc AND o.seg_idx = s.first_idx
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN o.doc_id = s.first_doc AND o.seg_idx = s.first_idx
                     THEN 0 ELSE 1 END) AS BIGINT) AS n_removed
FROM occ o JOIN surv s USING (seg_hash)
GROUP BY 1
ORDER BY 1
"""


@spec(
    "segment_dedup_c4",
    _SEGMENT_DEDUP_SQL,
    "C4-style corpus-wide duplicate-segment removal: per-doc kept/removed counts",
)
def segment_dedup_c4(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    occ = spans.segment_dedup(docs, "text", "doc_id", seg_words=5)
    return (
        occ.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_segs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.sum(F.when(F.col("keep"), 0).otherwise(1))
            .cast("bigint")
            .alias("n_removed"),
        )
        .orderBy("doc_id")
    )


_DSIR_SQL = """
WITH toks AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 256 AS bucket
  FROM (
    SELECT doc_id, lang, unnest(_TOKS_SQL_PLACEHOLDER) AS tok
    FROM documents
  )
), doc_bucket AS (
  SELECT doc_id, lang, bucket, count(*) AS cnt FROM toks GROUP BY 1, 2, 3
), bucket_stats AS (
  SELECT bucket,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
         count(*) AS n_r
  FROM toks GROUP BY 1
), totals AS (
  SELECT CAST(sum(n_t) AS BIGINT) AS tot_t,
         CAST(sum(n_r) AS BIGINT) AS tot_r
  FROM bucket_stats
)
SELECT d.doc_id, d.lang,
       CAST(sum(d.cnt) AS BIGINT) AS n_tokens,
       CAST(floor(sum(d.cnt * (ln((b.n_t + 1) / (t.tot_t + 256.0))
                             - ln((b.n_r + 1) / (t.tot_r + 256.0)))) * 10000
                  + 0.5) / 10000 AS DOUBLE) AS dsir_weight
FROM doc_bucket d
JOIN bucket_stats b USING (bucket)
CROSS JOIN totals t
WHERE d.lang <> 'en'
GROUP BY 1, 2
ORDER BY dsir_weight DESC, doc_id
LIMIT 20
"""
_DSIR_SQL = _DSIR_SQL.replace("_TOKS_SQL_PLACEHOLDER", _TOKS_SQL)


@spec(
    "dsir_importance_topk",
    _DSIR_SQL,
    "DSIR hashed-unigram importance weights vs the lang='en' target; top-20 non-target docs",
)
def dsir_importance_topk(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    w = sampling.dsir_importance(
        docs, "text", "doc_id", F.col("lang") == "en",
        n_buckets=256, keep_cols=["lang"],
    )
    return (
        w.filter(F.col("lang") != "en")
        .select(
            "doc_id", "lang", "n_tokens",
            _r4(F.col("weight")).alias("dsir_weight"),
        )
        .orderBy(F.col("dsir_weight").desc(), "doc_id")
        .limit(20)
    )


_NOVELTY_SQL = """
WITH toks AS (
  SELECT doc_id, source,
         unnest(_TOKS_SQL_PLACEHOLDER) AS tok,
         generate_subscripts(_TOKS_SQL_PLACEHOLDER, 1) AS ord
  FROM documents
), tri AS (
  SELECT DISTINCT a.doc_id, a.source,
         CAST(('0x' || substr(md5(a.tok || ' ' || b.tok || ' ' || c.tok), 1, 15))
              AS BIGINT) AS gh
  FROM toks a
  JOIN toks b ON b.doc_id = a.doc_id AND b.ord = a.ord + 1
  JOIN toks c ON c.doc_id = a.doc_id AND c.ord = a.ord + 2
), firsts AS (
  SELECT gh, min(doc_id) AS first_doc FROM tri GROUP BY 1
), per_doc AS (
  SELECT t.doc_id, t.source, count(*) AS n_grams,
         CAST(sum(CASE WHEN t.doc_id = f.first_doc THEN 1 ELSE 0 END)
              AS BIGINT) AS n_novel
  FROM tri t JOIN firsts f USING (gh)
  GROUP BY 1, 2
)
SELECT source,
       count(*) AS n_docs,
       CAST(floor(avg(CAST(n_novel AS DOUBLE) / n_grams) * 10000 + 0.5)
            / 10000 AS DOUBLE) AS avg_novelty
FROM per_doc
GROUP BY 1
ORDER BY 1
"""
_NOVELTY_SQL = _NOVELTY_SQL.replace("_TOKS_SQL_PLACEHOLDER", _TOKS_SQL)


@spec(
    "trigram_novelty_by_source",
    _NOVELTY_SQL,
    "share of each doc's distinct trigrams first seen in that doc, averaged per source",
)
def trigram_novelty_by_source(spark, sf_dir):
    """The twin's gram extraction over the whole corpus, then the tail
    ``trigram_novelty_recovered`` also runs (streaming/novelty_stream)."""
    docs = load(spark, sf_dir, "documents")
    return novelty_report_from_grams(batch_doc_grams(docs))


_VOCAB_OVERLAP_SQL = """
WITH counts AS (
  SELECT lang, tok, count(*) AS cnt
  FROM (
    SELECT lang, unnest(_TOKS_SQL_PLACEHOLDER) AS tok FROM documents
  )
  GROUP BY 1, 2
), ranked AS (
  SELECT lang, tok,
         row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tok) AS rk
  FROM counts
), top AS (
  SELECT lang, tok FROM ranked WHERE rk <= 100
), sizes AS (
  -- actual per-language top-list size: a language with < 100 distinct
  -- tokens contributes its true vocabulary size, so identical small
  -- vocabularies report jaccard = 1.0 (ADVICE r7: the old
  -- overlap/(200-overlap) hardcoded |A|=|B|=100)
  SELECT lang, count(*) AS n FROM top GROUP BY 1
)
SELECT a.lang AS lang_a, b.lang AS lang_b,
       count(*) AS overlap,
       CAST(floor(count(*) * 1.0
                  / (min(sa.n) + min(sb.n) - count(*)) * 10000 + 0.5)
            / 10000 AS DOUBLE) AS jaccard
FROM top a
JOIN top b ON a.tok = b.tok AND a.lang < b.lang
JOIN sizes sa ON sa.lang = a.lang
JOIN sizes sb ON sb.lang = b.lang
GROUP BY 1, 2
ORDER BY 1, 2
"""
_VOCAB_OVERLAP_SQL = _VOCAB_OVERLAP_SQL.replace("_TOKS_SQL_PLACEHOLDER", _TOKS_SQL)


@spec(
    "lang_vocab_overlap",
    _VOCAB_OVERLAP_SQL,
    "pairwise Jaccard of per-language top-100 vocabularies (contamination screen)",
)
def lang_vocab_overlap(spark, sf_dir):
    """The twin's token counts over the whole corpus, then the tail
    ``lang_vocab_overlap_recovered`` also runs (streaming/vocab_stream)."""
    docs = load(spark, sf_dir, "documents")
    return vocab_overlap_from_counts(batch_vocab_counts(docs), top_n=100)


_PERCENTILE_SQL = """
SELECT lang,
       CAST(round(quantile_cont(n_chars, 0.10), 2) AS DOUBLE) AS p10,
       CAST(round(quantile_cont(n_chars, 0.50), 2) AS DOUBLE) AS p50,
       CAST(round(quantile_cont(n_chars, 0.90), 2) AS DOUBLE) AS p90,
       count(*) AS n_docs
FROM documents
GROUP BY 1
ORDER BY 1
"""


@spec(
    "length_percentile_bands",
    _PERCENTILE_SQL,
    "exact per-language length percentiles (Spark percentile ≡ DuckDB quantile_cont)",
)
def length_percentile_bands(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.round(F.expr("percentile(n_chars, 0.10)"), 2)
            .cast("double")
            .alias("p10"),
            F.round(F.expr("percentile(n_chars, 0.50)"), 2)
            .cast("double")
            .alias("p50"),
            F.round(F.expr("percentile(n_chars, 0.90)"), 2)
            .cast("double")
            .alias("p90"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .orderBy("lang")
    )


# Fixed-coefficient contract for the oracle-backed scoring query: the
# trained path can't be SQL-replayed (iterative), so — the round-6
# exact-companion pattern — the driver witnesses the full featurize +
# sigmoid-score machinery under PUBLISHED constants, while training
# itself is pytest-pinned against a numpy reference
# (tests/test_quality_model.py).
_QLR = {"bias": -3.0, "f_logtok": 0.7, "f_wlen": -0.15,
        "f_punct": -5.0, "f_stop": 4.0, "f_ttr": 0.8}

_QLR_SQL = """
WITH w AS (
  SELECT doc_id, text, _TOKS_SQL_PLACEHOLDER AS ws FROM documents
), f AS (
  SELECT doc_id,
    ln(1.0 + len(ws)) AS f_logtok,
    coalesce(list_aggregate(list_transform(ws, x -> length(x)), 'sum'), 0)
      * 1.0 / greatest(len(ws), 1) AS f_wlen,
    length(regexp_replace(text, '[\\pL\\pN\\s]', '', 'g')) * 1.0
      / greatest(length(text), 1) AS f_punct,
    len(list_filter(ws, x -> x IN ('the','a','and','of','to','in','is')))
      * 1.0 / greatest(len(ws), 1) AS f_stop,
    len(list_distinct(ws)) * 1.0 / greatest(len(ws), 1) AS f_ttr
  FROM w
), s AS (
  SELECT doc_id,
    1.0 / (1.0 + exp(-(-3.0 + 0.7 * f_logtok - 0.15 * f_wlen
                       - 5.0 * f_punct + 4.0 * f_stop + 0.8 * f_ttr))) AS p
  FROM f
)
SELECT CAST(floor(p * 10) AS BIGINT) AS bucket,
       count(*) AS n_docs,
       CAST(floor(avg(p) * 10000 + 0.5) / 10000 AS DOUBLE) AS avg_p
FROM s
GROUP BY 1
ORDER BY 1
"""
_QLR_SQL = _QLR_SQL.replace("_TOKS_SQL_PLACEHOLDER", _TOKS_SQL)


@spec(
    "quality_logreg_buckets",
    _QLR_SQL,
    "model-based quality filter (CCNet/GPT-3-style logreg) at fixed "
    "published coefficients: score histogram by decile bucket",
)
def quality_logreg_buckets(spark, sf_dir):
    from ..operators import quality_model as QM

    # spread before the regex-heavy featurize pass (coarse-scan lesson,
    # BASELINE.md sf1 section)
    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    coefs = [_QLR[n] for n in QM.FEATURE_NAMES]
    scored = QM.score_quality(docs, "text", _QLR["bias"], coefs)
    return (
        scored.groupBy(
            F.floor(F.col("quality_p") * 10).cast("bigint").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            _r4(F.avg("quality_p")).alias("avg_p"),
        )
        .orderBy("bucket")
    )


_ES_SQL = """
WITH keyed AS (
  SELECT lang, doc_id, n_chars,
    CAST(('0x' || substr(md5('es:' || CAST(doc_id AS VARCHAR)), 1, 15))
         AS BIGINT) % 1000003 AS h,
    floor(pow(
        (CAST(('0x' || substr(md5('es:' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % 1000003 + 1) / 1000005.0,
        1.0 / n_chars) * 10000000000.0 + 0.5) / 10000000000.0 AS es_key
  FROM documents
  WHERE n_chars > 0
), ranked AS (
  -- ties within the rounding quantum break by the integer uniform
  -- (the E-S order for equal weights), then doc_id — mirrors
  -- weighted_sample_topk exactly
  SELECT lang, doc_id, n_chars, es_key,
         row_number() OVER (PARTITION BY lang
                            ORDER BY es_key DESC, h DESC, doc_id) AS rk
  FROM keyed
)
SELECT lang, doc_id, n_chars, CAST(es_key AS DOUBLE) AS es_key
FROM ranked
WHERE rk <= 20
ORDER BY lang, es_key DESC, doc_id
"""


@spec(
    "weighted_sample_es",
    _ES_SQL,
    "Efraimidis-Spirakis weighted sampling without replacement: 20 docs "
    "per language proportional to n_chars, deterministic u from the "
    "content hash, key u^(1/w) rounded before ranking",
)
def weighted_sample_es(spark, sf_dir):
    from ..operators.sampling import weighted_sample_topk

    docs = load(spark, sf_dir, "documents")
    out = weighted_sample_topk(
        docs, "n_chars", "doc_id", k=20, strata_cols=["lang"], seed="es"
    )
    return out.select(
        "lang", "doc_id", "n_chars",
        F.col("_es_key").cast("double").alias("es_key"),
    ).orderBy("lang", F.col("es_key").desc(), "doc_id")
