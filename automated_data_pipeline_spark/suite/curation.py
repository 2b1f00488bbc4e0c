"""Round-4 corpus-curation additions: SemDeDup-style semantic dedup,
Gopher-style repetition filters, cross-document n-gram repetition
(the ExactSubstr signal), nearest-centroid assignment, the
tokenizer-vocabulary coverage curve, and the data-quality expectation
report (operators/quality.py).

These extend the LLM-pipeline surface (BASELINE.json mandate) with the
curation signals a 100 TB training-data pipeline runs between raw
ingest and tokenization. Reference has no analogue (it is an ETL
orchestrator — see SURVEY.md §2.9); the semantics here follow the
published recipes: SemDeDup (Abbas et al. 2023, within-cluster cosine
pruning), Gopher repetition rules (Rae et al. 2021 §A1.1), and exact
substring dedup (Lee et al. 2022) approximated at the 5-gram level.

Cross-engine determinism: ratios are single IEEE divisions of integer
counts rounded to a fixed precision; cosines use the shared
sequential-fold ``vectors.cosine_rounded``; centroids reuse the
decimal-exact partial-sum recipe from ``label_centroids``.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import text as TX
from ..operators import similarity
from . import QuerySpec, load
from . import llm

SPECS: list[QuerySpec] = []


def spec(name, oracle, doc=""):
    def deco(fn):
        SPECS.append(QuerySpec(name, fn, oracle, doc))
        return fn

    return deco


_WORDS_SQL = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x != '')"

# zero-norm guard mirrors the Spark side's cosine_rounded_safe: without
# it DuckDB yields 0/0 = NaN, and NaN >= tau is TRUE under DuckDB's
# NaN-sorts-greatest semantics — the engines would disagree on
# degenerate vectors
_COS_SQL = (
    "(CASE WHEN (SELECT sum(CAST(a.embedding[i] AS DOUBLE)*CAST(a.embedding[i] AS DOUBLE)) FROM range(1,65) t(i)) = 0"
    "   OR (SELECT sum(CAST(b.embedding[i] AS DOUBLE)*CAST(b.embedding[i] AS DOUBLE)) FROM range(1,65) t(i)) = 0"
    " THEN 0.0 ELSE "
    "round((SELECT sum(CAST(a.embedding[i] AS DOUBLE)*CAST(b.embedding[i] AS DOUBLE)) FROM range(1,65) t(i))"
    " / (sqrt((SELECT sum(CAST(a.embedding[i] AS DOUBLE)*CAST(a.embedding[i] AS DOUBLE)) FROM range(1,65) t(i)))"
    "  * sqrt((SELECT sum(CAST(b.embedding[i] AS DOUBLE)*CAST(b.embedding[i] AS DOUBLE)) FROM range(1,65) t(i)))), 6) END)"
)


# --------------------------------------------------------------------
@spec(
    "semdedup_prune",
    f"""
    WITH pruned AS (
      SELECT DISTINCT b.vec_id
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE {_COS_SQL} >= 0.25
    )
    SELECT e.vec_id, e.label,
           CASE WHEN p.vec_id IS NULL THEN true ELSE false END AS survives
    FROM embeddings e LEFT JOIN pruned p ON e.vec_id = p.vec_id
    """,
    "SemDeDup: within-cluster (label = cluster id) pairwise cosine; a "
    "vector is pruned when a lower-id cluster-mate has cosine >= 0.25. "
    "Scale path: clusters come from the IVF coarse quantizer, so the "
    "pairwise join is confined to one cluster's rows — never an "
    "all-pairs product; the equi-join on the cluster key is one "
    "shuffle and AQE handles cluster-size skew",
)
def semdedup_prune(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup(e, threshold=0.25)


# --------------------------------------------------------------------
@spec(
    "gopher_repetition",
    f"""
    WITH w AS (SELECT doc_id, {_WORDS_SQL} AS ws FROM documents),
    u AS (SELECT doc_id, unnest(ws) AS tok FROM w),
    wc AS (SELECT doc_id, tok, count(*) AS c FROM u GROUP BY 1, 2),
    wt AS (SELECT doc_id, max(c) AS maxw, sum(c) AS total FROM wc GROUP BY 1),
    bg AS (
      SELECT doc_id, ws[i] || ' ' || ws[i+1] AS g
      FROM w, unnest(range(1, len(ws))) t(i) WHERE len(ws) >= 2
    ),
    bc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
    bt AS (SELECT doc_id, max(c) AS maxb, sum(c) AS total FROM bc GROUP BY 1)
    SELECT wt.doc_id,
           CAST(wt.total AS BIGINT) AS n_words,
           CAST(round(wt.maxw * 1.0 / wt.total, 4) AS DOUBLE) AS top_word_frac,
           CAST(round(coalesce(bt.maxb * 1.0 / bt.total, 0.0), 4) AS DOUBLE) AS top_bigram_frac,
           (wt.maxw * 1.0 / wt.total <= 0.125
            AND coalesce(bt.maxb * 1.0 / bt.total, 0.0) <= 0.05) AS gopher_pass
    FROM wt LEFT JOIN bt ON wt.doc_id = bt.doc_id
    """,
    "Gopher-style repetition filters (Rae et al. 2021 §A1.1 adapted to "
    "single-line docs): most-common-word fraction and most-common-"
    "bigram fraction per document, plus the pass/fail flag. Plan: one "
    "tokenize scan feeds both explode streams; each is a two-level "
    "agg (map-side partial on (doc, gram) then per-doc max/sum) — "
    "raw text never shuffles, gram streams do with partial aggs",
)
def gopher_repetition(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", TX.tokens(F.col("text")).alias("ws"))
    words = toks.select("doc_id", F.explode("ws").alias("tok"))
    wt = (
        words.groupBy("doc_id", "tok").count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("maxw"), F.sum("count").alias("total"))
    )
    grams = toks.filter(F.size("ws") >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ws") - 1),
                lambda i: F.concat(
                    F.element_at("ws", i), F.lit(" "), F.element_at("ws", i + 1)
                ),
            )
        ).alias("g"),
    )
    bt = (
        grams.groupBy("doc_id", "g").count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("maxb"))
    )
    wfrac = F.col("maxw") / F.col("total")
    bfrac = F.coalesce(F.col("maxb") / (F.col("total") - 1), F.lit(0.0))
    return (
        wt.join(bt, "doc_id", "left")
        .select(
            "doc_id",
            F.col("total").cast("bigint").alias("n_words"),
            F.round(wfrac, 4).cast("double").alias("top_word_frac"),
            F.round(bfrac, 4).cast("double").alias("top_bigram_frac"),
            ((wfrac <= 0.125) & (bfrac <= 0.05)).alias("gopher_pass"),
        )
    )


# --------------------------------------------------------------------
@spec(
    "cross_doc_ngram_repetition",
    f"""
    WITH w AS (SELECT doc_id, {_WORDS_SQL} AS ws FROM documents),
    g5 AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(ws) - 3),
               i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4])) AS gs
      FROM w WHERE len(ws) >= 5
    ),
    u AS (SELECT doc_id, unnest(gs) AS g FROM g5),
    d AS (SELECT g, count(*) AS ndocs FROM u GROUP BY 1),
    j AS (
      SELECT u.doc_id, count(*) AS total,
             sum(CASE WHEN d.ndocs >= 2 THEN 1 ELSE 0 END) AS shared
      FROM u JOIN d USING (g) GROUP BY 1
    )
    SELECT doc_id, CAST(total AS BIGINT) AS n_grams5,
           CAST(round(shared * 1.0 / total, 4) AS DOUBLE) AS shared_frac
    FROM j
    """,
    "Cross-document repetition (the ExactSubstr dedup signal, Lee et "
    "al. 2022, at 5-gram granularity): per doc, the fraction of its "
    "distinct 5-grams that occur in at least one OTHER document. "
    "shared_frac 1.0 = fully contained in the rest of the corpus. "
    "Plan: distinct-per-doc grams explode once; (gram -> ndocs) is a "
    "count(*) agg (per-doc distinctness makes count = doc frequency, "
    "no count-distinct state); join back on gram and per-doc agg — "
    "two shuffles total, both with map-side partials; raw text never "
    "shuffles",
)
def cross_doc_ngram_repetition(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    # materialize the token array in its own projection FIRST: a lambda
    # that references the raw tokens(text) EXPRESSION re-runs the whole
    # split per element access (5 accesses x ~50 grams/doc = the scan
    # re-tokenizes each doc ~250x — measured 14.5s -> sub-second at
    # sf0.1 for this exact query)
    ws = F.col("ws")
    g5 = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - 4),
            lambda i: F.concat_ws(
                " ",
                F.element_at(ws, i), F.element_at(ws, i + 1),
                F.element_at(ws, i + 2), F.element_at(ws, i + 3),
                F.element_at(ws, i + 4),
            ),
        )
    )
    u = (
        d.select("doc_id", TX.tokens(F.col("text")).alias("ws"))
        .filter(F.size(ws) >= 5)
        .select("doc_id", F.explode(g5).alias("g"))
        .persist()
    )
    ndocs = u.groupBy("g").agg(F.count(F.lit(1)).alias("ndocs"))
    out = (
        u.join(ndocs, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams5"),
            F.round(
                F.sum((F.col("ndocs") >= 2).cast("int")) / F.count(F.lit(1)), 4
            ).cast("double").alias("shared_frac"),
        )
    )
    res = out.localCheckpoint(eager=True)
    u.unpersist()
    return res


# --------------------------------------------------------------------
@spec(
    "nearest_centroid_assign",
    """
    WITH u AS (
      SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(embedding[generate_subscripts(embedding, 1)] AS DECIMAL(18,9)) AS v
      FROM embeddings
    ),
    c AS (
      SELECT label AS c_label, dim,
             CAST(round(sum(v) / count(*), 6) AS DOUBLE) AS centroid
      FROM u GROUP BY 1, 2
    ),
    ca AS (
      SELECT c_label, list_transform(
               list_sort(list(struct_pack(dim := dim, centroid := centroid))),
               r -> r.centroid) AS cvec
      FROM c GROUP BY 1
    ),
    dist AS (
      SELECT e.vec_id, e.label,
             ca.c_label AS cand,
             round((SELECT sum(pow(CAST(e.embedding[i] AS DOUBLE) - ca.cvec[i], 2))
                    FROM range(1, 65) t(i)), 6) AS d2
      FROM embeddings e CROSS JOIN ca
    ),
    pick AS (
      SELECT vec_id, label, cand,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, cand) AS rn
      FROM dist
    )
    SELECT label AS true_label, cand AS assigned_label,
           CAST(count(*) AS BIGINT) AS n
    FROM pick WHERE rn = 1 GROUP BY 1, 2
    """,
    "Nearest-centroid assignment (the classify half of label_centroids"
    "): per-label decimal-exact centroids, then each vector is "
    "assigned to the centroid with the smallest squared L2 distance "
    "(distance rounded to 6, centroid-label tie-break) — output is "
    "the (true label x assigned label) confusion matrix. Plan: "
    "centroids are tiny (labels x dims) and BROADCAST to the vector "
    "scan; the distance fold is a sequential per-row array reduce "
    "(deterministic, codegen); one final small-key agg",
)
def nearest_centroid_assign(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    u = e.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    ).select(
        "label",
        F.col("dim").cast("long").alias("dim"),
        F.col("v").cast("decimal(18,9)").alias("v"),
    )
    cent = u.groupBy("label", "dim").agg(
        F.round(F.sum("v") / F.count(F.lit(1)), 6).cast("double").alias("centroid")
    )
    cvec = (
        cent.groupBy(F.col("label").alias("cand"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "centroid"))),
                lambda r: r["centroid"],
            ).alias("cvec")
        )
    )
    d2 = F.round(
        F.aggregate(
            F.zip_with(
                F.col("embedding"),
                F.col("cvec"),
                lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )
    dist = e.crossJoin(F.broadcast(cvec)).select(
        "vec_id", "label", F.col("cand"), d2.alias("d2")
    )
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("vec_id").orderBy("d2", "cand")
    )
    pick = dist.withColumn("rn", rn).filter(F.col("rn") == 1)
    return pick.groupBy(
        F.col("label").alias("true_label"),
        F.col("cand").alias("assigned_label"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))


# --------------------------------------------------------------------
@spec(
    "vocab_coverage",
    f"""
    WITH w AS (SELECT doc_id, {_WORDS_SQL} AS ws FROM documents),
    u AS (SELECT unnest(ws) AS tok FROM w),
    c AS (SELECT tok, count(*) AS freq FROM u GROUP BY 1),
    t AS (SELECT sum(freq) AS total FROM c),
    r AS (SELECT tok, freq,
                 row_number() OVER (ORDER BY freq DESC, tok) AS rank
          FROM c)
    SELECT r.tok AS token, CAST(r.rank AS BIGINT) AS rank,
           CAST(r.freq AS BIGINT) AS freq,
           CAST(round(sum(r.freq) OVER (ORDER BY r.rank) * 1.0 / t.total, 6)
                AS DOUBLE) AS cum_share
    FROM r CROSS JOIN t WHERE r.rank <= 100
    """,
    "Tokenizer-vocabulary coverage curve: corpus-wide token "
    "frequencies, ranked, with the cumulative share of all token "
    "occurrences covered by the top-k vocabulary — the "
    "how-big-must-the-vocab-be curve a tokenizer build starts from. "
    "Plan: one explode + count agg (map-side partials), scalar total "
    "broadcast, TOP-100 via orderBy+limit (TakeOrderedAndProject: "
    "distributed per-partition top-k, driver merge), and the rank + "
    "cumulative windows run over the <= 100 survivors only — no "
    "global window ever sees the full vocabulary",
)
def vocab_coverage(spark, sf_dir):
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    toks = d.select(F.explode(TX.tokens(F.col("text"))).alias("tok"))
    c = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    total = c.agg(F.sum("freq").alias("total"))
    # top-100 FIRST via orderBy+limit (TakeOrderedAndProject — a
    # distributed per-partition top-k + driver merge), THEN rank the
    # <=100 survivors; ranking the full vocabulary with a global
    # row_number window would funnel every distinct token through one
    # WindowExec partition
    top = c.orderBy(F.col("freq").desc(), F.col("tok")).limit(100)
    r = top.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("freq").desc(), F.col("tok"))
        ),
    )
    cum = F.sum("freq").over(
        Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        r.crossJoin(F.broadcast(total))
        .select(
            F.col("tok").alias("token"),
            F.col("rank").cast("bigint").alias("rank"),
            F.col("freq").cast("bigint").alias("freq"),
            F.round(cum / F.col("total"), 6).cast("double").alias("cum_share"),
        )
    )


# --------------------------------------------------------------------
@spec(
    "data_quality_report",
    """
    WITH o AS (
      SELECT 'orders' AS table_name, check_name, n_rows, n_violations,
             CAST(floor(n_violations * 1.0 / n_rows * 1000000 + 0.5) / 1000000 AS DOUBLE) AS violation_rate
      FROM (
        SELECT unnest(['not_null(o_orderkey)', 'range(o_totalprice <= 400000)',
                       'fresh(o_orderdate >= 1993-01-01)']) AS check_name,
               unnest([CAST(count(*) FILTER (o_orderkey IS NULL) AS BIGINT),
                       CAST(count(*) FILTER (o_totalprice > 400000) AS BIGINT),
                       CAST(count(*) FILTER (o_orderdate < DATE '1993-01-01') AS BIGINT)]) AS n_violations,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM orders
      )
    ),
    l AS (
      SELECT 'lineitem' AS table_name, check_name, n_rows, n_violations,
             CAST(floor(n_violations * 1.0 / n_rows * 1000000 + 0.5) / 1000000 AS DOUBLE) AS violation_rate
      FROM (
        SELECT unnest(['range(l_discount in [0, 0.08])', 'positive(l_quantity)']) AS check_name,
               unnest([CAST(count(*) FILTER (l_discount < 0 OR l_discount > 0.08) AS BIGINT),
                       CAST(count(*) FILTER (l_quantity <= 0) AS BIGINT)]) AS n_violations,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM lineitem
      )
    ),
    u AS (
      SELECT 'lineitem' AS table_name,
             'unique(l_orderkey,l_linenumber)' AS check_name,
             (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_rows,
             CAST((SELECT count(*) FROM lineitem)
                  - (SELECT count(*) FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem))
                  AS BIGINT) AS n_violations,
             CAST(floor(((SELECT count(*) FROM lineitem)
                  - (SELECT count(*) FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)))
                  * 1.0 / (SELECT count(*) FROM lineitem) * 1000000 + 0.5) / 1000000 AS DOUBLE) AS violation_rate
    )
    SELECT * FROM o UNION ALL SELECT * FROM l UNION ALL SELECT * FROM u
    """,
    "Declarative data-quality expectation report (the Deequ/dbt-test "
    "shape the reference's P2 invalid-row filter only hints at): "
    "null-rate, range, freshness, and duplicate-key checks over "
    "orders + lineitem as (table, check, n_rows, n_violations, rate) "
    "rows. Plan: ALL boolean rules for a table fold into ONE "
    "aggregate scan (sum of 0/1 casts, map-side partials); the "
    "uniqueness rule adds one groupBy shuffle on the key — a 50-rule "
    "suite still costs two scans + one shuffle, never per-rule jobs",
)
def data_quality_report(spark, sf_dir):
    from ..operators import quality

    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    o_report = quality.rule_report(
        orders,
        "orders",
        [
            ("not_null(o_orderkey)", F.col("o_orderkey").isNull()),
            ("range(o_totalprice <= 400000)", F.col("o_totalprice") > 400000),
            (
                "fresh(o_orderdate >= 1993-01-01)",
                F.col("o_orderdate") < F.lit("1993-01-01").cast("date"),
            ),
        ],
    )
    l_report = quality.rule_report(
        lineitem,
        "lineitem",
        [
            (
                "range(l_discount in [0, 0.08])",
                (F.col("l_discount") < 0) | (F.col("l_discount") > 0.08),
            ),
            ("positive(l_quantity)", F.col("l_quantity") <= 0),
        ],
    )
    u_report = quality.uniqueness_report(
        lineitem, "lineitem", ["l_orderkey", "l_linenumber"]
    )
    return o_report.unionAll(l_report).unionAll(u_report)


# --------------------------------------------------------------------
@spec(
    "length_vocab_correlation",
    f"""
    WITH w AS (
      SELECT lang,
             CAST(len({_WORDS_SQL}) AS BIGINT) AS x,
             CAST(len(list_distinct({_WORDS_SQL})) AS BIGINT) AS y
      FROM documents
    ),
    a AS (
      SELECT lang, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy
      FROM w GROUP BY 1
    )
    SELECT lang, CAST(n AS BIGINT) AS n_docs,
           CAST(round((n*sxy - sx*sy)
                / sqrt((n*sxx - sx*sx) * 1.0 * (n*syy - sy*sy)), 4)
                AS DOUBLE) AS corr_len_vocab
    FROM a
    """,
    "Per-language Pearson correlation between document length and "
    "distinct-vocabulary size — the lexical-diversity signal (near-1 "
    "= vocabulary grows linearly with length; low = repetitive "
    "corpus). The engineering point: Spark's built-in corr() "
    "accumulates FLOATS in partition order (run-to-run "
    "nondeterministic), so this hand-rolls the five moment sums as "
    "exact integers (order-independent) and evaluates the closed form "
    "once in IEEE double — bit-identical cross-engine. At 100 TB the "
    "moment sums move to DECIMAL(38,0) (int64 overflows ~2^63); the "
    "shape stays one scan + one tiny groupBy",
)
def length_vocab_correlation(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    d = d.select(
        "lang", TX.tokens(F.col("text")).alias("ws")
    ).select(
        "lang",
        F.size("ws").cast("bigint").alias("x"),
        F.size(F.array_distinct("ws")).cast("bigint").alias("y"),
    )
    a = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = n * F.col("sxy") - sx * sy
    den = F.sqrt(
        (n * F.col("sxx") - sx * sx) * F.lit(1.0) * (n * F.col("syy") - sy * sy)
    )
    return a.select(
        "lang",
        n.cast("bigint").alias("n_docs"),
        # a zero-variance stratum (e.g. a single-document language) has
        # den = 0: correlation is undefined -> NULL, matching DuckDB's
        # x/0 = NULL instead of raising under Spark's ANSI mode
        F.when(den == 0, F.lit(None))
        .otherwise(F.round(num / den, 4))
        .cast("double")
        .alias("corr_len_vocab"),
    )


# ====================================================================
# Round-4 continuation: audio decode, leakage-free splits, and four
# further TPC-H query shapes (Q12/Q14/Q19/Q22 analogues on the fixture
# columns) rounding out the OLAP surface.

# UTF-8 bytes of text as a 1-based int list, re-derived from
# hex(encode(text)) — the SAME constant the multimodal_feature_extract
# oracle uses (one copy; a fix there propagates here).
from .llm import _MM_BYTES as _BYTES_SQL  # noqa: E402


@spec(
    "audio_feature_extract",
    f"""
    WITH b AS (
      SELECT doc_id AS media_id,
             octet_length(encode(coalesce(text, ''))) AS n_bytes,
             {_BYTES_SQL} AS bytes
      FROM documents
    ),
    s AS (
      SELECT media_id,
             [ CASE WHEN bytes[2*i+1] + 256*bytes[2*i+2] >= 32768
                    THEN bytes[2*i+1] + 256*bytes[2*i+2] - 65536
                    ELSE bytes[2*i+1] + 256*bytes[2*i+2] END
               for i in range(n_bytes // 2) ] AS samples
      FROM b
    )
    SELECT media_id,
           CAST(8000 AS INT) AS sample_rate,
           CAST(1 AS INT) AS n_channels,
           CAST(len(samples) AS BIGINT) AS n_samples,
           CAST(len(samples) * 1000 // 8000 AS BIGINT) AS duration_ms,
           CAST(coalesce(list_sum(list_transform(samples, s -> abs(s))), 0) AS BIGINT) AS abs_sum,
           CAST(coalesce(list_sum(list_transform(samples, s -> s*s)), 0) AS BIGINT) AS energy,
           CAST(coalesce(list_sum(
             [ CASE WHEN (samples[i+1] < 0) != (samples[i+2] < 0) THEN 1 ELSE 0 END
               for i in range(len(samples) - 1) ]), 0) AS BIGINT) AS zero_crossings,
           CAST(coalesce(list_max(list_transform(samples, s -> abs(s))), 0) AS INT) AS peak,
           true AS decode_ok
    FROM s
    """,
    "REAL audio decode loop, value-checked end to end: text bytes -> "
    "16-bit PCM samples -> RIFF/WAV encode -> the stdlib RIFF parser -> "
    "exact integer signal features (abs-sum, energy, zero-crossings, "
    "peak). The oracle re-derives the same integers straight from the "
    "UTF-8 bytes, so a hash match proves the encoder, the chunk-walking "
    "decoder, and the featurizer agree sample-for-sample. Plan: two "
    "chained mapInPandas stages (Arrow-batched, partition-parallel, no "
    "shuffle); a corrupt payload flags its row, never the task",
)
def audio_feature_extract(spark, sf_dir):
    from ..operators import audio

    d = load(spark, sf_dir, "documents")
    media = audio.attach_wav_payload(d, "doc_id", "text", sample_rate=8000)
    return audio.decode_audio_features(media)


# --------------------------------------------------------------------
@spec(
    "cluster_disjoint_split",
    f"""
    WITH RECURSIVE {llm._COMPONENTS_CTES}    SELECT doc_id, rep_id,
      CASE WHEN bucket < 80 THEN 'train'
           WHEN bucket < 90 THEN 'val'
           ELSE 'test' END AS split
    FROM (
      SELECT doc_id, rep_id,
        CAST(('0x' || substr(md5('split:' || CAST(rep_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
      FROM labeled
    )
    """,
    "Leakage-free train/val/test split: the 80/10/10 hash draw is taken "
    "on the near-dup CLUSTER representative, not the document — so two "
    "near-duplicate documents can never straddle train and test (the "
    "eval-contamination hole a plain per-doc split leaves open). "
    "Composition: dedup connected components -> hash-bucket the rep id. "
    "Plan: the components loop is the lineage-truncated label "
    "propagation from dedup_clusters; the split itself adds ZERO "
    "shuffles (a pure column expression on the labeled output)",
)
def cluster_disjoint_split(spark, sf_dir):
    from ..functions import text as TX
    from ..operators import dedup

    d = load(spark, sf_dir, "documents")
    comp = dedup.dedup_components(d, "doc_id", "text", threshold=0.8)
    bucket = F.pmod(
        TX.stable_hash64(
            F.concat(F.lit("split:"), F.col("rep_id").cast("string"))
        ),
        F.lit(100),
    )
    return comp.select(
        "doc_id",
        "rep_id",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


# --------------------------------------------------------------------
@spec(
    "late_lines_priority_class",
    """
    SELECT l.l_linestatus AS linestatus,
      CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_priority_lines,
      CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_priority_lines
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + 30
    GROUP BY 1
    """,
    "TPC-H Q12 shape on the fixture columns: late-shipping lines "
    "(shipped >30 days after order date) classified by line status into "
    "high- vs low-priority order counts — the conditional-sum pivot "
    "over a fact-to-fact join. Plan: one equi-join shuffle on orderkey "
    "(both sides pre-projected to 3 columns), CASE-sums fold into the "
    "partial agg; the date predicate is NOT pushable (it spans both "
    "sides) and correctly evaluates post-join",
)
def late_lines_priority_class(spark, sf_dir):
    l = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.select("l_orderkey", "l_linestatus", "l_shipdate")
        .join(o.select("o_orderkey", "o_orderdate", "o_orderpriority"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            F.col("l_shipdate").cast("date")
            > F.date_add(F.col("o_orderdate").cast("date"), 30)
        )
        .groupBy(F.col("l_linestatus").alias("linestatus"))
        .agg(
            F.sum(hi.cast("int")).cast("bigint").alias("high_priority_lines"),
            F.sum((~hi).cast("int")).cast("bigint").alias("low_priority_lines"),
        )
    )


# --------------------------------------------------------------------
@spec(
    "promo_revenue_share",
    """
    WITH m AS (
      SELECT strftime(CAST(l.l_shipdate AS DATE), '%Y-%m') AS ship_month,
        CAST(round(sum(CASE WHEN p.p_type = 'PROMO'
              THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,10))
              ELSE CAST(0 AS DECIMAL(28,10)) END), 2) AS DOUBLE) AS promo_revenue,
        CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,10))), 2) AS DOUBLE) AS total_revenue
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1
    )
    SELECT ship_month, promo_revenue, total_revenue,
      CAST(round(100.0 * promo_revenue / total_revenue, 4) AS DOUBLE) AS promo_share_pct
    FROM m
    """,
    "TPC-H Q14 shape: monthly promo-revenue share — conditional decimal "
    "sum over a fact-dim join, ratio taken in ONE IEEE division of the "
    "two already-rounded sums (decimal/decimal division scale rules "
    "differ across engines; double-of-rounded is bit-identical). Plan: "
    "part is a dimension -> broadcast, so the only shuffle is the final "
    "small groupBy on month; both sums share one scan",
)
def promo_revenue_share(spark, sf_dir):
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(28,10)"
    )
    m = (
        l.select("l_partkey", "l_shipdate", "l_extendedprice", "l_discount")
        .join(F.broadcast(p.select("p_partkey", "p_type")),
              F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(
            F.date_format(F.col("l_shipdate").cast("date"), "yyyy-MM").alias(
                "ship_month"
            )
        )
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("p_type") == "PROMO", rev).otherwise(
                        F.lit(0).cast("decimal(28,10)")
                    )
                ),
                2,
            ).cast("double").alias("promo_revenue"),
            F.round(F.sum(rev), 2).cast("double").alias("total_revenue"),
        )
    )
    return m.select(
        "ship_month",
        "promo_revenue",
        "total_revenue",
        F.round(
            100.0 * F.col("promo_revenue") / F.col("total_revenue"), 4
        ).cast("double").alias("promo_share_pct"),
    )


# --------------------------------------------------------------------
@spec(
    "disjunctive_parts_revenue",
    """
    SELECT branch,
      CAST(count(*) AS BIGINT) AS n_lines,
      CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))), 2) AS DOUBLE) AS revenue
    FROM (
      SELECT l.l_extendedprice, l.l_discount,
        CASE WHEN p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
                  AND l.l_quantity BETWEEN 1 AND 20 THEN 'small-brand1'
             WHEN p.p_brand = 'Brand#13' AND p.p_size BETWEEN 10 AND 30
                  AND l.l_quantity BETWEEN 10 AND 40 THEN 'mid-brand13'
             WHEN p.p_type = 'PROMO' AND p.p_size BETWEEN 20 AND 50
                  AND l.l_quantity >= 25 THEN 'bulk-promo'
             ELSE NULL END AS branch
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ) WHERE branch IS NOT NULL
    GROUP BY 1
    """,
    "TPC-H Q19 shape: revenue under an OR-of-ANDs predicate mixing "
    "dimension attributes (brand/type/size) with fact attributes "
    "(quantity), labeled by first-matching branch. The disjunction "
    "cannot be pushed to either scan whole, but Catalyst pushes the "
    "derivable per-side bounds; part broadcasts so the disjunction "
    "evaluates map-side — one partial-agg shuffle of <=3 rows total",
)
def disjunctive_parts_revenue(spark, sf_dir):
    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    q, sz = F.col("l_quantity"), F.col("p_size")
    branch = (
        F.when(
            (F.col("p_brand") == "Brand#1") & sz.between(1, 15)
            & q.between(1, 20), "small-brand1")
        .when(
            (F.col("p_brand") == "Brand#13") & sz.between(10, 30)
            & q.between(10, 40), "mid-brand13")
        .when(
            (F.col("p_type") == "PROMO") & sz.between(20, 50)
            & (q >= 25), "bulk-promo")
    )
    return (
        l.select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
        .join(F.broadcast(p.select("p_partkey", "p_brand", "p_type", "p_size")),
              F.col("p_partkey") == F.col("l_partkey"))
        .withColumn("branch", branch)
        .filter(F.col("branch").isNotNull())
        .groupBy("branch")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(28,10)"
                    )
                ),
                2,
            ).cast("double").alias("revenue"),
        )
    )


# --------------------------------------------------------------------
@spec(
    "idle_rich_customers_by_segment",
    """
    WITH g AS (
      SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS s,
             count(*) AS n
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_mktsegment AS segment,
      CAST(count(*) AS BIGINT) AS n_customers,
      CAST(round(sum(CAST(c.c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_acctbal
    FROM customer c CROSS JOIN g
    WHERE CAST(c.c_acctbal AS DECIMAL(18,2)) * g.n > g.s
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY 1
    """,
    "TPC-H Q22 shape: customers with above-average balance and NO "
    "urgent orders (every fixture customer has SOME order, so the "
    "anti-join side is filtered to keep the result non-degenerate), "
    "grouped by market segment. The above-average predicate is "
    "evaluated as acctbal * n > sum (decimal-exact cross-multiplication "
    "— an avg() of doubles is partition-order-nondeterministic and a "
    "decimal division's scale differs per engine). Plan: the (sum, "
    "count) scalar broadcasts; the existence check is a LEFT ANTI join "
    "shuffled on custkey (orders pre-projected to the key column); one "
    "tiny groupBy on segment",
)
def idle_rich_customers_by_segment(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    bal = F.col("c_acctbal").cast("decimal(18,2)")
    g = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(F.sum(bal).alias("s"), F.count(F.lit(1)).alias("n"))
    )
    return (
        c.crossJoin(F.broadcast(g))
        .filter(bal * F.col("n") > F.col("s"))
        .join(o.filter(F.col("o_orderpriority") == "1-URGENT")
               .select("o_custkey"),
              F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.round(F.sum(bal), 2).cast("double").alias("total_acctbal"),
        )
    )


# --------------------------------------------------------------------
# Product quantization: approximate by construction (per-subspace
# k-means codebooks) — rows-only, like ann_ivf_topk; encode parity,
# ADC==LUT-sum, and recall >= 0.8 are pinned by tests/test_pq.py.
@spec(
    "ann_pq_rerank_topk",
    None,
    "PQ compressed ANN (Jegou et al. 2011): per-subspace k-means "
    "codebooks (m=8, 64 codes -> 8 bytes/vector, 32x smaller than "
    "float32), asymmetric-distance shortlist over the codes, exact "
    "re-rank of the k*oversample survivors. Full vectors are read only "
    "for the shortlist join — the IO shape that makes billion-vector "
    "ANN feasible",
)
def ann_pq_rerank_topk(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    codebooks, cb_df = similarity.pq_train(e, dim=64, m=8, n_codes=64)
    # Arrow-batched encode: the literal-expression variant's
    # 512-aggregate plan spends ~25s in codegen COMPILATION alone at 64
    # codes, and the broadcast-join variant evaluates m*n_codes
    # interpreted folds per vector (30s of the 37.8s r7 sf1 row — the
    # round-8 profiling finding). One BLAS argmin per subspace per
    # Arrow batch is the 100 TB shape: no explode, no shuffle,
    # kilobyte closure. Three-way parity pinned by tests/test_pq.py.
    # Checkpoint the codes so the shortlist's join back onto `enc`
    # doesn't re-run the encode lineage a second time.
    enc = similarity.pq_encode_pandas(e, codebooks).localCheckpoint(
        eager=True
    )
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    out = similarity.pq_topk_rerank(enc, cb_df, q, k=5, oversample=5)
    return out.select(
        "qid", "vec_id", "d2", F.col("rank").cast("long").alias("rank")
    )


# --------------------------------------------------------------------
@spec(
    "ann_ivfpq_topk",
    None,
    "IVF-PQ (the FAISS IndexIVFPQ architecture): coarse k-means routing "
    "+ product-quantized RESIDUALS, per-(query, probed-cluster) ADC "
    "lookup tables, exact re-rank of the shortlist. The billion-vector "
    "layout: probes read nprobe cluster partitions of 8-byte codes; "
    "full vectors only for the shortlist. Recall-vs-nprobe monotonicity "
    "pinned by tests/test_pq.py",
)
def ann_ivfpq_topk(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    enc, cent_df, _, cb_df = similarity.ivfpq_index(
        e, dim=64, n_clusters=8, m=8, n_codes=16
    )
    q = e.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    out = similarity.ivfpq_topk(
        enc, cent_df, cb_df, q, k=5, nprobe=4, oversample=5
    )
    return out.select(
        "qid", "vec_id", "d2", F.col("rank").cast("long").alias("rank")
    )


# --------------------------------------------------------------------
@spec(
    "image_dhash_near_dup",
    f"""
    WITH b AS (
      SELECT doc_id, octet_length(encode(coalesce(text, ''))) AS n,
             {_BYTES_SQL} AS bytes
      FROM documents
    ),
    g AS (
      SELECT doc_id, n, bytes,
             CASE WHEN n = 0 THEN 1 ELSE (n + 15) // 16 END AS h
      FROM b
    ),
    bits AS (
      SELECT doc_id,
        [ CASE WHEN coalesce(bytes[least((i // 8) * h // 8, h - 1) * 16 + least((i % 8 + 1) * 16 // 9, 15) + 1], 0)
                 > coalesce(bytes[least((i // 8) * h // 8, h - 1) * 16 + least((i % 8) * 16 // 9, 15) + 1], 0)
               THEN 1 ELSE 0 END
          for i in range(64) ] AS bt
      FROM g
    ),
    dh AS (
      SELECT doc_id,
        CAST(list_sum([ CASE WHEN bt[i+1] = 1 THEN CAST(1 AS BIGINT) << i ELSE CAST(0 AS BIGINT) END for i in range(63) ])
          + CASE WHEN bt[64] = 1 THEN -9223372036854775808 ELSE 0 END AS BIGINT) AS dhash
      FROM bits
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
    FROM dh a JOIN dh b ON a.doc_id < b.doc_id
    WHERE a.dhash != 0 AND b.dhash != 0
      AND bit_count(xor(a.dhash, b.dhash)) <= 6
    """,
    "Perceptual image near-dup, value-checked end to end: document "
    "bytes render as REAL grayscale PNGs (16 px/row), the stdlib PNG "
    "decoder + 9x8 thumbnail + dHash produce a 64-bit perceptual hash, "
    "and the pigeonhole block join finds all pairs within 6 bits. The "
    "oracle re-derives the hash straight from the bytes and joins the "
    "naive all-pairs spec — a hash match proves the PNG round trip, "
    "the thumbnail sampling, the two's-complement bit packing, AND the "
    "block join's losslessness in one shot. Plan: dHash is one "
    "Arrow-batched pass; candidates are an equi-join on (block, "
    "bucket) — shuffle scales with collisions, never the all-pairs "
    "product the oracle spells out",
)
def image_dhash_near_dup(spark, sf_dir):
    from ..operators import multimodal as MM

    d = load(spark, sf_dir, "documents")
    media = MM.attach_png_payload(d, "doc_id", "text")
    pairs = MM.image_near_dup_pairs(media, max_hamming=6)
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming")
    )


# --------------------------------------------------------------------
@spec(
    "audio_fingerprint_near_dup",
    f"""
    WITH b AS (
      SELECT doc_id AS media_id,
             octet_length(encode(coalesce(text, ''))) AS n_bytes,
             {_BYTES_SQL} AS bytes
      FROM documents
    ),
    s AS (
      SELECT media_id,
             [ CASE WHEN bytes[2*i+1] + 256*bytes[2*i+2] >= 32768
                    THEN bytes[2*i+1] + 256*bytes[2*i+2] - 65536
                    ELSE bytes[2*i+1] + 256*bytes[2*i+2] END
               for i in range(n_bytes // 2) ] AS samples
      FROM b
    ),
    e AS (
      SELECT media_id, len(samples) AS n,
        [ coalesce(list_sum(list_transform(
            samples[j * len(samples) // 65 + 1 : (j + 1) * len(samples) // 65],
            x -> abs(x))), 0)
          for j in range(65) ] AS sums
      FROM s
    ),
    fp AS (
      SELECT media_id,
        CAST(list_sum([ CASE WHEN sums[i+2] > sums[i+1] THEN CAST(1 AS BIGINT) << i ELSE CAST(0 AS BIGINT) END for i in range(63) ])
          + CASE WHEN sums[65] > sums[64] THEN -9223372036854775808 ELSE 0 END AS BIGINT) AS fingerprint
      FROM e
    )
    SELECT a.media_id AS id_a, b.media_id AS id_b,
           CAST(bit_count(xor(a.fingerprint, b.fingerprint)) AS BIGINT) AS hamming
    FROM fp a JOIN fp b ON a.media_id < b.media_id
    WHERE a.fingerprint != 0 AND b.fingerprint != 0
      AND bit_count(xor(a.fingerprint, b.fingerprint)) <= 6
    """,
    "Acoustic near-dup, value-checked end to end: document bytes -> "
    "16-bit PCM WAV -> the RIFF decoder -> 65-bucket loudness-envelope "
    "difference fingerprint (the audio dHash) -> pigeonhole block "
    "join within 6 bits. Third modality on the SAME shared hamming "
    "machinery as SimHash (text) and dHash (image); oracle re-derives "
    "the envelope straight from the bytes and joins the naive "
    "all-pairs spec. Plan: fingerprint is one Arrow-batched pass; "
    "candidate shuffle scales with block collisions",
)
def audio_fingerprint_near_dup(spark, sf_dir):
    from ..operators import audio

    d = load(spark, sf_dir, "documents")
    media = audio.attach_wav_payload(d, "doc_id", "text", sample_rate=8000)
    pairs = audio.audio_near_dup_pairs(media, max_hamming=6)
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming")
    )


# --------------------------------------------------------------------
@spec(
    "video_frame_sample_features",
    f"""
    WITH b AS (
      SELECT doc_id AS media_id, {_BYTES_SQL} AS bytes
      FROM documents
    )
    SELECT media_id,
           CAST(f.frame_idx AS INT) AS frame_idx,
           CAST(f.frame_idx * 1000 AS BIGINT) AS offset_ms,
           CAST(coalesce(list_sum(
             [ coalesce(bytes[f.src * 64 + i + 1], 0) for i in range(64) ]
           ), 0) AS BIGINT) AS pixel_sum
    FROM b CROSS JOIN (VALUES (0, 0), (1, 2)) f(frame_idx, src)
    """,
    "REAL video loop, value-checked end to end: document bytes become "
    "a 4-frame APNG animation (16x4 grayscale frames, 500 ms apart), "
    "the in-container APNG parser samples one frame per second "
    "(source frames 0 and 2), each sampled frame re-encodes as a "
    "standalone PNG and is re-DECODED for its exact integer pixel sum. "
    "The oracle re-derives the same sums from the raw byte slices — a "
    "hash match proves the fcTL/fdAT chunk walk, per-frame zlib "
    "streams, offset arithmetic, and the PNG re-encode round trip in "
    "one shot. Plan: three chained Arrow-batched mapInPandas stages "
    "(build, sample, pixel-sum), zero exchanges",
)
def video_frame_sample_features(spark, sf_dir):
    import pandas as pd

    from ..operators import multimodal as MM

    d = load(spark, sf_dir, "documents")

    def build(batches):
        for pdf in batches:
            payloads = []
            for text in pdf["text"]:
                raw = (text or "").encode("utf-8")
                frames = []
                for i in range(4):
                    fr = raw[i * 64:(i + 1) * 64]
                    frames.append(fr + b"\x00" * (64 - len(fr)))
                payloads.append(MM.encode_apng(frames, 16, 4, 1, delay_ms=500))
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    media = d.selectExpr("doc_id as media_id", "text").mapInPandas(
        build, schema="media_id long, payload binary"
    )
    sampled = MM.frame_sample(media, every_ms=1000)

    def pixel_sums(batches):
        for pdf in batches:
            rows = []
            for mid, idx, off, payload in zip(
                pdf["media_id"], pdf["frame_idx"], pdf["offset_ms"],
                pdf["frame_payload"],
            ):
                _, _, _, px = MM.decode_png(bytes(payload))
                rows.append((mid, int(idx), int(off), sum(px)))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "frame_idx", "offset_ms", "pixel_sum"],
            )

    return sampled.filter(F.col("decode_ok")).mapInPandas(
        pixel_sums,
        schema="media_id long, frame_idx int, offset_ms long, pixel_sum long",
    )


# --------------------------------------------------------------------
@spec(
    "ewma_hourly_forecast",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT min(date_trunc('hour', ts)) AS h0,
             max(date_trunc('hour', ts)) AS h1
      FROM events
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    slots AS (
      SELECT t.event_type, unnest(generate_series(b.h0, b.h1, INTERVAL 1 HOUR)) AS h
      FROM types t CROSS JOIN bounds b
    ),
    j AS (
      SELECT s.event_type, s.h, coalesce(hh.n, 0) AS n
      FROM slots s LEFT JOIN hourly hh
        ON hh.h = s.h AND hh.event_type = s.event_type
    ),
    series AS (
      SELECT event_type,
             list_transform(
               list_sort(list(struct_pack(h := h, n := n))),
               r -> CAST(r.n AS DOUBLE)) AS ys
      FROM j GROUP BY 1
    )
    SELECT event_type,
           CAST(len(ys) AS BIGINT) AS n_hours,
           CAST(ys[len(ys)] AS BIGINT) AS last_n,
           CAST(round(list_reduce(ys, (acc, x) -> 0.3 * x + 0.7 * acc), 6)
                AS DOUBLE) AS ewma_forecast
    FROM series
    """,
    "Exponentially-weighted hourly volume forecast per event type "
    "(alpha = 0.3, seeded with the first observation — the classic "
    "EWMA init): the one-step-ahead baseline every monitoring/"
    "capacity dashboard runs. Determinism note: EWMA is inherently "
    "ORDER-dependent, so it is evaluated as an explicit left-to-right "
    "sequential fold over the zero-filled hourly grid (identical "
    "association both engines) — never as a float aggregate whose "
    "partition order could vary. Plan: one events aggregation pass, "
    "tiny grid join, per-type fold inside codegen; no Python",
)
def ewma_hourly_forecast(spark, sf_dir):
    from .events import dense_hourly_grid

    e = load(spark, sf_dir, "events")
    j = dense_hourly_grid(e).select(
        "event_type", "h", F.coalesce("n", F.lit(0)).alias("n")
    )
    series = j.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("h", "n"))),
            lambda r: r["n"].cast("double"),
        ).alias("ys")
    )
    ys = F.col("ys")
    level = F.aggregate(
        F.slice(ys, 2, F.size(ys) - 1),
        F.element_at(ys, 1),
        lambda acc, x: F.lit(0.3) * x + F.lit(0.7) * acc,
    )
    return series.select(
        "event_type",
        F.size(ys).cast("bigint").alias("n_hours"),
        F.element_at(ys, -1).cast("bigint").alias("last_n"),
        F.round(level, 6).cast("double").alias("ewma_forecast"),
    )


# --------------------------------------------------------------------
@spec(
    "split_leakage_audit",
    f"""
    WITH s AS (
      SELECT doc_id, lang,
        CASE WHEN bucket < 80 THEN 'train'
             WHEN bucket < 90 THEN 'val'
             ELSE 'test' END AS split
      FROM (
        SELECT doc_id, lang,
          CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
        FROM documents
      )
    ),
    w AS (SELECT doc_id, {_WORDS_SQL} AS ws FROM documents),
    g AS (
      SELECT doc_id,
        unnest(list_distinct(list_transform(range(1, len(ws) - 3),
          i -> CAST(('0x' || substr(md5('ngram:' || array_to_string(ws[i:i+4], ' ')), 1, 15)) AS BIGINT)))) AS gram
      FROM w WHERE len(ws) >= 5
    ),
    test_g AS (
      SELECT DISTINCT gram FROM g JOIN s USING (doc_id)
      WHERE s.split = 'test'
    ),
    hits AS (
      SELECT g.doc_id, count(DISTINCT g.gram) AS n_hits
      FROM g JOIN test_g USING (gram) JOIN s USING (doc_id)
      WHERE s.split = 'train'
      GROUP BY 1
    )
    SELECT s.lang,
      CAST(count(*) AS BIGINT) AS n_train_docs,
      CAST(sum(CASE WHEN h.n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_leaky,
      CAST(round(sum(CASE WHEN h.n_hits > 0 THEN 1 ELSE 0 END) * 1.0 / count(*), 4) AS DOUBLE) AS leak_rate
    FROM s LEFT JOIN hits h USING (doc_id)
    WHERE s.split = 'train'
    GROUP BY 1
    """,
    "Split-leakage audit: for the NAIVE per-document 80/10/10 hash "
    "split, the per-language fraction of train documents sharing any "
    "5-gram with a test document — the eval-contamination number that "
    "motivates cluster_disjoint_split (near-duplicates straddle a "
    "per-doc split; this query measures exactly how often). "
    "Composition: the split hash + the decontaminate operator with the "
    "test split as the holdout. Plan: test-split n-grams broadcast; "
    "the train side never shuffles on text — same scan discipline as "
    "decontaminate_vs_holdout",
)
def split_leakage_audit(spark, sf_dir):
    from ..functions import text as TXf
    from ..operators import dedup

    d = load(spark, sf_dir, "documents")
    bucket = F.pmod(
        TXf.stable_hash64(
            F.concat(F.lit("split:"), F.col("doc_id").cast("string"))
        ),
        F.lit(100),
    )
    sp = d.withColumn(
        "split",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"),
    )
    train = sp.filter(F.col("split") == "train")
    test = sp.filter(F.col("split") == "test")
    flags = dedup.decontaminate(train, test, "doc_id", "text", n=5)
    return (
        train.select("doc_id", "lang")
        .join(flags, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_train_docs"),
            F.sum(F.col("contaminated").cast("int")).cast("bigint").alias("n_leaky"),
            F.round(
                F.sum(F.col("contaminated").cast("int")) / F.count(F.lit(1)), 4
            ).cast("double").alias("leak_rate"),
        )
    )


# --------------------------------------------------------------------
@spec(
    "bpe_train_merges",
    None,
    "Distributed BPE tokenizer training (Sennrich et al. 2016): corpus "
    "-> compact (word, freq) table (one explode+groupBy; raw text "
    "never re-shuffles), then each merge round is a pair-count + "
    "take-1 over that table with the winning merge applied as a pure-"
    "expression array fold. Deterministic (freq desc, lexicographic "
    "tie-break) — the merge table matches a from-scratch pure-Python "
    "reference exactly (tests/test_bpe.py). Iterative-by-construction, "
    "hence rows-only",
)
def bpe_train_merges(spark, sf_dir):
    from ..operators import bpe

    d = load(spark, sf_dir, "documents")
    merges = bpe.bpe_train(d, n_merges=30)
    return spark.createDataFrame(
        [(i, a, b, n) for i, (a, b, n) in enumerate(merges)],
        "rank int, left string, right string, pair_freq long",
    )
