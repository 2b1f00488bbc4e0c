"""Distributed Okapi BM25 retrieval scoring.

The reference engine has no retrieval operator — this belongs to the
LLM-pipeline extension family (training-data curation needs lexical
retrieval for decontamination probes, hard-negative mining, and
seed-query corpus slicing). Standard Robertson/Walker BM25:

    score(q, d) = sum over t in q of
        idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))
    idf(t) = ln((N - df + 0.5) / (df + 0.5) + 1)      # Lucene form

Scale shape (the plan you'd want at 100 TB):
- ONE tokenize pass over the corpus feeds everything: the (doc, term)
  tf aggregate, the per-doc length table (sum of tf per doc — no
  second text scan), and the df table (rows-per-term of tf).
- The df table is vocabulary-sized and the query-term table is tiny:
  both broadcast. The corpus side never shuffles on raw text.
- Scoring is vocabulary-pruned: only (doc, term) rows whose term
  appears in some query are scored (inner join against the broadcast
  query table), so the shortlist is |matching postings|, not N×|q|.
- The final top-k is a per-query window over the scored shortlist.

Cross-engine determinism: integer tf/dl/df/N keep avgdl = SUM(int)/N
exact; idf and the saturation term are fixed-order IEEE expressions
written identically in the DuckDB oracle; per-term scores are rounded
to 9 decimals and cast to DECIMAL before the per-(query, doc) sum
(order-independent — the suite's round-to-DECIMAL-before-SUM
convention), then the sum is rounded to 6 and ranked with a doc_id
tie-break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as TX


def bm25_top_docs(
    spark: SparkSession,
    docs: DataFrame,
    queries: dict[int, list[str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    checkpoint: bool = True,
) -> DataFrame:
    """Top-``k`` documents per query under BM25.

    ``queries`` maps query_id -> list of (already-normalized) terms.
    Returns (query_id, doc_id, score, rnk) with score rounded to 6
    decimals and rnk a dense 1..k row_number on (score desc, doc_id).
    ``checkpoint=False`` skips BOTH the result materialization and the
    postings persist (plan tests need the full visible lineage, and
    with no materialization barrier there is no reuse to persist for);
    the default eager checkpoint materializes the |q|×k result so the
    postings table can unpersist before returning.

    Composing callers (hybrid fusion) should use
    :func:`bm25_top_docs_deferred` instead: it keeps the leg LAZY so
    the caller can materialize its own downstream result in ONE job —
    the r12 weak-row lesson: an eager per-leg checkpoint inserts a
    materialization barrier per leg, and the barriers (not the plan
    shape) were the hybrid query's 3× overhead.
    """
    result, release = bm25_top_docs_deferred(
        spark, docs, queries, id_col=id_col, text_col=text_col, k=k,
        k1=k1, b=b, persist_postings=checkpoint,
    )
    if not checkpoint:
        return result
    out = result.localCheckpoint(eager=True)
    release()
    return out


def bm25_top_docs_deferred(
    spark: SparkSession,
    docs: DataFrame,
    queries: dict[int, list[str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    persist_postings: bool = True,
):
    """:func:`bm25_top_docs` with caller-owned materialization:
    returns ``(result, release)`` where ``result`` is the un-
    materialized top-k DataFrame and ``release()`` unpersists the
    postings table. The caller materializes whatever FUSED frame it
    builds on top (one job for the whole composition), then calls
    ``release()`` — no leaked cache entry, no per-leg barrier
    (VERDICT r12 item 2)."""
    # hash-spread before the tokenize+explode (the r7 one-file-scan
    # lesson): a compact corpus file otherwise tokenizes on one task.
    # Conditional (r13): when the scan already plans wide the
    # repartition would shuffle the full raw text for nothing.
    from ..plans.spread import spread_if_narrow

    spread = spread_if_narrow(docs, id_col)
    toks = spread.select(
        F.col(id_col).alias("doc_id"),
        F.explode(TX.tokens(F.col(text_col))).alias("term"),
    )
    # tf feeds the length table, the df table, and the scored join —
    # persist so the corpus tokenize+aggregate executes once (at
    # cluster scale this is the checkpointed postings table).
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    if persist_postings:
        tf = tf.persist()
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    # dl is referenced twice (the corpus stats aggregate AND the
    # scoring join) — without its own persist the doc-length groupBy
    # re-aggregates the postings cache per reference (r14, VERDICT r13
    # item 8: one stats pass). At cluster scale this is the
    # checkpointed doc-length side table next to the postings table.
    if persist_postings:
        dl = dl.persist()
    dfq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("tok_total"),
    )

    result = _bm25_ranked(tf, dl, dfq, stats, queries, k, k1, b)

    def release() -> None:
        if persist_postings:
            dl.unpersist()
            tf.unpersist()

    return result, release


def _bm25_ranked(
    tf: DataFrame,
    dl: DataFrame,
    dfq: DataFrame,
    stats: DataFrame,
    queries: dict[int, list[str]],
    k: int,
    k1: float,
    b: float,
) -> DataFrame:
    """The ranked top-``k`` (query_id, doc_id, score, rnk) from postings
    ``tf`` (doc_id, term, tf), lengths ``dl``, document frequencies
    ``dfq`` (term, df) and the one-row ``stats`` (n_docs, tok_total) —
    the batch ≡ stream tail of :func:`bm25_top_docs_deferred` and
    ``bm25_stream.recover_bm25_scores``. Query/df/stats broadcast."""
    qrows = [
        (int(qid), t) for qid, terms in sorted(queries.items()) for t in terms
    ]
    qdf = tf.sparkSession.createDataFrame(qrows, "query_id int, term string")

    scored = (
        tf.join(F.broadcast(qdf), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(dfq), "term")
        .crossJoin(F.broadcast(stats))
    )
    avgdl = F.col("tok_total") / F.col("n_docs")
    idf = F.log(
        (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    sat = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / avgdl)
    )
    # round each term score to 9 and sum as exact DECIMAL — float
    # addition is not associative, so a raw double SUM is partition-
    # order-dependent at a round-half boundary (ADVICE r11)
    per_term = scored.select(
        "query_id", "doc_id",
        F.round(idf * sat, 9).cast("decimal(20,9)").alias("s"),
    )
    agg = per_term.groupBy("query_id", "doc_id").agg(
        F.round(F.sum("s").cast("double"), 6).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        agg.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id", "doc_id", "score",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


def bm25_cte_body(
    queries: dict[int, list[str]],
    words_sql: str,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """The BM25 scoring CTE chain (toks → tf/dl/dfq/stats → scored →
    agg) as a WITH-body fragment — the ONE copy composed oracles
    interpolate (``bm25_oracle_sql`` and the suite's fusion oracles),
    so the score expression cannot drift between them. Terms are
    SQL-escaped (quote doubling) before interpolation into the VALUES
    list (ADVICE r11 — a term containing a quote must not produce a
    malformed oracle). ``agg`` ends the fragment: (query_id, doc_id,
    score) with the round-9-DECIMAL-before-SUM term convention."""
    values = ", ".join(
        f"({int(qid)}, '{t.replace(chr(39), chr(39) * 2)}')"
        for qid, terms in sorted(queries.items())
        for t in terms
    )
    return f"""toks AS (
      SELECT doc_id, unnest({words_sql}) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
    dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    stats AS (SELECT count(*) AS n_docs, sum(dl) AS tok_total FROM dl),
    q(query_id, term) AS (VALUES {values}),
    scored AS (
      SELECT q.query_id, tf.doc_id,
        CAST(round(
          ln((stats.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
          * ((tf.tf * {k1 + 1.0}) / (tf.tf + {k1} * ({1.0 - b} + {b}
              * dl.dl / (stats.tok_total * 1.0 / stats.n_docs)))),
        9) AS DECIMAL(20,9)) AS s
      FROM tf
      JOIN q USING (term)
      JOIN dl USING (doc_id)
      JOIN dfq USING (term)
      CROSS JOIN stats
    ),
    agg AS (
      SELECT query_id, doc_id, round(CAST(sum(s) AS DOUBLE), 6) AS score
      FROM scored GROUP BY 1, 2
    )"""


def bm25_oracle_sql(
    queries: dict[int, list[str]],
    words_sql: str,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """The DuckDB twin of :func:`bm25_top_docs` — same tokenize
    convention (``words_sql``), same fixed-order score expression
    (shared via :func:`bm25_cte_body`)."""
    return f"""
    WITH {bm25_cte_body(queries, words_sql, k1, b)},
    ranked AS (
      SELECT query_id, doc_id, score,
             row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, doc_id ASC
             ) AS rnk
      FROM agg
    )
    SELECT query_id, doc_id, score, rnk FROM ranked WHERE rnk <= {k}
    """


def mmr_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 20,
    lam: float = 0.7,
    materialize: bool = True,
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell/Goldstein) diversified
    top-k over an embedding corpus: retrieve a ``shortlist`` of the
    most-relevant candidates per query, then greedily select ``k`` of
    them maximizing  lam*rel - (1-lam)*max_sim_to_already_selected —
    the standard redundancy-penalized re-rank for retrieval AND for
    diverse training-batch selection (picking examples that are
    relevant but not near-duplicates of each other).

    Scale shape: the corpus is touched exactly TWICE — the broadcast
    cosine shortlist scan and one (id, vec) projection join to attach
    shortlist vectors — and everything after that operates on
    |queries| x shortlist rows: the pairwise-sim table is
    shortlist^2 per query, and each of the k greedy rounds is a
    join+agg over those tiny frames (checkpointed per round to keep
    lineage flat — the BPE per-round discipline; the loop is bounded
    by k, never by corpus size).

    Determinism: rel and pairwise sims are round-6 cosines; the MMR
    score is round(lam*rel - om*maxsim, 7) with both coefficients
    literal and the association order written identically in the
    DuckDB twin (``mmr_oracle_sql``); every argmax tie-breaks on the
    candidate id. Pick 1 scores round(lam*rel, 7) (empty selected set
    -> zero penalty). The 7 matters: 0.7 x a 6-decimal rel is an
    EXACT 7-decimal rational, so rounding at 6 sits ON the half
    boundary whenever the 7th digit is 5 and the engines' rounding
    implementations (BigDecimal shortest-repr HALF_UP vs x*1e6)
    disagree there; rounding at 7 only recovers the exact rational —
    no boundary exists to disagree about.

    Returns (qid, pick 1..k, id, mmr).
    """
    from ..functions import vectors as V
    from .similarity import ID, QID, VEC, cosine_topk, per_query_topk

    om = round(1.0 - lam, 12)
    short = cosine_topk(corpus, queries, k=shortlist).select(
        QID, ID, F.col("cosine").alias("rel")
    )
    if materialize:
        short = short.localCheckpoint(eager=True)

    vecs = corpus.select(F.col(ID), F.col(VEC))
    sv = vecs.join(F.broadcast(short.select(QID, ID)), ID).select(QID, ID, VEC)
    a = sv.select(QID, F.col(ID).alias("a_id"), F.col(VEC).alias("a_vec"))
    b = sv.select(QID, F.col(ID).alias("b_id"), F.col(VEC).alias("b_vec"))
    psim = (
        a.join(b, QID)
        .filter(F.col("a_id") != F.col("b_id"))
        .select(
            QID, "a_id", "b_id",
            V.cosine_rounded_safe(F.col("a_vec"), F.col("b_vec")).alias("sim"),
        )
    )
    if materialize:
        psim = psim.localCheckpoint(eager=True)

    first = (
        per_query_topk(short, QID, [F.desc("rel"), F.asc(ID)], 1)
        .select(
            QID,
            F.col(ID),
            F.round(F.lit(lam) * F.col("rel"), 7).alias("mmr"),
            F.lit(1).alias("pick"),
        )
    )
    selected = first
    if materialize:
        selected = selected.localCheckpoint(eager=True)
    for i in range(2, k + 1):
        cand = short.join(selected.select(QID, ID), [QID, ID], "left_anti")
        sel_ids = selected.select(QID, F.col(ID).alias("b_id"))
        ms = (
            cand.join(psim.withColumnRenamed("a_id", ID), [QID, ID])
            .join(sel_ids, [QID, "b_id"])
            .groupBy(QID, ID, "rel")
            .agg(F.max("sim").alias("maxsim"))
        )
        scored = ms.select(
            QID,
            F.col(ID),
            F.round(
                F.lit(lam) * F.col("rel") - F.lit(om) * F.col("maxsim"), 7
            ).alias("mmr"),
        )
        pick = per_query_topk(scored, QID, [F.desc("mmr"), F.asc(ID)], 1).select(
            QID, ID, "mmr", F.lit(i).alias("pick")
        )
        selected = selected.unionByName(pick)
        if materialize:
            selected = selected.localCheckpoint(eager=True)
    return selected.select(
        QID, F.col("pick").cast("long").alias("pick"), F.col(ID), "mmr"
    )


def mmr_oracle_sql(
    k: int = 5,
    shortlist: int = 20,
    lam: float = 0.7,
    anchors_where: str = "vec_id < 3",
    dim: int = 64,
) -> str:
    """The DuckDB twin of :func:`mmr_topk` over the embeddings table —
    the greedy selection unrolled as k chained CTEs, each picking the
    per-query argmax of the identically-written MMR expression.

    ``anchors_where`` is a deliberate SQL predicate fragment, but it
    is validated against a conservative character set before
    interpolation (ADVICE r11 — no quotes/semicolons/comments can
    reach the generated oracle)."""
    import re

    if not re.fullmatch(r"[A-Za-z0-9_ <>=!%+*/().,-]+", anchors_where):
        raise ValueError(
            f"anchors_where contains characters outside the safe set: "
            f"{anchors_where!r}"
        )
    # the safe set still composes SQL comment openers ('--', '/*'):
    # either would truncate/break the generated oracle (ADVICE r12)
    if "--" in anchors_where or "/*" in anchors_where:
        raise ValueError(
            f"anchors_where must not contain comment sequences: "
            f"{anchors_where!r}"
        )
    om = round(1.0 - lam, 12)
    r = dim + 1

    def cos(a, b):
        return (
            f"CASE WHEN (SELECT sum(CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE)) FROM range(1,{r}) t(i)) = 0"
            f" OR (SELECT sum(CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)) FROM range(1,{r}) t(i)) = 0"
            f" THEN 0.0 ELSE round("
            f"(SELECT sum(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)) FROM range(1,{r}) t(i))"
            f" / (sqrt((SELECT sum(CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE)) FROM range(1,{r}) t(i)))"
            f" * sqrt((SELECT sum(CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)) FROM range(1,{r}) t(i)))), 6) END"
        )

    parts = [f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qe FROM embeddings
      WHERE {anchors_where}
    ),
    rels AS (
      SELECT q.qid, e.vec_id, {cos('e.embedding', 'q.qe')} AS rel
      FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.qid
    ),
    short AS (
      SELECT qid, vec_id, rel FROM (
        SELECT qid, vec_id, rel,
          row_number() OVER (PARTITION BY qid ORDER BY rel DESC, vec_id) AS rn
        FROM rels
      ) WHERE rn <= {shortlist}
    ),
    sv AS (
      SELECT s.qid, s.vec_id, e.embedding
      FROM short s JOIN embeddings e USING (vec_id)
    ),
    psim AS (
      SELECT a.qid, a.vec_id AS a_id, b.vec_id AS b_id,
             {cos('a.embedding', 'b.embedding')} AS sim
      FROM sv a JOIN sv b ON a.qid = b.qid AND a.vec_id != b.vec_id
    ),
    sel1 AS (
      SELECT qid, vec_id, round({lam} * rel, 7) AS mmr, 1 AS pick FROM (
        SELECT qid, vec_id, rel,
          row_number() OVER (PARTITION BY qid ORDER BY rel DESC, vec_id) AS rn
        FROM short
      ) WHERE rn = 1
    ),
    selu1 AS (SELECT * FROM sel1)"""]
    for i in range(2, k + 1):
        parts.append(f""",
    ms{i} AS (
      SELECT c.qid, c.vec_id,
             round({lam} * c.rel - {om} * max(p.sim), 7) AS mmr
      FROM short c
      JOIN psim p ON p.qid = c.qid AND p.a_id = c.vec_id
      JOIN selu{i - 1} s ON s.qid = p.qid AND s.vec_id = p.b_id
      WHERE NOT EXISTS (
        SELECT 1 FROM selu{i - 1} x
        WHERE x.qid = c.qid AND x.vec_id = c.vec_id
      )
      GROUP BY c.qid, c.vec_id, c.rel
    ),
    sel{i} AS (
      SELECT qid, vec_id, mmr, {i} AS pick FROM (
        SELECT qid, vec_id, mmr,
          row_number() OVER (PARTITION BY qid ORDER BY mmr DESC, vec_id) AS rn
        FROM ms{i}
      ) WHERE rn = 1
    ),
    selu{i} AS (SELECT * FROM selu{i - 1} UNION ALL SELECT * FROM sel{i})""")
    parts.append(f"""
    SELECT qid, CAST(pick AS BIGINT) AS pick, vec_id, mmr
    FROM selu{k}
    """)
    return "".join(parts)


def rrf_fuse(
    legs: list[DataFrame],
    query_col: str,
    id_col: str,
    rank_col: str = "rnk",
    k: int = 5,
    c: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of N ranked candidate lists (the
    standard hybrid-retrieval combiner, Cormack/Clarke/Buettcher):
    rrf(d) = sum over legs containing d of 1/(c + rank_leg(d)).

    Implemented as union + groupBy — NOT an N-way full-outer join: a
    candidate present in only some legs simply contributes fewer
    terms, the shape extends to any number of legs, and the fusion is
    a single tiny exchange over sum(|leg|) rows (each leg is a
    per-query top-k shortlist, so the whole fusion input is
    |queries| x k x n_legs — corpus cost lives in the legs, never
    here). No join means nothing to broadcast or sort-merge.

    Determinism: each contribution 1/(c + rank) is rounded to 12 and
    summed as exact DECIMAL (order-independent across legs — the
    suite's round-to-DECIMAL-before-SUM convention), then the fused
    score is rounded to 9; ranking is on the rounded score with an id
    tie-break.

    Returns (query_col, id_col, rrf, rnk) with rrf rounded to 9 and
    rnk 1..k.
    """
    if not legs:
        raise ValueError("rrf_fuse requires at least one leg")
    contribs = None
    for leg in legs:
        part = leg.select(
            F.col(query_col),
            F.col(id_col),
            F.round(F.lit(1.0) / (F.lit(c) + F.col(rank_col)), 12)
            .cast("decimal(14,12)")
            .alias("_contrib"),
        )
        contribs = part if contribs is None else contribs.unionByName(part)
    fused = contribs.groupBy(query_col, id_col).agg(
        F.round(F.sum("_contrib").cast("double"), 9).alias("rrf")
    )
    # a bare per-query window (NOT the two-phase per_query_topk): the
    # fusion input is bounded at |queries| x k x n_legs rows BY
    # CONSTRUCTION (each leg is a top-k shortlist), so the local-topk
    # pre-prune would only add an exchange to a frame that can never
    # be corpus-sized
    w = Window.partitionBy(query_col).orderBy(F.desc("rrf"), F.asc(id_col))
    return (
        fused.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            query_col, id_col, "rrf", F.col("rnk").cast("long").alias("rnk")
        )
    )
