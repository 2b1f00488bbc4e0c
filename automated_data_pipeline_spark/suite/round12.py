"""Round-12 additions: hybrid dense+lexical retrieval (BM25 ⊕ cosine
fused with reciprocal-rank fusion — the production retrieval shape)
and the PMI streaming twin recovered from the Kneser-Ney bigram store
(one incremental store, two derived statistics).

Cross-engine conventions as everywhere in the suite: md5-derived
``stable_hash64``, integer statistics wherever possible, per-term
doubles rounded to a fixed scale and summed as exact DECIMAL, doubles
rounded before ranking/compare, fully deterministic ORDER BY.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import retrieval, similarity
from . import QuerySpec, load
from .llm import _WORDS_SQL
from .round11 import (
    _BM25_QUERIES, _PMI_SQL, _fold_splits, pmi_topk_from_pair_counts,
)

SPECS: list[QuerySpec] = []


def spec(name: str, oracle: str | None, doc: str = ""):
    def deco(fn):
        SPECS.append(QuerySpec(name, fn, oracle, doc))
        return fn

    return deco


# --------------------------------------------------------------------
# Hybrid retrieval: each BM25 seed query gets a dense anchor vector —
# the embedding of vec_id = 10 * query_id (document embeddings share
# the doc_id id space, so fusion keys align). Both legs retrieve a
# top-20 shortlist; RRF fuses them.
_HYBRID_SHORTLIST = 20
_HYBRID_K = 5
_HYBRID_ANCHORS = {1: 10, 2: 20, 3: 30}


def _hybrid_oracle_sql() -> str:
    """DuckDB twin of ``hybrid_rrf_retrieval``: the shared BM25 CTE
    body (one copy — retrieval.bm25_cte_body) ranked to top-20, a
    brute cosine leg over the same anchors (the _COSINE_SQL zero-norm
    guard and round-6 convention), and the union+sum RRF fusion with
    the round-12-DECIMAL-before-SUM contribution convention."""
    anchors_in = ", ".join(str(v) for v in sorted(_HYBRID_ANCHORS.values()))
    qid_case = "CASE q.avid " + " ".join(
        f"WHEN {v} THEN {k}" for k, v in sorted(_HYBRID_ANCHORS.items())
    ) + " END"
    return f"""
    WITH {retrieval.bm25_cte_body(_BM25_QUERIES, _WORDS_SQL)},
    bm AS (
      SELECT query_id, doc_id, rnk FROM (
        SELECT query_id, doc_id,
               row_number() OVER (
                 PARTITION BY query_id ORDER BY score DESC, doc_id ASC
               ) AS rnk
        FROM agg
      ) WHERE rnk <= {_HYBRID_SHORTLIST}
    ),
    anchors AS (
      SELECT vec_id AS avid, embedding AS qe FROM embeddings
      WHERE vec_id IN ({anchors_in})
    ),
    dpairs AS (
      SELECT {qid_case} AS query_id, e.vec_id,
        CASE WHEN (SELECT sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) FROM range(1,65) t(i)) = 0
               OR (SELECT sum(CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) FROM range(1,65) t(i)) = 0
        THEN 0.0 ELSE round(
          (SELECT sum(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) FROM range(1,65) t(i))
          / (sqrt((SELECT sum(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)) FROM range(1,65) t(i)))
           * sqrt((SELECT sum(CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)) FROM range(1,65) t(i)))), 6) END AS cosine
      FROM embeddings e CROSS JOIN anchors q
      WHERE e.vec_id != q.avid
    ),
    dense AS (
      SELECT query_id, vec_id AS doc_id, rnk FROM (
        SELECT query_id, vec_id,
               row_number() OVER (
                 PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC
               ) AS rnk
        FROM dpairs
      ) WHERE rnk <= {_HYBRID_SHORTLIST}
    ),
    contrib AS (
      SELECT query_id, doc_id,
             CAST(round(1.0 / (60 + rnk), 12) AS DECIMAL(14,12)) AS c
      FROM bm
      UNION ALL
      SELECT query_id, doc_id,
             CAST(round(1.0 / (60 + rnk), 12) AS DECIMAL(14,12)) AS c
      FROM dense
    ),
    fused AS (
      SELECT query_id, doc_id,
             round(CAST(sum(c) AS DOUBLE), 9) AS rrf
      FROM contrib GROUP BY 1, 2
    ),
    franked AS (
      SELECT query_id, doc_id, rrf,
             row_number() OVER (
               PARTITION BY query_id ORDER BY rrf DESC, doc_id ASC
             ) AS rnk
      FROM fused
    )
    SELECT query_id, doc_id, rrf, CAST(rnk AS BIGINT) AS rnk
    FROM franked WHERE rnk <= {_HYBRID_K}
    """


@spec(
    "hybrid_rrf_retrieval",
    _hybrid_oracle_sql(),
    "hybrid dense+lexical retrieval (VERDICT r11 item 6 — the "
    "production retrieval shape): per query, a BM25 top-20 lexical "
    "shortlist over documents and a brute-cosine top-20 dense "
    "shortlist over the aligned document embeddings (anchor vector = "
    "embedding of vec_id 10*query_id), fused by reciprocal-rank "
    "fusion rrf = sum 1/(60+rank) over the legs containing the doc. "
    "Fusion is union+groupBy over |q| x 20 x 2 rows — no join at all "
    "(nothing to broadcast or sort-merge); each 1/(60+rank) "
    "contribution is rounded to 12 and summed as exact DECIMAL. "
    "Corpus cost lives entirely in the two legs, both already "
    "scale-shaped (one tokenize pass + broadcast df/query tables; "
    "broadcast anchors, two-phase top-k)",
)
def hybrid_rrf_retrieval(spark, sf_dir):
    fused, release_postings = hybrid_rrf_fused_lazy(spark, sf_dir)
    out = fused.localCheckpoint(eager=True)  # ONE job: legs + fusion
    release_postings()  # no leaked cache entry (VERDICT r12 item 2)
    return out


def hybrid_rrf_fused_lazy(spark, sf_dir, persist_postings: bool = True):
    """The full hybrid composition UN-materialized: ``(fused,
    release)``. ``hybrid_rrf_retrieval`` checkpoints it in one job
    (r12 weak row: the per-leg eager checkpoint was a materialization
    barrier per leg costing ~3× at sf1); the plan-contract test reads
    this lazy frame directly so the lineage pin stays non-vacuous."""
    return _hybrid_rrf_lazy(
        spark, sf_dir,
        lambda e, anchors: similarity.cosine_topk(e, anchors, k=_HYBRID_SHORTLIST),
        persist_postings,
    )


def _hybrid_rrf_lazy(spark, sf_dir, dense_leg, persist_postings: bool = True):
    """The hybrid retrieval composition both hybrid queries share, lazy:
    the BM25 top-20 leg, the anchor vectors, ``dense_leg(embeddings,
    anchors)`` — a (qid, vec_id, rank) top-20 per anchor — mapped back
    to query ids, and the RRF fusion. Returns ``(fused, release)``;
    the BM25 leg runs its eager steps before the dense leg is built."""
    docs = load(spark, sf_dir, "documents")
    bm_full, release_postings = retrieval.bm25_top_docs_deferred(
        spark, docs, _BM25_QUERIES, k=_HYBRID_SHORTLIST,
        persist_postings=persist_postings,
    )
    bm = bm_full.select("query_id", "doc_id", "rnk")

    e = load(spark, sf_dir, "embeddings")
    anchor_ids = sorted(_HYBRID_ANCHORS.values())
    anchors = e.filter(F.col("vec_id").isin(anchor_ids)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    mapping = F.create_map(
        *[F.lit(x) for kv in sorted(_HYBRID_ANCHORS.items())
          for x in (kv[1], kv[0])]
    )
    dense = dense_leg(e, anchors).select(
        mapping[F.col("qid")].alias("query_id"),
        F.col("vec_id").alias("doc_id"),
        F.col("rank").alias("rnk"),
    )
    fused = retrieval.rrf_fuse(
        [bm, dense], "query_id", "doc_id", k=_HYBRID_K
    )
    return fused, release_postings


# --------------------------------------------------------------------
@spec(
    "pmi_collocations_recovered",
    _PMI_SQL,
    "the PMI streaming twin witnessed end to end (VERDICT r11 item "
    "7): the Kneser-Ney BigramStore — the SAME (doc, w1, w2, c) "
    "integer state the KN fluency twin maintains — folded over 3 "
    "micro-batch splits, then the top-50 collocations recovered from "
    "the merged pair counts through the SHARED scoring path "
    "(round11.pmi_topk_from_pair_counts). Same oracle as "
    "pmi_collocations_topk because batch ≡ stream is exact (integer "
    "pair counts -> identical marginals -> identical round-6 pmi). "
    "One store, two derived statistics: LM fluency AND collocation "
    "mining, without re-tokenizing the corpus",
)
def pmi_collocations_recovered(spark, sf_dir):
    """PMI's whole-corpus state is the (w1, w2, count) bigram-type
    table — exactly the aggregate of the per-document occurrence rows
    ``streaming/kn_stream.BigramStore`` already maintains for the KN
    estimator, so collocation mining recovers from that store with no
    new ingest machinery. Replay idempotence is pinned by the store's
    own tests; this entry witnesses the derived-statistic recovery
    end to end against the batch operator's oracle."""
    from ..streaming.kn_stream import BigramStore, batch_bigrams

    store = _fold_splits(
        spark, load(spark, sf_dir, "documents"), "pmi_store",
        BigramStore, batch_bigrams,
    )
    c12 = (
        store.read(spark)
        .groupBy("w1", "w2")
        .agg(F.sum("c").cast("bigint").alias("c12"))
    )
    return pmi_topk_from_pair_counts(c12)


# --------------------------------------------------------------------
# UniMax epoch planning (Chung et al. 2023): distribute a total token
# budget across languages as uniformly as possible subject to a
# per-language epoch cap — the fairer alternative to temperature
# sampling for multilingual pretraining mixes. Greedy from the
# lowest-resource language up; once one language is left uncapped,
# every remaining language receives the identical uniform share, so
# the plan has a closed form over the cap-ascending prefix sums:
# k* = (first index whose cap exceeds its uniform share) - 1; langs
# <= k* train their full cap, the rest split the leftover evenly.
_UNIMAX_EPOCH_CAP = 3
_UNIMAX_BUDGET_X = 2  # budget = 2x the corpus token count

_UNIMAX_SQL = f"""
    WITH w AS (SELECT lang, len({_WORDS_SQL}) AS ntok FROM documents),
    n AS (SELECT lang, CAST(sum(ntok) AS BIGINT) AS n_l FROM w GROUP BY 1),
    caps AS (
      SELECT lang, n_l, {_UNIMAX_EPOCH_CAP} * n_l AS cap,
        row_number() OVER (ORDER BY {_UNIMAX_EPOCH_CAP} * n_l, lang) AS i,
        sum({_UNIMAX_EPOCH_CAP} * n_l) OVER (
          ORDER BY {_UNIMAX_EPOCH_CAP} * n_l, lang ROWS UNBOUNDED PRECEDING
        ) AS s,
        count(*) OVER () AS l,
        {_UNIMAX_BUDGET_X} * sum(n_l) OVER () AS b
      FROM n
    ),
    viol AS (
      SELECT min(i) AS first_bad FROM caps
      WHERE cap * (l - i + 1) > b - (s - cap)
    ),
    k AS (
      SELECT coalesce(first_bad - 1, (SELECT max(i) FROM caps)) AS kstar
      FROM viol
    ),
    skk AS (
      SELECT kstar,
        coalesce((SELECT s FROM caps WHERE i = k.kstar), 0) AS s_k
      FROM k
    )
    SELECT c.lang, c.n_l AS tokens,
      CASE WHEN c.i <= s2.kstar THEN CAST(c.cap AS DOUBLE)
           ELSE round((c.b - s2.s_k) / CAST(c.l - s2.kstar AS DOUBLE), 4)
      END AS alloc_tokens,
      round(
        CASE WHEN c.i <= s2.kstar THEN CAST(c.cap AS DOUBLE)
             ELSE round((c.b - s2.s_k) / CAST(c.l - s2.kstar AS DOUBLE), 4)
        END / c.n_l, 4) AS epochs
    FROM caps c CROSS JOIN skk s2
    ORDER BY c.lang
    """


@spec(
    "unimax_epoch_plan",
    _UNIMAX_SQL,
    "UniMax budget allocation (epoch cap 3, budget 2x corpus tokens): "
    "the closed-form plan — cap-ascending prefix sums find the "
    "threshold k* where the uniform share overtakes the cap; langs "
    "below it train their full cap, the rest split the remainder "
    "evenly. All threshold arithmetic is exact integers (token "
    "counts x small constants); only the final share division is "
    "double, written identically in both engines. Corpus cost is one "
    "tokenize + per-lang count; every window after that runs on the "
    "|langs|-row plan frame (bounded by the domain vocabulary, never "
    "corpus-sized — the single-partition window is over <=|langs| "
    "rows by construction)",
)
def unimax_epoch_plan(spark, sf_dir):
    from ..functions import text as TX

    d = load(spark, sf_dir, "documents")
    # hash-spread before tokenize (one-file-scan lesson; conditional
    # since r13 — no shuffle when the scan already plans wide)
    from ..plans.spread import spread_if_narrow

    d = spread_if_narrow(d, "doc_id")
    n = (
        d.select("lang", F.size(TX.tokens(F.col("text"))).alias("ntok"))
        .groupBy("lang")
        .agg(F.sum("ntok").cast("bigint").alias("n_l"))
    )
    return unimax_plan_from_counts(n)


def unimax_plan_from_counts(n):
    """The UniMax closed form over a (lang, n_l) per-language token
    total frame — the SHARED scoring path: ``unimax_epoch_plan``
    feeds it the batch tokenize+count, ``unimax_plan_recovered``
    (round13) the totals recovered from the incremental vocab store.
    Everything here runs on |langs|-row frames by construction."""
    from pyspark.sql import Window

    cap = F.lit(_UNIMAX_EPOCH_CAP) * F.col("n_l")
    w_ord = Window.orderBy(cap, F.col("lang"))
    w_all = Window.partitionBy()
    caps = n.select(
        "lang", "n_l", cap.alias("cap"),
        F.row_number().over(w_ord).alias("i"),
        F.sum(cap).over(
            w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("s"),
        F.count(F.lit(1)).over(w_all).alias("l"),
        (F.lit(_UNIMAX_BUDGET_X) * F.sum("n_l").over(w_all)).alias("b"),
    )
    caps = caps.localCheckpoint(eager=True)  # |langs| rows; reused 3x
    viol = caps.filter(
        F.col("cap") * (F.col("l") - F.col("i") + 1)
        > F.col("b") - (F.col("s") - F.col("cap"))
    ).agg(F.min("i").alias("first_bad"))
    lmax = caps.agg(F.max("i").alias("lmax"))
    k = viol.crossJoin(lmax).select(
        F.coalesce(F.col("first_bad") - 1, F.col("lmax")).alias("kstar")
    )
    s_at_k = (
        caps.join(k, F.col("i") == F.col("kstar"), "right")
        .select(
            "kstar", F.coalesce(F.col("s"), F.lit(0)).alias("s_k")
        )
    )
    alloc = F.when(
        F.col("i") <= F.col("kstar"), F.col("cap").cast("double")
    ).otherwise(
        F.round(
            (F.col("b") - F.col("s_k"))
            / (F.col("l") - F.col("kstar")).cast("double"),
            4,
        )
    )
    return (
        caps.crossJoin(F.broadcast(s_at_k))
        .select(
            "lang",
            F.col("n_l").alias("tokens"),
            alloc.alias("alloc_tokens"),
            F.round(alloc / F.col("n_l"), 4).alias("epochs"),
        )
        .orderBy("lang")
    )
