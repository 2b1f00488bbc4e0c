"""Round-13 additions: the production hybrid retrieval leg — BM25
fused with the PERSISTED SQ8 ANN serve path (VERDICT r12 item 4) —
and the UniMax plan recovered from the incremental vocab store
(VERDICT r12 item 5; the zipf/PMI store-reuse pattern).

Cross-engine conventions as everywhere in the suite: integer
statistics wherever possible, doubles rounded before ranking/compare,
round-to-DECIMAL-before-SUM for float aggregation, fully
deterministic ORDER BY.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import retrieval, similarity
from . import QuerySpec, load
from .llm import _WORDS_SQL
from .round8 import sq8_cte_body
from .round9 import _index_path, _reuse_lineage, _stamp_lineage
from .round11 import _BM25_QUERIES, _fold_splits
from .round12 import (
    _HYBRID_ANCHORS, _HYBRID_K, _HYBRID_SHORTLIST, _UNIMAX_SQL,
    _hybrid_rrf_lazy, unimax_plan_from_counts,
)

SPECS: list[QuerySpec] = []


def spec(name: str, oracle: str | None, doc: str = ""):
    def deco(fn):
        SPECS.append(QuerySpec(name, fn, oracle, doc))
        return fn

    return deco


# --------------------------------------------------------------------
# Hybrid BM25 ⊕ persisted-SQ8-ANN retrieval. Same seed queries and
# anchor mapping as hybrid_rrf_retrieval (round12), but the dense leg
# serves from a persisted int8 code table — the production shape: at
# 100 TB the index is written once and each query batch pays the
# (4x-narrower) codes scan + integer-dot shortlist + k*oversample
# exact re-rank, never a full-precision corpus scan. SQ8's approximate
# stage is deterministic arithmetic (the round-8 insight), so unlike
# IVF/PQ this hybrid carries a FULL value oracle — strictly stronger
# than the rows-only-plus-companion pattern the other ANN families
# need.
_ANN_OVERSAMPLE = 4


def _hybrid_ann_oracle_sql() -> str:
    """DuckDB twin of ``hybrid_rrf_ann``: the shared BM25 CTE body
    (retrieval.bm25_cte_body — one copy) ranked to top-20, the shared
    SQ8 CTE body (round8.sq8_cte_body — one copy) with the hybrid
    anchors and a 20×4 shortlist ranked to top-20, and the union+sum
    RRF fusion with the round-12 DECIMAL-before-SUM contribution
    convention. CTE names do not collide (toks/tf/dl/dfq/stats/q/
    scored/agg vs s/q8/qq/pairs/short/rr/ranked)."""
    anchors_in = ", ".join(str(v) for v in sorted(_HYBRID_ANCHORS.values()))
    qid_case = "CASE qid " + " ".join(
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
    {sq8_cte_body(f"vec_id IN ({anchors_in})",
                  _HYBRID_SHORTLIST * _ANN_OVERSAMPLE)},
    dense AS (
      SELECT {qid_case} AS query_id, vec_id AS doc_id, rank AS rnk
      FROM ranked WHERE rank <= {_HYBRID_SHORTLIST}
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
    "hybrid_rrf_ann",
    _hybrid_ann_oracle_sql(),
    "the PRODUCTION hybrid retrieval leg (VERDICT r12 item 4): BM25 "
    "top-20 lexical shortlist fused (RRF) with a top-20 dense "
    "shortlist served from a PERSISTED SQ8 index — write once, query "
    "from int8 codes (integer-dot shortlist at 20x4 oversample, "
    "exact cosine re-rank on k*oversample rows only). Fusion is "
    "union+groupBy on |q|x20x2 rows, no join; both legs stay lazy "
    "and the fused frame materializes in ONE job (the r12 "
    "barrier-per-leg lesson). Carries a FULL value oracle — SQ8's "
    "approximate stage is deterministic arithmetic, so the whole "
    "write->read->query->fuse pipeline is SQL-expressible; its "
    "brute-force-exact companion is hybrid_rrf_retrieval (round12)",
)
def hybrid_rrf_ann(spark, sf_dir):
    fused, release = hybrid_rrf_ann_fused_lazy(spark, sf_dir)
    out = fused.localCheckpoint(eager=True)
    release()
    return out


def hybrid_rrf_ann_fused_lazy(spark, sf_dir, persist_postings: bool = True):
    """The composition un-materialized: ``(fused, release)`` — the
    plan-contract test reads this directly (the checkpointed result
    would hide the lineage)."""
    from ..plans.spread import spread_if_narrow

    def sq8_leg(e, anchors):
        path = _index_path("sq8_hybrid")
        if not _reuse_lineage(path, sf_dir, "sq8-hybrid-v1"):
            # quantize at WRITE time (spread first — the r7 coarse-scan
            # lesson applies to the index build exactly as to the
            # in-session pass); queries pay the codes scan only
            similarity.write_sq8_index(spread_if_narrow(e, "vec_id"), path)
            _stamp_lineage(path, sf_dir, "sq8-hybrid-v1")
        return similarity.sq8_topk_rerank_persisted(
            spark, path, e, anchors,
            k=_HYBRID_SHORTLIST, oversample=_ANN_OVERSAMPLE,
        )

    return _hybrid_rrf_lazy(spark, sf_dir, sq8_leg, persist_postings)


# --------------------------------------------------------------------
@spec(
    "unimax_plan_recovered",
    _UNIMAX_SQL,
    "the UniMax plan recovered from the incremental vocab store "
    "(VERDICT r12 item 5): per-language token totals are exactly the "
    "aggregate of the (lang, tok, cnt) rows streaming/vocab_stream's "
    "VocabCountStore already maintains for vocab-overlap screens and "
    "Zipf fits — fold 3 micro-batch splits, sum to (lang, n_l), run "
    "the SHARED closed form (round12.unimax_plan_from_counts). Same "
    "oracle as unimax_epoch_plan because batch ≡ stream is exact "
    "(integer token counts -> identical prefix sums -> identical "
    "thresholds). One store now serves THREE derived statistics "
    "without re-tokenizing the corpus",
)
def unimax_plan_recovered(spark, sf_dir):
    """UniMax's whole-corpus state is the per-language token total —
    recoverable from the (lang, tok, cnt) vocab store by a
    vocabulary-sized aggregate (no new ingest machinery; the zipf/PMI
    store-reuse pattern). Replay idempotence is pinned by the store's
    own tests; this entry witnesses the derived-plan recovery end to
    end against the batch operator's oracle."""
    from ..streaming.vocab_stream import (
        VocabCountStore, batch_vocab_counts, read_vocab_counts,
    )

    store = _fold_splits(
        spark, load(spark, sf_dir, "documents"), "unimax_store",
        VocabCountStore, batch_vocab_counts,
    )
    n = (
        read_vocab_counts(spark, store)
        .groupBy("lang")
        .agg(F.sum("cnt").cast("bigint").alias("n_l"))
    )
    return unimax_plan_from_counts(n)


# --------------------------------------------------------------------
# Margin-based bitext mining (Artetxe & Schwenk 2019 ratio margin —
# the CCMatrix curation op). Probe side: sampled 'de' documents (every
# 2nd id — mining runs in bounded probe batches by design); target
# side: the full 'en' corpus slice. k=4 neighborhoods, top-3 mined
# pairs per probe.
_BITEXT_SRC_LANG = "de"
_BITEXT_TGT_LANG = "en"
_BITEXT_K = 4
_BITEXT_OUT_K = 3


def _bitext_oracle_sql(dim: int = 64) -> str:
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

    return f"""
    WITH probes AS (
      SELECT d.doc_id AS src_id, e.embedding AS se
      FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
      WHERE d.lang = '{_BITEXT_SRC_LANG}' AND d.doc_id % 2 = 0
    ),
    tgt AS (
      SELECT d.doc_id AS tgt_id, e.embedding AS te
      FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
      WHERE d.lang = '{_BITEXT_TGT_LANG}'
    ),
    fpairs AS (
      SELECT p.src_id, t.tgt_id, {cos('t.te', 'p.se')} AS c
      FROM tgt t CROSS JOIN probes p
    ),
    fwd AS (
      SELECT src_id, tgt_id, c,
             row_number() OVER (
               PARTITION BY src_id ORDER BY c DESC, tgt_id ASC
             ) AS rk
      FROM fpairs
    ),
    avg_f AS (
      SELECT src_id,
             floor(CAST(sum(CAST(c AS DECIMAL(10,6))) AS DOUBLE)
                   / count(*) * 1000000.0 + 0.5) / 1000000.0 AS af
      FROM fwd WHERE rk <= {_BITEXT_K} GROUP BY 1
    ),
    cands AS (
      SELECT DISTINCT tgt_id FROM fwd WHERE rk <= {_BITEXT_K}
    ),
    bpairs AS (
      SELECT t.tgt_id, p.src_id, {cos('t.te', 'p.se')} AS bc
      FROM (SELECT tg.* FROM tgt tg JOIN cands USING (tgt_id)) t
      CROSS JOIN probes p
    ),
    bwd AS (
      SELECT tgt_id, bc,
             row_number() OVER (
               PARTITION BY tgt_id ORDER BY bc DESC, src_id ASC
             ) AS rk
      FROM bpairs
    ),
    avg_b AS (
      SELECT tgt_id,
             floor(CAST(sum(CAST(bc AS DECIMAL(10,6))) AS DOUBLE)
                   / count(*) * 1000000.0 + 0.5) / 1000000.0 AS ab
      FROM bwd WHERE rk <= {_BITEXT_K} GROUP BY 1
    ),
    scored AS (
      SELECT f.src_id, f.tgt_id, f.c AS cosine,
             floor(f.c / ((af.af + ab.ab) / 2.0)
                   * 1000000.0 + 0.5) / 1000000.0 AS margin
      FROM fwd f
      JOIN avg_f af USING (src_id)
      JOIN avg_b ab USING (tgt_id)
      WHERE f.rk <= {_BITEXT_K}
    ),
    ranked AS (
      SELECT src_id, tgt_id, cosine, margin,
             row_number() OVER (
               PARTITION BY src_id ORDER BY margin DESC, tgt_id ASC
             ) AS rnk
      FROM scored
    )
    SELECT src_id, tgt_id, cosine, margin, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {_BITEXT_OUT_K}
    ORDER BY src_id, rnk
    """


@spec(
    "margin_bitext_mine",
    _bitext_oracle_sql(),
    "margin-based bitext mining (Artetxe & Schwenk ratio criterion — "
    "the CCMatrix/LASER parallel-corpus curation op, a family the "
    "suite lacked): sampled 'de' probe docs vs the 'en' corpus slice, "
    "k=4 neighborhoods both directions, margin = cos / mean of the "
    "two sides' avg-NN baselines (de-hubs raw cosine), top-3 mined "
    "pairs per probe. Probes broadcast; the target corpus streams "
    "through ONE scan (candidate vectors ride through the two-phase "
    "top-k, so the backward pass never rescans it); every post-scan "
    "frame is |probes| x k. Neighborhood averages sum rounded "
    "cosines as exact DECIMAL / actual count; margins rounded to 6; "
    "all ranks id-tie-broken",
)
def margin_bitext_mine(spark, sf_dir):
    from ..operators.bitext import margin_bitext_mine as mine

    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    e = load(spark, sf_dir, "embeddings")
    de = d.filter(
        (F.col("lang") == _BITEXT_SRC_LANG) & (F.col("doc_id") % 2 == 0)
    )
    probes = e.join(F.broadcast(de), e.vec_id == de.doc_id).select(
        F.col("doc_id").alias("src_id"), F.col("embedding").alias("se")
    )
    en = d.filter(F.col("lang") == _BITEXT_TGT_LANG)
    corpus = e.join(F.broadcast(en), e.vec_id == en.doc_id).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    return mine(
        probes, corpus, k=_BITEXT_K, out_k=_BITEXT_OUT_K
    ).orderBy("src_id", "rnk")
