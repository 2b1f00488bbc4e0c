"""Margin-based bitext mining (Artetxe & Schwenk, ACL 2019; the
CCMatrix/LASER curation op): mine candidate parallel sentence/document
pairs across two languages by the RATIO margin criterion

    margin(x, y) = cos(x, y) / ((avgNN_k(x→B) + avgNN_k(y→A)) / 2)

— raw cosine over-retrieves hubs (vectors close to everything);
normalizing by both sides' average k-NN similarity ranks pairs by how
much CLOSER they are than each side's neighborhood baseline. This is
the multilingual-pretraining curation family the suite lacked:
translation-pair mining for bitext corpora and cross-lingual
decontamination probes.

The reference engine has no analogous operator — LLM-pipeline
extension family (like operators/retrieval.py).

Scale shape (the plan you'd want at 100 TB):
- The probe side A is BOUNDED (a sampled slice of the source-language
  corpus — mining runs in probe batches, the hard_negative_mining
  discipline) and broadcast; the target-language corpus B streams
  through ONE scan scoring |B| × |A| cosines map-side with no corpus
  shuffle, pruned by the two-phase ``per_query_topk``.
- Everything after the forward pass runs on |A| × k frames: the
  backward neighborhood of each candidate is computed against the
  SAME bounded probe set (documented deviation from the paper's
  full-corpus backward pass — exact for the mined batch, and the
  batch union covers the corpus), so the margin arithmetic never
  touches B again.
- At cluster scale the forward leg swaps to the persisted ANN serve
  path (same two-phase shape; see similarity.sq8_topk_rerank_persisted)
  — the margin math is identical on an approximate shortlist.

Cross-engine determinism: cosines rounded to 6 before every
comparison; neighborhood averages sum the rounded cosines as exact
DECIMAL then divide by the actual neighbor count; the margin is one
double division of already-rounded terms, rounded to 6; all ranks
break ties on ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import vectors as V
from ..functions.stats import portable_round
from .similarity import DIGITS, ID, PROBE_ID, PROBE_VEC, VEC, per_query_topk


def margin_bitext_mine(
    probes: DataFrame,
    corpus: DataFrame,
    k: int = 4,
    out_k: int = 3,
) -> DataFrame:
    """Mine up to ``out_k`` target candidates per probe, ranked by the
    ratio-margin over each side's ``k``-NN baseline.

    ``probes``: bounded (src_id, se) frame — broadcast.
    ``corpus``: (vec_id, embedding) target-language frame — streamed.
    Returns (src_id, tgt_id, cosine, margin, rnk).
    """
    from ..plans.spread import spread_if_narrow

    corpus = spread_if_narrow(corpus, ID)
    # per-row norm hoist (r14; bit-identical — see V.cosine_hoisted):
    # each side's norm folds once per ROW instead of (twice) per PAIR,
    # and both quadratic passes below are pure pair stages
    probes = probes.withColumn("_pnrm", V.norm(F.col(PROBE_VEC)))
    corpus = corpus.withColumn("_cnrm", V.norm(F.col(VEC)))
    # forward pass: the ONLY corpus-sized stage — |B| x |A| map-side
    # cosines, two-phase top-k prune
    fwd_scored = (
        corpus.crossJoin(F.broadcast(probes))
        .select(
            F.col(PROBE_ID),
            F.col(ID).alias("tgt_id"),
            # the candidate vector rides through the top-k so the
            # backward pass never rescans B: the local phase prunes to
            # k rows per (probe, partition) BEFORE the exchange, so
            # the carried payload is k x partitions x |A| vectors
            F.col(VEC).alias("_tv"),
            V.cosine_hoisted(
                F.col(VEC), F.col(PROBE_VEC), F.col("_cnrm"), F.col("_pnrm")
            ).alias("cosine"),
        )
    )
    # materialize the forward shortlist ONCE: it is referenced three
    # times below (probe baseline, candidate set, margin join) and is
    # |A| x k rows — without the checkpoint each reference would
    # re-execute the whole corpus pass (3 scans of B at 100 TB). The
    # one barrier on a bounded frame is the MMR/BPE discipline.
    fwd = per_query_topk(
        fwd_scored, PROBE_ID, [F.desc("cosine"), F.asc("tgt_id")], k
    ).localCheckpoint(eager=True)
    # each probe's neighborhood baseline: avg of its k rounded NN
    # cosines (DECIMAL sum / actual count — exact, order-independent)
    avg_f = fwd.groupBy(PROBE_ID).agg(
        portable_round(
            F.sum(F.col("cosine").cast("decimal(10,6)")).cast("double")
            / F.count(F.lit(1)),
            DIGITS,
        ).alias("af")
    )
    # backward pass: candidates x probes — both bounded (<=|A|*k and
    # |A| rows); candidate vectors were carried through the forward
    # top-k, so B is never rescanned
    # spread the candidate frame before the crossJoin: dropDuplicates
    # leaves it on a handful of post-AQE partitions (it is tiny), but
    # the crossJoin multiplies each row |A|-fold — the cosine work
    # serializes on those few tasks unless the rows are spread first.
    # Values are partition-independent (rounded cosines, total-order
    # ranks), the spread module's precondition.
    from ..plans.spread import pinned_width

    par = pinned_width(fwd.sparkSession)
    cand_vecs = (
        fwd.select("tgt_id", "_tv")
        .dropDuplicates(["tgt_id"])
        .repartition(par, "tgt_id")
        # candidate norm hoisted once per DISTINCT candidate (same
        # fold expression as the forward pass — identical double)
        .withColumn("_tnrm", V.norm(F.col("_tv")))
    )
    bwd_scored = cand_vecs.crossJoin(F.broadcast(probes)).select(
        "tgt_id",
        F.col(PROBE_ID),
        V.cosine_hoisted(
            F.col("_tv"), F.col(PROBE_VEC), F.col("_tnrm"), F.col("_pnrm")
        ).alias("bcos"),
    )
    bwd = per_query_topk(
        bwd_scored, "tgt_id", [F.desc("bcos"), F.asc(PROBE_ID)], k,
        rank_col="brank",
    )
    avg_b = bwd.groupBy("tgt_id").agg(
        portable_round(
            F.sum(F.col("bcos").cast("decimal(10,6)")).cast("double")
            / F.count(F.lit(1)),
            DIGITS,
        ).alias("ab")
    )
    # margin over the forward shortlist only (|A| x k rows)
    scored = (
        fwd.join(F.broadcast(avg_f), PROBE_ID)
        .join(F.broadcast(avg_b), "tgt_id")
        .select(
            PROBE_ID,
            "tgt_id",
            "cosine",
            # portable half-up: a rounded RATIO crosses the oracle
            # gate (functions/stats.portable_round doctrine)
            portable_round(
                F.col("cosine") / ((F.col("af") + F.col("ab")) / F.lit(2.0)),
                DIGITS,
            ).alias("margin"),
        )
    )
    from pyspark.sql import Window

    # bare window is correct here: the frame is |A| x k BY CONSTRUCTION
    w = Window.partitionBy(PROBE_ID).orderBy(
        F.desc("margin"), F.asc("tgt_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= out_k)
        .select(
            F.col(PROBE_ID),
            "tgt_id",
            "cosine",
            "margin",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )
