"""Guards on the driver contract: suite size, gate-window composition,
and the queries()/oracle_sql() pairing. The driver's correctness gate
runs exactly the FIRST 50 ``queries()`` entries in a vanilla session —
a spec added in the wrong place silently evicts a curated window entry,
which round 2 paid for. These assertions make that a loud failure."""

from __future__ import annotations

import json
import os

from automated_data_pipeline_spark.suite import (
    AWAITING_FIRST_WITNESS, GATE_WINDOW, all_specs,
)

DOCUMENTED_TOTAL = 180
DOCUMENTED_WITH_ORACLE = 175

# The 28 oracle queries that had no driver CORRECTNESS row in rounds
# 1-3 and were rotated into the round-4 window (VERDICT r3 item 2).
ROTATED_IN_R4 = frozenset({
    "synthetic_orders_category_agg", "shipping_priority_top10",
    "returned_revenue_by_customer", "small_quantity_parts_revenue",
    "suppliers_high_volume_semi", "revenue_rollup_region_nation",
    "cube_status_priority", "pivot_priority_counts",
    "price_percentiles_by_priority", "segments_intersect",
    "segments_except", "distinct_users_per_type",
    "customer_order_histogram", "nation_pair_volume",
    "gap_fill_hourly_locf", "mixture_sample_by_lang",
    "pack_sequences_128", "decontaminate_vs_holdout",
    "minhash_containment_pairs", "tfidf_top_terms_per_doc",
    "embedding_int8_quantize", "dedup_keep_best_quality",
    "dedup_jaccard_blocked_lang", "chargram_min_fingerprint",
    "top_terms_en", "scd2_status_history", "salted_hot_key_agg",
    "salted_join_priority_revenue",
})

# The last 3 oracle queries with no driver row after round 4 (VERDICT
# r4 item 2): embedding_near_dup_lsh failed in r1 and was never
# re-gated; the other two were added after the r4 rotation froze.
ROTATED_IN_R5 = frozenset({
    "embedding_near_dup_lsh", "ewma_hourly_forecast",
    "split_leakage_audit",
})

# Displaced in r5; each is driver-green in CORRECTNESS_r04 and its
# family keeps a window representative (see suite/__init__.py comment).
ROTATED_OUT_R5 = frozenset({
    "segments_except", "ts_pattern_match", "length_vocab_correlation",
})

# Oracle-backed queries ADDED in round 5 (no driver row yet, by
# construction; they queue for the r6 rotation).
ADDED_IN_R5 = frozenset({
    "regional_cheapest_supplier", "waiting_orders_suppliers",
    "important_parts_by_nation", "rolling_daily_zscore",
    "hourly_heavy_hitters", "quality_decile_report",
    "token_budget_prefix", "top_bigrams_per_lang",
    # second wave: sketches, span dedup, fuzzy entity matching
    "kmv_distinct_user_days", "hll_distinct_user_days",
    "cms_heavy_users", "dup_span_detect", "fuzzy_supplier_match",
    "hll_rollup_user_days", "kmv_overlap_types",
    # late wave: five more canonical TPC-H shapes
    "promo_discount_revenue_band", "nation_market_share",
    "top_supplier_by_quarter", "large_volume_orders",
    "order_priority_late_check", "temporal_cv_folds",
    "bloom_decontaminate",
})


# Oracle-backed queries ADDED in round 6: companion queries giving the
# 5 rows-only operators driver-visible value evidence (suite/round6.py).
# Unlike prior rounds' additions they do NOT queue: VERDICT r5 item 4
# asks for them "gated in r6's window", so they rotate in immediately.
ADDED_IN_R6 = frozenset({
    "ann_ivf_exact_full_probe", "ann_pq_exact_rerank",
    "ann_ivfpq_exact_full", "bpe_top_pairs", "approx_agg_accuracy",
})

# The round-6 window = ADDED_IN_R5 (22, the only driver-unwitnessed
# oracle queries after r5) + ADDED_IN_R6 (5) + run_number_backfill
# (r1-r4 green but rewritten in r6 — new plan, fresh witness) + 22
# r5-green family representatives.
ROTATED_IN_R6 = ADDED_IN_R5 | ADDED_IN_R6 | {"run_number_backfill"}

# Displaced in r6; each is driver-green in CORRECTNESS_r05 and its
# family keeps a window representative (see suite/__init__.py comment).
ROTATED_OUT_R6 = frozenset({
    "small_quantity_parts_revenue", "suppliers_high_volume_semi",
    "cube_status_priority", "price_percentiles_by_priority",
    "distinct_users_per_type", "nation_pair_volume",
    "tfidf_top_terms_per_doc", "embedding_int8_quantize",
    "dedup_keep_best_quality", "chargram_min_fingerprint",
    "top_terms_en", "salted_join_priority_revenue",
    "audio_feature_extract", "audio_fingerprint_near_dup",
    "image_dhash_near_dup", "video_frame_sample_features",
    "late_lines_priority_class", "promo_revenue_share",
    "disjunctive_parts_revenue", "idle_rich_customers_by_segment",
    "source_mix_report", "label_centroids", "lm_bigram_fluency",
    "semdedup_prune", "gopher_repetition",
    "cross_doc_ngram_repetition", "nearest_centroid_assign",
    "vocab_coverage",
})

# Round-7 rotation (VERDICT r6 items 2+9): first-witness coverage
# completed in r6, so the window now re-witnesses oldest-first,
# generated by `tools/witness_audit.py --rotation 7 54`: all 54
# queries whose freshest driver-green row is r1-r3, minus 5 deferred
# names whose machinery twin stays in the window (they head the r8
# rotation), plus approx_agg_accuracy kept as the sketch-family
# representative.
DEFERRED_TO_R8 = frozenset({
    "customers_without_orders_anti",  # semi twin: customers_with_orders_semi
    "dedup_simhash",                  # pigeonhole bands: dedup_minhash_lsh
    "embedding_near_dup_brute",       # brute cosine: knn_cosine_bruteforce
    "duration_per_user",              # session windows: sessionize_users
    "top_event_transitions",          # lag/lead: window_function_family
})

# Queries ADDED in round 7 (suite/round7.py): they postdated the
# r1-r6 artifacts and were strict-checked (and judge-verified) in r7;
# they head the r8 GATE_WINDOW together with DEFERRED_TO_R8 for their
# first driver witness.
ADDED_IN_R7 = frozenset({
    "segment_dedup_c4", "dsir_importance_topk",
    "trigram_novelty_by_source", "lang_vocab_overlap",
    "length_percentile_bands", "quality_logreg_buckets",
    "weighted_sample_es",
})

# Queries ADDED in round 8 (suite/round8.py): strict-checked by
# tools/check_oracles.py (and judge-strict-verified) in r8, they head
# the r9 GATE_WINDOW for their first driver witness.
ADDED_IN_R8 = frozenset({
    "blocklist_filter_stats", "source_quality_quantile_gate",
    "ann_sq8_rerank",
})

# Queries ADDED in round 9 (suite/round9.py): strict-checked by
# tools/check_oracles.py (and judge-strict-verified) in r9, they head
# the r10 GATE_WINDOW for their first driver witness.
ADDED_IN_R9 = frozenset({
    "ann_sq8_persisted", "ann_pq_persisted_exact",
    "ann_ivfpq_persisted_exact", "ann_ivf_append_exact",
    "ann_ivfpq_append_exact",
})

# Queries ADDED in round 10: strict-checked by tools/check_oracles.py
# (and judge-strict-verified) in r10, they head the r11 GATE_WINDOW
# for their first driver witness.
ADDED_IN_R10 = frozenset({
    "dsir_weights_recovered", "trigram_novelty_recovered",
    "lang_vocab_overlap_recovered", "ann_ivf_tombstone_exact",
    "ann_ivfpq_rebuild_exact",
})

# Queries ADDED in round 11 (frozen literal now that they graduated
# into the r12 GATE_WINDOW head; they were AWAITING_FIRST_WITNESS
# during round 11).
ADDED_IN_R11 = frozenset({
    "bm25_top_docs", "temperature_resample_by_lang",
    "winnowing_overlap_pairs", "char_entropy_quality",
    "bm25_scores_recovered", "winnowing_pairs_recovered",
    "hard_negative_mining", "kneser_ney_doc_fluency",
    "kn_fluency_recovered", "zipf_fit_by_lang", "zipf_fit_recovered",
    "mmr_diversified_topk", "pmi_collocations_topk",
    "rrf_quality_fusion",
})

# Queries ADDED in round 12 (frozen literal now that they graduated
# into the r13 GATE_WINDOW head; they were AWAITING_FIRST_WITNESS
# during round 12).
ADDED_IN_R12 = frozenset({
    "hybrid_rrf_retrieval", "pmi_collocations_recovered",
    "unimax_epoch_plan",
})

# Queries ADDED in round 13 (frozen literal now that they graduated
# into the round-15 GATE_WINDOW head; they were AWAITING_FIRST_WITNESS
# during rounds 13 and 14).
ADDED_IN_R13 = frozenset({
    "hybrid_rrf_ann", "margin_bitext_mine", "unimax_plan_recovered",
})

# Queries ADDED after round 14: tracked live in
# suite.AWAITING_FIRST_WITNESS (single source of truth — appended
# there as they land); they head the next rotation.
ADDED_IN_R14 = frozenset(AWAITING_FIRST_WITNESS)


def test_suite_counts_match_documentation():
    specs = all_specs()
    assert len(specs) == DOCUMENTED_TOTAL
    assert sum(1 for s in specs if s.oracle is not None) == DOCUMENTED_WITH_ORACLE
    names = [s.name for s in specs]
    assert len(set(names)) == len(names), "duplicate query names"


def test_gate_window_is_exactly_the_first_50():
    specs = all_specs()
    assert len(GATE_WINDOW) == 50
    assert [s.name for s in specs[:50]] == GATE_WINDOW
    # every gated query must be oracle-checkable: a rows-only entry in
    # the window burns a slot on a weaker check
    rows_only = [s.name for s in specs[:50] if s.oracle is None]
    assert rows_only == []


def _green(path):
    rows = json.load(open(path))
    # only GREEN rows count as driver-witnessed (r1 recorded a FAILED
    # row for embedding_near_dup_lsh — that's exactly why it had to
    # rotate back in, in r5)
    return {
        n for n, r in rows.items()
        if r.get("rows_match") and r.get("schema_match")
        and r.get("hash_match") and not r.get("err")
    }


def _witness_rounds(repo):
    """(per-round green-name map {round: set}, newest artifact round)
    from every CORRECTNESS_r*.json present; ({}, 0) on a fresh clone."""
    import glob as _glob
    import re as _re

    per_round: dict[int, set[str]] = {}
    paths = sorted(_glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")))
    for p in paths:
        m = _re.search(r"CORRECTNESS_r(\d+)\.json$", p)
        if not m:
            continue
        rnd = int(m.group(1))
        per_round.setdefault(rnd, set()).update(_green(p))
    return per_round, (max(per_round) if per_round else 0)


def _latest_from(per_round, *, exclude=frozenset()):
    latest: dict[str, int] = {}
    for rnd, names in per_round.items():
        if rnd in exclude:
            continue
        for n in names:
            latest[n] = max(latest.get(n, 0), rnd)
    return latest


def _latest_witness(repo):
    """(latest-green-round map, newest artifact round); (None, 0) on a
    fresh clone."""
    per_round, newest = _witness_rounds(repo)
    return (_latest_from(per_round) if newest else None), newest


def test_gate_window_rotation_is_oldest_witness_first():
    """The window head is the previous round's additions, awaiting
    their first driver witness; the tail re-witnesses oldest-first.
    Derivable pins:
    (a) every oracle-backed query except the window head and the
    current round's additions has a driver-green row in SOME artifact;
    (b) the head set is in the window;
    (c) oldest-first boundary: no query OUTSIDE the window has an
    older last witness than any witnessed query INSIDE it.

    The boundary is evaluated against PRE-execution witnesses (the r8
    judge finding): once the driver writes the window's own round
    artifact, in-window queries become the freshest and the naive
    all-artifact invariant is self-falsifying (r8: assert 8 <= 6). So
    whenever the newest artifact's green set already covers part of
    the window — the window has executed — that artifact is dropped
    from the boundary computation."""
    repo = os.path.dirname(os.path.dirname(__file__))
    per_round, newest = _witness_rounds(repo)
    if not per_round:
        return  # artifacts absent (fresh clone) — nothing to derive
    latest = _latest_from(per_round)
    oracle_names = {s.name for s in all_specs() if s.oracle is not None}
    never = oracle_names - set(latest)
    assert never <= set(GATE_WINDOW) | ADDED_IN_R14, (
        f"never-witnessed, not gated, not newly added: "
        f"{never - set(GATE_WINDOW) - ADDED_IN_R14}"
    )
    assert ADDED_IN_R13 <= set(GATE_WINDOW)
    window_executed = bool(per_round[newest] & set(GATE_WINDOW))
    boundary = (
        _latest_from(per_round, exclude={newest})
        if window_executed else latest
    )
    inside = [boundary[n] for n in GATE_WINDOW if n in boundary]
    outside = [
        boundary[n]
        for n in oracle_names - set(GATE_WINDOW)
        if n in boundary
    ]
    if inside and outside:
        assert max(inside) <= min(outside), (
            "a query outside the window is staler than one inside it "
            f"(pre-execution witnesses: max(inside)={max(inside)}, "
            f"min(outside)={min(outside)})"
        )


def test_witness_age_ceiling():
    """VERDICT r7 item 4: after each round's rotation, no oracle-backed
    query's last driver-green witness may be older than 4 rounds unless
    it is IN the current window (about to be re-witnessed). Derived
    from the CORRECTNESS artifacts so staleness is a failing test, not
    a judge finding."""
    repo = os.path.dirname(os.path.dirname(__file__))
    latest, newest = _latest_witness(repo)
    if latest is None:
        return
    current_round = newest + 1  # the round the window is aimed at
    oracle_names = {s.name for s in all_specs() if s.oracle is not None}
    overdue = {
        n for n in oracle_names - set(GATE_WINDOW)
        if latest.get(n, 0) < current_round - 4 and n not in ADDED_IN_R14
    }
    assert not overdue, (
        f"witness older than 4 rounds and not in the window: {overdue}"
    )


def test_entry_module_contract():
    import __spark_entry__ as entry

    q = entry.queries()
    o = entry.oracle_sql()
    assert len(q) == DOCUMENTED_TOTAL
    assert len(o) == DOCUMENTED_WITH_ORACLE
    assert set(o) <= set(q)


def test_entry_docstring_counts_are_synced():
    """VERDICT r10 item 4: the entry-point docstring is the first thing
    the driver reads — its stated query/oracle counts must track the
    suite. Parse the two '<N> named queries' / 'twins for <N>' figures
    and compare against all_specs()."""
    import re

    import __spark_entry__ as entry

    doc = entry.__doc__ or ""
    m_q = re.search(r"``queries\(\)``:\s*(\d+) named queries", doc)
    m_o = re.search(r"``oracle_sql\(\)``: DuckDB twins for (\d+)", doc)
    assert m_q and m_o, "entry docstring lost its count sentences"
    assert int(m_q.group(1)) == DOCUMENTED_TOTAL
    assert int(m_o.group(1)) == DOCUMENTED_WITH_ORACLE


def test_suite_module_docstring_counts_are_synced():
    """VERDICT r11 item 4: suite/__init__.py's header rotted to
    166/161 while the entry docstring was kept synced — pin this
    header with the same regex discipline so the next count change
    fails loudly instead of shipping stale."""
    import re

    import automated_data_pipeline_spark.suite as suite

    doc = suite.__doc__ or ""
    m_q = re.search(r"(\d+) named queries", doc)
    m_o = re.search(r"\((\d+) with oracles", doc)
    assert m_q and m_o, "suite docstring lost its count sentences"
    assert int(m_q.group(1)) == DOCUMENTED_TOTAL
    assert int(m_o.group(1)) == DOCUMENTED_WITH_ORACLE
