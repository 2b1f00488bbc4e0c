"""Deduplication operators for large-scale text corpora.

Variants (all Spark-first, shuffle-aware):
- exact:     hash-groupBy on a normalized fingerprint. One shuffle on the
             fingerprint; at 100 TB this is the cheapest possible dedup
             (map-side partial agg + AQE-coalesced reducers).
- jaccard:   blocked pairwise n-gram Jaccard. Blocking keys bound the
             quadratic blow-up; only same-block pairs shuffle together.
- minhash:   MinHash signatures + LSH banding. Candidate generation is a
             self-join on (band, bucket) — linear-ish in corpus size —
             followed by exact verification on the candidates only. This
             is the 100 TB-scale path: no all-pairs comparison ever
             materializes.
- simhash:   64-bit SimHash + same-key bucket join on the hash for
             near-identical detection (hamming distance on candidates).
- embedding: cosine near-dup over embedding vectors (see similarity.py
             for the kNN machinery).

Hashing uses the engine-portable md5-derived ``stable_hash64`` so every
step is reproducible in the DuckDB oracle. Swap in ``F.xxhash64`` for
production speed — identical structure, ~3x faster hashing.

The near-dup core lives here once, shared by the batch pair emitters
(``jaccard_pairs``, ``minhash_lsh_pairs``, ``containment_pairs``) and the
streaming LSH ingest (``streaming/incremental_lsh.py``):
``_hashed_shingles`` (the persisted sorted-distinct shingle-hash sets),
``_verify_sides`` (the per-document verify sides behind the size-based
broadcast auto-switch), ``band_bucket_frame`` + ``_lsh_candidates`` (the
(band, bucket) self-join) and ``_jaccard_verified`` (the rounded Jaccard
filter). These are the dedup barriers: one persist, one stats job, one
pinned-width candidate exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as TX

# Auto-switch ceiling for broadcasting the verify-side shingle tables:
# below this estimated size the per-document arrays broadcast (the pair
# stream never shuffles); above it the verify join degrades to a
# shuffle join — the safe side at real corpus scale, where broadcasting
# every document's shingles would OOM the driver. 256 MB is well under
# executor/driver headroom while covering any corpus small enough for
# the broadcast to be the right call.
BROADCAST_VERIFY_MAX_BYTES = 256 << 20



# Observability for scale validation: the most recent auto broadcast-vs-
# shuffle verify decision (n_docs, total_shingles, est_bytes, broadcast).
# Overwritten per auto-switched call; read by tools/scale_validation.py
# to report whether a given SF crossed the switch.
LAST_AUTOSWITCH: dict = {}


def _should_broadcast_verify(n_docs: int, total_shingles: int) -> bool:
    """Estimate the materialized size of the per-document hashed-shingle
    tables: 8 bytes per 64-bit shingle hash + ~32 bytes/row overhead."""
    est = total_shingles * 8 + n_docs * 32
    LAST_AUTOSWITCH.update(
        n_docs=n_docs,
        total_shingles=total_shingles,
        est_bytes=est,
        broadcast=est <= BROADCAST_VERIFY_MAX_BYTES,
    )
    return est <= BROADCAST_VERIFY_MAX_BYTES


def _finalize(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Materialize ``result`` (eager localCheckpoint — MEMORY_AND_DISK
    blocks whose lifetime the ContextCleaner ties to the returned
    DataFrame), then unpersist the explicitly-cached intermediates so a
    long-lived session running dedup over many corpora doesn't accrete
    cached shingle tables. On a production cluster prefer reliable
    checkpoints (setCheckpointDir + .checkpoint()) for the same shape.
    """
    out = result.localCheckpoint(eager=True)
    for frame in cached:
        frame.unpersist()
    return out


def exact_dedup(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Exact dedup on the normalized fingerprint: one row per distinct
    fingerprint with the smallest id as canonical representative and the
    duplicate count. min/count do map-side partial aggregation.

    Degenerate documents — NULL text, or text that normalizes to ''
    (whitespace/punctuation-only) — carry no comparable content and get
    a per-document synthetic key (``doc:<id>``), so they are never
    collapsed as "duplicates" of each other. Without this, every NULL
    doc lands in the NULL-fingerprint group and every '!!!'-style doc
    in the md5('') group, and downstream survivor selection silently
    drops real rows whose text was never compared."""
    normalized = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", "")
    fp = F.when(F.length(normalized) > 0, F.md5(normalized))
    key = F.coalesce(
        fp, F.concat(F.lit("doc:"), F.col(id_col).cast("string"))
    )
    return (
        df.select(key.alias("fingerprint"), F.col(id_col).alias("id"))
        .groupBy("fingerprint")
        .agg(F.min("id").alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def ngram_hashes(text_col, n: int, seed: str = "ngram"):
    """Distinct hashed word n-grams of a text column, as array<bigint>.
    Empty array when the document has fewer than n tokens."""
    toks = TX.tokens(text_col)
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: TX.stable_hash64(
                    F.array_join(F.slice(toks, i, n), " "), seed
                ),
            )
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share
    any word ``n``-gram with an eval/benchmark set, so test data cannot
    leak into the training corpus. Returns every input doc with
    ``n_hits`` (distinct overlapping n-grams) and ``contaminated``.

    Plan: benchmark n-grams are distinct-hashed and BROADCAST (eval
    sets are tiny next to a training corpus); each doc's n-gram array
    is exploded and semi-aggregated against them — the corpus side
    never shuffles on text, only the per-doc hit counts do. At 100 TB
    the corpus scan stays embarrassingly parallel; the broadcast is
    bounded by the benchmark size, not the corpus.
    """
    bench = (
        benchmark.select(
            F.explode(ngram_hashes(F.col(text_col), n)).alias("gram")
        )
        .distinct()
    )
    # plain explode: gram-less docs need no row here — the inner join
    # would discard their NULL gram anyway, and the final left join
    # from `docs` restores them with n_hits = 0
    doc_grams = docs.select(
        F.col(id_col).alias("id"),
        F.explode(ngram_hashes(F.col(text_col), n)).alias("gram"),
    )
    hits = (
        doc_grams.join(F.broadcast(bench), "gram", "inner")
        .groupBy("id")
        .agg(F.countDistinct("gram").alias("n_hits"))
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(hits, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
            F.coalesce(F.col("n_hits") > 0, F.lit(False)).alias("contaminated"),
        )
    )


def shingle_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    extra_cols: list[str] | None = None,
    spread: bool = True,
) -> DataFrame:
    """(id, shingles [, extra_cols]) with distinct word-bigram shingles.

    With ``spread`` the raw rows are round-robin repartitioned *before*
    tokenization: shingling cost is O(text bytes), and a small upstream
    (single parquet footer, one streaming micro-batch) would otherwise
    serialize it into one task. Callers that reference the result more
    than once should persist it — the whole tokenize+shingle lineage
    re-executes per downstream reference otherwise."""
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("_text"),
        *[F.col(c) for c in (extra_cols or [])],
    )
    par = df.sparkSession.sparkContext.defaultParallelism
    if spread:
        base = base.repartition(par)
    # Tokenize exactly once WITHOUT a pinning exchange: bind the token
    # array as a higher-order-function lambda variable (wrap in a
    # 1-element array, transform, unwrap). bigram_shingles references
    # its input 4x, and Catalyst's project-collapse would otherwise
    # inline the tokenizer regex into each reference; a lambda variable
    # is a bound value, evaluated once per row, immune to collapse —
    # same effect as the materializing repartition this replaces, minus
    # one full shuffle of the corpus.
    return base.select(
        "id",
        F.element_at(
            F.transform(
                F.array(TX.tokens(F.col("_text"))),
                lambda t: TX.bigram_shingles(t),
            ),
            1,
        ).alias("shingles"),
        *[F.col(c) for c in (extra_cols or [])],
    )


def _hashed_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Persisted (id, hs [, extra_cols]): each document's shingles as the
    sorted-distinct set of their md5-derived ``stable_hash64`` bigints.

    One md5 pass feeds every consumer — MinHash signatures
    (``band_bucket_frame(hashed_col="hs")``), prefix generation and both
    verify sides — and the persisted/broadcast payload is ~4x narrower
    than the strings (8B fixed-width), with verification intersecting
    integers. Jaccard/containment over the hash sets equals the
    string-set values absent a 60-bit in-pair collision (~1e-15).
    Documents with no shingle (< 2 tokens, NULL text) are dropped: they
    can never pair, and a hot bucket of empty sets is pure waste. The
    caller unpersists the frame (``_finalize``). At cluster scale this
    is a checkpointed intermediate table instead."""
    return (
        shingle_frame(df, id_col, text_col, extra_cols=extra_cols)
        .filter(F.size("shingles") > 0)
        .select(
            "id",
            F.array_sort(
                F.array_distinct(
                    F.transform("shingles", lambda s: TX.stable_hash64(s))
                )
            ).alias("hs"),
            *[F.col(c) for c in (extra_cols or [])],
        )
        .persist()
    )


def _sides(hashed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(id_a, sh_a, _na) and (id_b, sh_b, _nb) over a
    ``_hashed_shingles`` frame: the per-document hash sets and sizes
    keyed for joining back to each side of a candidate pair."""
    return tuple(
        hashed.select(
            F.col("id").alias(f"id_{s}"),
            F.col("hs").alias(f"sh_{s}"),
            F.size("hs").alias(f"_n{s}"),
        )
        for s in "ab"
    )


def _verify_sides(hashed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """``_sides``, broadcast when small. Candidates outnumber documents
    by orders of magnitude (1.4M pairs vs 5k docs at sf0.1), so shipping
    the hash arrays with the PAIR stream is the wrong side — broadcast
    the per-document arrays and the pair stream never moves. One small
    agg job materializes the persist (needed anyway) and prices the
    sides; past ``BROADCAST_VERIFY_MAX_BYTES`` the verify join degrades
    to a shuffle join."""
    stats = hashed.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.size("hs")).alias("t")
    ).first()
    sa, sb = _sides(hashed)
    if _should_broadcast_verify(stats["n"] or 0, stats["t"] or 0):
        sa, sb = F.broadcast(sa), F.broadcast(sb)
    return sa, sb


def _jaccard_verified(
    cand: DataFrame, sa: DataFrame, sb: DataFrame, threshold: float
) -> DataFrame:
    """(id_a, id_b, jaccard) for candidate pairs (id_a, id_b) whose
    rounded (6-digit, mirrored in the oracles) Jaccard of the sh_a/sh_b
    sets reaches ``threshold``. |A∪B| = _na + _nb - |A∩B| skips
    materializing the union array."""
    o = F.size(F.array_intersect("sh_a", "sh_b"))
    denom = F.col("_na") + F.col("_nb") - o
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.when(denom > 0, o / denom).otherwise(F.lit(0.0)), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    block_cols: list[str] | None = None,
) -> DataFrame:
    """Pairwise bigram-shingle Jaccard: emits (id_a, id_b, jaccard) for
    pairs with jaccard >= threshold.

    Prefix-filtered similarity join (Bayardo et al. / PPJoin family,
    lossless): order each shingle set by a global total order (the
    md5-derived hash), keep only the first ``n - ceil(t*n) + 1`` tokens
    as the *prefix*; any pair with jaccard >= t must share a token that
    lies in BOTH prefixes, so candidates come from an equi-join on
    prefix tokens — shuffle proportional to shared-rare-token pairs,
    near-linear on non-duplicate corpora, never the all-pairs product.
    A size-ratio prefilter (|A|/|B| in [t, 1/t], implied by jaccard>=t)
    prunes before verification; verification intersects the *hashed*
    shingle arrays (bigint compares, not string compares) — identical to
    string Jaccard absent a 60-bit in-pair hash collision (~1e-15).
    The DuckDB oracle keeps the naive all-pairs string formulation, so
    correctness checks compare against the unblocked ground truth.
    The result is materialized before returning and the hashed-shingle
    intermediate unpersisted — repeated invocations leave no cached
    state behind. The verify sides broadcast or shuffle by the
    estimated size of the per-document shingle tables
    (``_verify_sides``).
    Optional ``block_cols`` (lang, domain, ...) further restrict pairs
    *semantically* (changes the result, use when that's the intent)."""
    # the hashed shingle sets feed df-counting, prefix generation, AND
    # both verification sides — 4 references to the one persisted frame
    hashed = _hashed_shingles(df, id_col, text_col, block_cols)
    va, vb = _verify_sides(hashed)
    sized = hashed.withColumn("n_sh", F.size("hs"))
    plen = (F.col("n_sh") - F.ceil(F.col("n_sh") * threshold) + 1).cast("int")
    # global token order = ascending document frequency (ties by hash):
    # prefixes then hold each document's *rarest* tokens, so prefix-token
    # buckets stay small — a random (hash) order would park stop-bigrams
    # in prefixes and recreate the quadratic hot bucket this operator
    # exists to avoid. df-counting is one explode + groupBy (linear).
    tok = sized.select("id", "n_sh", F.explode("hs").alias("h"),
                        *[F.col(c) for c in (block_cols or [])])
    dfreq = tok.groupBy("h").agg(F.count(F.lit(1)).alias("_df"))
    ordered = (
        tok.join(dfreq, "h")
        .groupBy("id", "n_sh", *[F.col(c) for c in (block_cols or [])])
        .agg(F.array_sort(F.collect_list(F.struct("_df", "h"))).alias("oh"))
    )
    pref = ordered.select(
        "id",
        "n_sh",
        F.posexplode(
            F.slice(
                F.transform("oh", lambda x: x["h"]),
                F.lit(1),
                F.greatest(plen, F.lit(1)),
            )
        ).alias("pos0", "pk"),
        *[F.col(c) for c in (block_cols or [])],
    ).withColumn("pos", F.col("pos0") + 1).drop("pos0")
    # persist: the self-join's build side becomes a BroadcastExchange,
    # which does NOT reuse the probe side's exchange — without the
    # cache the whole prefix pipeline (tokenize-from-cache, df-count
    # groupBy, join, collect_list, posexplode) executes TWICE per call
    # (measured: the doubled ~0.4 s AQE stages in the per-job profile).
    # Small table (|prefix tokens| rows), unpersisted in _finalize.
    pref = pref.persist()
    a = pref.alias("a")
    b = pref.alias("b")
    cond = (F.col("a.pk") == F.col("b.pk")) & (F.col("a.id") < F.col("b.id"))
    for c in block_cols or []:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    cond = cond & (F.col("b.n_sh") * threshold <= F.col("a.n_sh")) & (
        F.col("a.n_sh") * threshold <= F.col("b.n_sh")
    )
    # PPJoin INDEXING prefix (Xiao/Wang/Lin/Yu, WWW'08 — lossless): for
    # a qualifying pair, overlap >= alpha >= 2t/(1+t) * n_min, so by
    # the prefix lemma the pair shares a token within the SMALLER
    # side's first  li(n) = n - ceil(2t/(1+t) * n) + 1  tokens (and,
    # for the larger side, alpha >= t * n_max keeps that same token
    # inside its ordinary probe prefix, already enforced by pref's
    # construction). Requiring the smaller side's position <= li cuts
    # candidate pairs generated by its lp-but-not-li prefix tail
    # (li ~ 0.11n vs lp ~ 0.2n at t=0.8) before any pair row exists.
    # The 1e-9 slack inside ceil only LOOSENS li (sound); ties na==nb
    # take the a-branch — either side is "smaller" then.
    ifrac = 2.0 * threshold / (1.0 + threshold)
    na_j, nb_j = F.col("a.n_sh"), F.col("b.n_sh")
    li_a = na_j - F.ceil(na_j * F.lit(ifrac) - F.lit(1e-9)) + 1
    li_b = nb_j - F.ceil(nb_j * F.lit(ifrac) - F.lit(1e-9)) + 1
    cond = cond & (
        F.when(na_j <= nb_j, F.col("a.pos") <= li_a)
        .otherwise(F.col("b.pos") <= li_b)
    )
    # PPJoin positional filter (lossless): both token arrays are sorted
    # by the SAME global (df, hash) order, so common tokens appear in
    # the same relative order in both docs. A shared token at 1-based
    # positions (i, j) therefore bounds total overlap by
    #   min(i,j)-1  (common tokens possible before it)
    #   + 1         (itself)
    #   + min(na-i, nb-j)  (common tokens possible after it),
    # and jaccard >= t needs overlap >= t*(na+nb)/(1+t). The bound is
    # valid for EVERY common token, so the TIGHTEST sound cut takes the
    # MINIMUM bound over all shared prefix tokens of a pair — computed
    # in the same aggregation that dedups the pair stream (the groupBy
    # that replaced .distinct(), no extra shuffle), strictly stronger
    # than the old any-token-passes row filter. The 1e-9 slack only
    # loosens the cut (floats may overshoot the exact rational alpha).
    na, nb = F.col("a.n_sh"), F.col("b.n_sh")
    alpha = F.ceil((na + nb) * F.lit(threshold / (1.0 + threshold)) - F.lit(1e-9))
    bound = (
        F.least(F.col("a.pos"), F.col("b.pos"))
        + F.least(na - F.col("a.pos"), nb - F.col("b.pos"))
    )
    from ..plans.spread import pinned_width

    par = pinned_width(df.sparkSession)
    cand = (
        a.join(b, cond)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            bound.alias("_ub"),
            alpha.alias("_alpha"),
        )
        # explicit-width repartition on the pair key: reused by the
        # groupBy (same keys) and exempt from AQE byte-coalescing, so
        # the per-pair verify downstream keeps cluster parallelism
        # (same rationale as _lsh_verify_frames)
        .repartition(par, "id_a", "id_b")
        .groupBy("id_a", "id_b")
        .agg(F.min("_ub").alias("_ub"), F.min("_alpha").alias("_alpha"))
        .filter(F.col("_ub") >= F.col("_alpha"))
        .select("id_a", "id_b")
    )
    return _finalize(_jaccard_verified(cand, va, vb, threshold), hashed, pref)


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iterations: int = 25,
    assume_edges_in_vertices: bool = False,
) -> DataFrame:
    """Connected components over an undirected pair graph: returns
    (id, rep_id) where rep_id is the minimum id in the component.

    This is the missing last step of every dedup pipeline: pair emitters
    (jaccard_pairs / minhash_lsh_pairs / simhash_pairs) produce edges;
    keeping one document per *component* — not per pair — is what
    actually deduplicates, because near-dup relations chain (A~B, B~C
    with A!~C must still collapse to one survivor).

    Algorithm: hash-min label propagation with pointer doubling. Each
    round every vertex (1) takes the min label among itself and its
    neighbors, then (2) jumps to its label's label (rep(v) <-
    rep(rep(v))). Step 1 alone converges in O(diameter) rounds — fine
    for the near-star dedup graphs (diameter 2-4) but a length-k chain
    of transitive near-dups needs k rounds; the pointer jump squares
    the propagation distance per round, so convergence is O(log
    diameter) and ``max_iterations=25`` covers diameters past 10^6
    (cf. Rastogi et al. 2013 hash-to-min / Kiveris et al. 2014
    star-contraction — same join/groupBy primitives). Each round is
    two shuffles (neighbor groupBy + label-table self-join), each
    |V|+|E|-proportional — no all-pairs closure is ever materialized
    (the DuckDB oracle computes that closure naively; this plan is the
    100 TB form). Raises if the graph hasn't converged after
    ``max_iterations`` rather than returning partial labels.

    ``edges`` needs columns (id_a, id_b); ``vertices`` (optional) a
    single id column naming the full vertex set so isolated vertices
    appear as their own singleton components. When ``vertices`` is a
    strict SUBSET of the edge endpoints, edges touching unknown ids are
    dropped first — otherwise the endpoint-only iteration could elect a
    non-vertex id as a component representative. Callers that know
    every endpoint is in the vertex set (e.g. ``dedup_components``,
    whose pairs come from the same frame) pass
    ``assume_edges_in_vertices=True`` to skip the two semi-joins.
    """
    e = edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    if vertices is not None and not assume_edges_in_vertices:
        vset = vertices.select(
            F.col(vertices.columns[0]).alias("src")
        ).distinct()
        e = (
            e.join(vset, "src", "left_semi")
            .join(vset.withColumnRenamed("src", "dst"), "dst", "left_semi")
            # semi-joins move the join key to the front; re-pin the
            # order — the union below pairs columns POSITIONALLY
            .select("src", "dst")
        )
    sym = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().persist()
    # Iterate over edge ENDPOINTS only, never the full vertex set: a
    # vertex with no edge is its own singleton component and its label
    # can never change, so it has no business inside the loop. On a
    # dedup graph this is the dominant win — near-dup pairs cover a few
    # percent of a real corpus, so the per-round shuffles move O(|E|)
    # rows instead of O(|V|) (5B docs / 100M endpoint labels at the
    # 100 TB design point = a ~50x per-round saving). Isolated vertices
    # join back as singletons once, after convergence.
    labels = sym.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("rep_id")
    )
    # localCheckpoint, not persist: each round's plan references the
    # previous round's frame ~4x (messages, union, jump, convergence
    # check), so without lineage TRUNCATION the logical plan grows
    # 4^rounds and the JVM dies rendering it long before the data is
    # big. Checkpointing pins each round to a materialized RDD with a
    # constant-size plan. (On a production cluster prefer reliable
    # checkpoints — sparkContext.setCheckpointDir + .checkpoint() —
    # so executor loss doesn't force a full restart.)
    labels = labels.localCheckpoint(eager=True)
    from pyspark.sql import Observation

    converged = False
    for _ in range(max_iterations):
        msgs = sym.join(
            labels.withColumnRenamed("id", "src"), "src"
        ).select(F.col("dst").alias("id"), "rep_id", F.lit(0).alias("_self"))
        # the self row rides with a marker so the round's OLD label
        # comes out of the same aggregation (exactly one self row per
        # id — labels is unique on id), making the convergence check a
        # free column compare instead of a per-round probe job:
        # observe() counts changed labels DURING the checkpoint job,
        # so each round is exactly ONE job and one pass over the data
        # (the old shape paid a separate signature scan per round plus
        # a final old-vs-new confirmation join).
        mins = (
            labels.select("id", "rep_id", F.lit(1).alias("_self"))
            .union(msgs)
            .groupBy("id")
            .agg(
                F.min("rep_id").alias("rep_id"),
                F.min(F.when(F.col("_self") == 1, F.col("rep_id"))).alias("_old"),
            )
        )
        # pointer doubling: follow the label chain one hop — rep_id is
        # itself a vertex id (labels always hold every vertex), so its
        # current label is looked up in the same table
        jump = mins.select(
            F.col("id").alias("rep_id"), F.col("rep_id").alias("_rep2")
        )
        obs = Observation()
        new_labels = (
            mins.join(jump, "rep_id", "left")
            .select(
                "id",
                F.coalesce(F.col("_rep2"), F.col("rep_id")).alias("rep_id"),
                "_old",
            )
            .observe(
                obs,
                # every mins group holds exactly one self row (labels is
                # unique on id and covers all edge endpoints) so _old is
                # never NULL; the coalesce makes a violated invariant
                # fail safe (count as changed) instead of converging early
                F.coalesce(
                    F.sum(
                        F.coalesce(
                            (F.col("rep_id") != F.col("_old")).cast("long"),
                            F.lit(1),
                        )
                    ),
                    F.lit(0),  # zero rows (empty edge set) = converged
                ).alias("n_changed"),
            )
            .drop("_old")
            .localCheckpoint(eager=True)
        )
        labels = new_labels
        # exact fixpoint test (every vertex kept its label through both
        # the min-step and the jump), measured for free on the rows the
        # checkpoint just materialized.
        # LOAD-BEARING (ADVICE r13): obs.get blocks INDEFINITELY until
        # the observed plan has executed — localCheckpoint(eager=True)
        # above is the action that fires it. Dropping the eagerness or
        # replacing the checkpoint with a lazy barrier turns this line
        # into a permanent hang; keep the materialization eager or add
        # an explicit action on new_labels before fetching.
        if obs.get["n_changed"] == 0:
            converged = True
            break
    sym.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations — pathological graph or max_iterations set too low"
        )
    if vertices is not None:
        # singletons re-enter once, post-loop: vertices with no edge
        # keep their own id as the component representative
        vcol = vertices.columns[0]
        labels = (
            vertices.select(F.col(vcol).alias("id"))
            .distinct()
            .join(labels, "id", "left")
            .select(
                "id", F.coalesce(F.col("rep_id"), F.col("id")).alias("rep_id")
            )
        )
    return labels


def dedup_components(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """End-to-end near-dup clustering: MinHash/LSH pairs → connected
    components → (doc_id, rep_id, cluster_size, is_duplicate). Keeping
    rows with ``NOT is_duplicate`` is the deduplicated corpus."""
    pairs = minhash_lsh_pairs(
        df, id_col, text_col,
        num_hashes=num_hashes, band_size=band_size, threshold=threshold,
    )
    comp = connected_components(
        pairs,
        vertices=df.select(F.col(id_col).alias("id")),
        # pairs are drawn from df itself — every endpoint is a vertex
        assume_edges_in_vertices=True,
    )
    sizes = comp.groupBy("rep_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        comp.join(sizes, "rep_id")
        .select(
            F.col("id").alias("doc_id"),
            "rep_id",
            "cluster_size",
            (F.col("id") != F.col("rep_id")).alias("is_duplicate"),
        )
    )


def minhash_signatures(
    shingled: DataFrame, num_hashes: int = 8, hashed_col: str | None = None
) -> DataFrame:
    """MinHash signatures: (id, sig0..sigK): sig_i = min over the shingle
    set of (a_i * base + b_i) mod P, base = stable_hash64(shingle) mod P.
    One md5 pass over the shingles, then cheap integer mixing per
    permutation — no explode, no shuffle.

    ``hashed_col``: a column already holding the stable_hash64 values of
    the shingles (any order, duplicates collapsed or not). Signatures
    are IDENTICAL either way — array_min over (a*pmod(h,P)+b) mod P is
    invariant to element order and multiplicity — but callers that
    already pay the md5 pass for verification payloads skip paying it
    again here."""
    assert num_hashes <= len(TX.MINHASH_AB)
    if hashed_col is not None:
        based = shingled.withColumn(
            "_bases",
            F.transform(
                F.col(hashed_col),
                lambda h: F.pmod(h, F.lit(TX.MINHASH_P)),
            ),
        )
    else:
        based = shingled.withColumn(
            "_bases",
            F.transform(
                F.col("shingles"),
                lambda w: F.pmod(TX.stable_hash64(w), F.lit(TX.MINHASH_P)),
            ),
        )
    sigs = []
    for s in range(num_hashes):
        a, b = TX.MINHASH_AB[s]
        sigs.append(
            F.array_min(
                F.transform(
                    F.col("_bases"),
                    lambda h: F.pmod(h * a + b, F.lit(TX.MINHASH_P)),
                )
            ).alias(f"sig{s}")
        )
    return based.select("id", *sigs)


def band_bucket_frame(
    shingled: DataFrame,
    num_hashes: int,
    band_size: int,
    hashed_col: str | None = None,
) -> DataFrame:
    """(id, band, bucket) LSH band buckets from a shingle frame — the
    ONE banding implementation shared by the batch operators
    (``_lsh_verify_frames``), the streaming near-dup ingest
    (``streaming/incremental_lsh.py``), and bit-reproduced by every
    consumer's DuckDB oracle. bucket = md5 over the band's signature
    members, so bucket ids are stable across engines and sessions."""
    assert num_hashes % band_size == 0
    n_bands = num_hashes // band_size
    sigs = minhash_signatures(shingled, num_hashes, hashed_col=hashed_col)
    band_cols = []
    for b in range(n_bands):
        members = [F.col(f"sig{b * band_size + i}") for i in range(band_size)]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws(",", *[m.cast("string") for m in members])).alias(
                    "bucket"
                ),
            )
        )
    return sigs.select(
        "id", F.explode(F.array(*band_cols)).alias("bb")
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def _lsh_candidates(buckets: DataFrame) -> DataFrame:
    """DISTINCT (id_a < id_b) pairs colliding in at least one signature
    band of a ``band_bucket_frame``: a self-join on (band, bucket) = one
    shuffle on the bucket key, linear-ish in corpus size."""
    from ..plans.spread import pinned_width

    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        # explicit-width repartition on the pair key: the distinct
        # reuses this exchange (same keys), and because the width is
        # user-pinned AQE will NOT byte-coalesce it — candidate pairs
        # are tiny in bytes but carry the whole verify CPU (an array
        # intersect per pair), and byte-based coalescing otherwise
        # serializes the verify stage onto 1-2 tasks (measured 6.3 s
        # single-task stages in the streaming twin)
        .repartition(pinned_width(buckets.sparkSession), "id_a", "id_b")
        .distinct()
    )


def _lsh_verify_frames(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    band_size: int,
):
    """Shared MinHash/LSH candidate machinery: returns (candidates,
    sa, sb, shingled) where candidates = ``_lsh_candidates``, sa/sb are
    the ``_verify_sides`` and shingled is the persisted
    ``_hashed_shingles`` frame the caller must hand to ``_finalize`` so
    it is unpersisted after the result materializes.

    The band/bucket construction here is bit-reproduced by the DuckDB
    oracles of every consumer (dedup_minhash_lsh, dedup_clusters,
    minhash_containment_pairs, dedup_keep_best_quality) — one
    implementation, so the banding cannot drift between consumers.

    Plan shape (the part that matters at 100 TB):
      1. signatures: narrow map, no shuffle
      2. band buckets: unpivot to (id, band, bucket) — still narrow
      3. candidates: self-join on (band, bucket) = one shuffle on the
         bucket key; DISTINCT pairs
      4. the caller verifies its own similarity measure on candidates
         only, with the shingle arrays broadcast so the pair stream
         never shuffles
    """
    assert num_hashes % band_size == 0
    shingled = _hashed_shingles(df, id_col, text_col)
    sa, sb = _verify_sides(shingled)
    buckets = band_bucket_frame(shingled, num_hashes, band_size, hashed_col="hs")
    return _lsh_candidates(buckets), sa, sb, shingled


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    band_size: int = 2,
    threshold: float = 0.8,
) -> DataFrame:
    """MinHash + LSH banding dedup: returns verified candidate pairs
    (id_a, id_b, jaccard>=threshold). See ``_lsh_verify_frames`` for
    the plan shape."""
    candidates, sa, sb, shingled = _lsh_verify_frames(
        df, id_col, text_col, num_hashes, band_size
    )
    return _finalize(_jaccard_verified(candidates, sa, sb, threshold), shingled)


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.9,
    num_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """Asymmetric containment dedup: emits (id_a, id_b, containment)
    with id_a < id_b (id order, NOT size order) and containment =
    |A∩B| / min(|A|,|B|) >= threshold — the smaller document's shingles
    are (nearly) a subset of the larger's, whichever side that is.
    Catches quote-inclusion / boilerplate-wrapping near-dups that
    symmetric Jaccard misses: a 50-shingle doc embedded verbatim in a
    500-shingle doc has jaccard ~0.1 but containment 1.0. Callers
    choosing a survivor should compare _na/_nb (or lengths) — do not
    assume id_a is the contained side.

    Candidates come from the same MinHash/LSH banding as
    ``minhash_lsh_pairs`` (one shared implementation) — note MinHash
    collision probability tracks *Jaccard*, so a tiny doc inside a huge
    one (high containment, low jaccard) may not collide; the operator
    contract is therefore "containment >= t AMONG LSH candidates", and
    the oracle reproduces the identical banding so both engines agree
    exactly. The threshold applies to the ROUNDED (6-digit) containment,
    mirrored in the oracle. Same 100 TB shape: no all-pairs product,
    one bucket shuffle + broadcast verify.
    """
    candidates, sa, sb, shingled = _lsh_verify_frames(
        df, id_col, text_col, num_hashes, band_size
    )
    o = F.size(F.array_intersect("sh_a", "sh_b"))
    result = (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(o / F.least("_na", "_nb"), 6).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )
    return _finalize(result, shingled)


def hamming_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    bits: int = 64,
    max_hamming: int = 6,
    n_blocks: int = 8,
) -> DataFrame:
    """Generic near-dup pairs over ANY precomputed packed hash column
    (SimHash, image dHash, audio fingerprint): split the hash into
    ``n_blocks`` disjoint bit blocks and equi-join per block — by
    pigeonhole, two hashes within ``max_hamming`` bits must agree on at
    least one whole block when ``n_blocks > max_hamming`` — then verify
    candidates with the exact popcount distance.

    The sibling of ``simhash_pairs`` (rotation buckets) factored over
    an arbitrary hash column; same soundness guard, same one-explode
    bucketing (no per-block union re-executing the hash lineage).
    Shuffle volume is proportional to block-collision candidates, never
    the all-pairs product."""
    if max_hamming >= n_blocks:
        raise ValueError(
            f"max_hamming={max_hamming} needs n_blocks > max_hamming: with "
            f"{n_blocks} blocks, {max_hamming} differing bits can straddle "
            "every block (pigeonhole) and true near-dups would be missed"
        )
    if bits % n_blocks:
        raise ValueError(f"bits={bits} not divisible by n_blocks={n_blocks}")
    width = bits // n_blocks
    mask = (1 << width) - 1
    base = df.select(
        F.col(id_col).alias("id"), F.col(hash_col).alias("h")
    ).persist()
    blk_structs = [
        F.struct(
            F.lit(k).alias("blk"),
            F.shiftright(F.col("h"), width * k)
            .bitwiseAND(F.lit(mask))
            .alias("bucket"),
        )
        for k in range(n_blocks)
    ]
    buckets = base.select(
        "id", "h", F.explode(F.array(*blk_structs)).alias("kb")
    ).select("id", "h", F.col("kb.blk").alias("blk"), F.col("kb.bucket").alias("bucket"))
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.h").alias("h_a"),
            F.col("b.h").alias("h_b"),
        )
        .distinct()
    )
    result = cand.select(
        "id_a", "id_b",
        TX.hamming64(F.col("h_a"), F.col("h_b")).alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)
    return _finalize(result, base)


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    n_rotations: int = 4,
) -> DataFrame:
    """SimHash near-dup candidates: exact match on disjoint bit blocks
    of the 60-bit signature (the classic Charikar/Manku trick),
    verified by full hamming distance <= max_hamming.

    Delegates to ``hamming_near_dup_pairs`` — the same pigeonhole block
    join behind image dHash and audio fingerprint near-dup — with
    ``n_rotations`` blocks over the 60-bit SimHash. Output is identical
    to the historical per-rotation bucketing (the exact popcount verify
    makes candidate-set differences invisible); the guards keep their
    original, more specific messages."""
    if 15 * n_rotations > TX.SIMHASH_BITS:
        raise ValueError(
            f"n_rotations={n_rotations} shifts past the {TX.SIMHASH_BITS}-bit "
            "hash (15 bits per rotation) — the overflow rotation would bucket "
            "every document together"
        )
    if max_hamming >= n_rotations:
        raise ValueError(
            f"max_hamming={max_hamming} needs > {max_hamming} rotations: with "
            f"{n_rotations}, {max_hamming} differing bits can straddle every "
            "bucket block (pigeonhole) and true near-dups would be missed"
        )
    # token-less documents (empty/whitespace/NULL text) all hash to
    # simhash 0 and would collide in EVERY block — one quadratic hot
    # bucket of spurious hamming-0 "near-dups" (millions of empty docs
    # in a crawl = one killed reducer). They carry no content to
    # compare; drop them, same guard as _hashed_shingles.
    df = df.filter(F.size(TX.tokens(F.col(text_col))) > 0)
    base = TX.simhash_frame(df, id_col, text_col)
    return hamming_near_dup_pairs(
        base, "id", "simhash",
        bits=TX.SIMHASH_BITS, max_hamming=max_hamming,
        n_blocks=n_rotations,
    )


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    seed: str = "win",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    the MOSS local fingerprinting scheme): hash every char ``k``-gram
    of the lowercased text, then keep the MINIMUM hash of every window
    of ``w`` consecutive grams. The distinct set of selected hashes is
    the document's fingerprint — winnowing guarantees any shared
    substring of length >= k + w - 1 contributes at least one shared
    fingerprint, so overlap detection is recall-complete above that
    threshold (unlike a global min-hash, which keeps ONE hash per doc).

    Scale shape: the whole extraction is a chain of narrow projections
    (whole-stage codegen, ZERO exchange, no explode until the caller
    needs per-fingerprint rows). Window minima use a sparse-table
    doubling scheme over ``zip_with`` (m_2p[s] = least(m_p[s],
    m_p[s+p])) — naively nesting the gram expression inside a
    per-window lambda is O(L*w) md5 calls per WINDOW (O(L^2) per doc),
    because Spark higher-order lambdas re-evaluate captured
    subexpressions per element. Each doubling level (and the
    lowercased text feeding the gram hash) is materialized as its OWN
    projection column rather than a nested expression: zip_with
    references its input twice, so a single monolithic expression tree
    doubles per level (w=4 re-evaluated the O(L)-md5 gram array 4×,
    and the captured lower(text) once per ELEMENT of it — measured 4×+
    end-to-end at sf1). CollapseProject keeps the stages separate
    (non-cheap producer referenced more than once), so each level is
    computed exactly once per row inside one codegen stage. Documents
    shorter than k + w - 1 chars yield an empty fingerprint set.

    Returns (id_col, fps: array<bigint> — distinct window minima).
    """
    low_col, m_col = "__win_low", "__win_m"
    cur = df.select(
        F.col(id_col), F.lower(F.col(text_col)).alias(low_col)
    )
    low = F.col(low_col)
    grams = F.transform(
        F.sequence(F.lit(1), F.length(low) - (k - 1)),
        lambda i: TX.stable_hash64(F.substr(low, i, F.lit(k)), seed=seed),
    )
    # guard short docs HERE (not on the final result) so the per-row
    # branch skips gram extraction entirely for them and every later
    # stage sees an empty array flowing through.
    grams = F.when(F.length(low) >= k + w - 1, grams).otherwise(
        F.array().cast("array<bigint>")
    )
    cur = cur.select(F.col(id_col), grams.alias(m_col))
    # sparse-table minima: after the loop, m[s] = min(grams[s .. s+p-1])
    # for the largest power of two p <= w; one final least() merges the
    # (possibly overlapping) tail window. zip_with pads the shorter side
    # with NULL and least() skips nulls, so trailing entries degrade to
    # shorter suffixes — they are sliced off below.
    big = 1 << 30
    p = 1
    while p * 2 <= w:
        cur = cur.select(
            F.col(id_col),
            F.zip_with(
                F.col(m_col),
                F.slice(F.col(m_col), p + 1, big),
                lambda a, b: F.least(a, b),
            ).alias(m_col),
        )
        p *= 2
    if p < w:
        cur = cur.select(
            F.col(id_col),
            F.zip_with(
                F.col(m_col),
                F.slice(F.col(m_col), (w - p) + 1, big),
                lambda a, b: F.least(a, b),
            ).alias(m_col),
        )
    # zip_with preserves length, so size(m) == the original gram count
    # and the valid window starts are the first size(m) - (w-1).
    m = F.col(m_col)
    fps = F.array_distinct(
        F.slice(m, 1, F.greatest(F.size(m) - (w - 1), F.lit(0)))
    )
    return cur.select(F.col(id_col), fps.alias("fps"))


def winnowing_overlap_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    max_df: int = 50,
    min_shared: int = 3,
    seed: str = "win",
    materialize: bool = True,
) -> DataFrame:
    """Document-pair overlap via shared winnowing fingerprints — the
    plagiarism/boilerplate-overlap detector. Candidate pairs come from
    a self-join on the fingerprint value (same shape as the LSH bucket
    join: linear-ish in corpus size, NEVER all-pairs); fingerprints
    shared by more than ``max_df`` documents are dropped first
    (boilerplate grams — the frequency cap that bounds the join
    fan-out, exactly the stop-shingle rule from the dedup family).

    The exploded fingerprint frame feeds the frequency aggregate AND
    both sides of the pair join — it is persisted so the O(w·L)-md5
    extraction pass runs ONCE, not once per consumer (measured 4×+ at
    sf1 without it; at cluster scale this is a checkpointed
    intermediate table). ``materialize=False`` skips the persist and
    the eager result checkpoint — plan tests need the visible lineage.

    Returns (doc_a, doc_b, shared) for pairs sharing >= ``min_shared``
    distinct fingerprints, doc_a < doc_b.
    """
    # hash-spread before the per-row-CPU gram hashing (the r7 lesson):
    # a compact parquet corpus reads as ONE input split, and without
    # this the O(w*L)-md5 extraction runs on a single task regardless
    # of cluster width. The extraction itself stays a narrow
    # projection; this is the only exchange before the bucket join.
    spread = df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, id_col
    )
    fp = winnowing_fingerprints(spread, id_col, text_col, k, w, seed)
    # explode_outer, NOT explode: for a plain explode Spark infers a
    # `size(fps) > 0` filter from the Generate and pushes it below the
    # repartition — onto the single-split file scan, where it
    # re-evaluates the whole O(w·L)-md5 extraction expression per row
    # on one task (measured: the sf1 corpus ran 13 min that way).
    # explode_outer infers nothing; empty docs yield one NULL row,
    # dropped right after, and extraction stays above the exchange.
    e = fp.select(
        F.col(id_col).alias("doc"), F.explode_outer("fps").alias("f")
    ).filter(F.col("f").isNotNull())
    if materialize:
        e = e.persist()
    pairs = _pairs_from_index(e, max_df, min_shared)
    if not materialize:
        return pairs
    out = pairs.localCheckpoint(eager=True)
    e.unpersist()
    return out


def _pairs_from_index(
    e: DataFrame, max_df: int, min_shared: int
) -> DataFrame:
    """The winnowing pair join over an exploded (doc, f) index: the
    ``max_df`` cap, equi self-join, shared count — the batch ≡ stream
    tail of :func:`winnowing_overlap_pairs` and
    ``winnowing_stream.recover_overlap_pairs``."""
    freq = e.groupBy("f").agg(F.count(F.lit(1)).alias("n_docs"))
    keep = freq.filter(
        (F.col("n_docs") >= 2) & (F.col("n_docs") <= max_df)
    ).select("f")
    kept = e.join(keep, "f")
    a = kept.select("f", F.col("doc").alias("doc_a"))
    b_side = kept.select("f", F.col("doc").alias("doc_b"))
    return (
        a.join(b_side, "f")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )
