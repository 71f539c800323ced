"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Design for 100 TB:
- every algorithm is joins + aggregations over shuffle keys (content
  hashes, shingles, LSH band keys, SimHash byte-bands) — never an O(n^2)
  cross join and never a driver-side collect;
- hot shingles (stopword trigrams at corpus scale) are document-frequency
  capped before the pair join — the standard skew guard;
- hash functions are md5-based so the DuckDB oracle reproduces signatures
  bit-for-bit (xxhash64 would be faster JVM-side; md5 keeps the
  correctness gate engine-independent; swap via HASH_FN for prod).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dns_log_transformer_spark.operators.caching import persist_tracked
from dns_log_transformer_spark.operators.text import (
    normalized,
    rebalance_for_fanout,
    tokens,
)

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Group rows by normalized-content hash. Output one row per distinct
    content: (fingerprint, n_docs, keep_id = min id). Exact dedup = join
    back on keep_id, or `dropDuplicates` when provenance isn't needed."""
    fp = F.md5(F.encode(normalized(F.col(text_col)), "UTF-8"))
    return (
        df.select(F.col(id_col), fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("keep_id"),
        )
    )


# ---------------------------------------------------------------------------
# Shingling (shared by Jaccard + MinHash)
# ---------------------------------------------------------------------------


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (n=3), as a pure Column expression.
    Fewer than n tokens -> empty array (guards sequence() against
    negative ranges). NOTE: higher-order transform/element_at are
    interpreted per element; `with_shingles` uses the compiled ml.NGram
    path instead (~3x) — this Column form states the semantics and
    serves callers that need an expression."""
    toks = tokens(text)
    k = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(0), k - n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
        ),
    )
    return F.when(k >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def with_shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3) -> DataFrame:
    """(id_col, shingles, n_shingles) via pyspark.ml.feature.NGram — a
    compiled Scala sliding-window (space-joined n-grams, partial windows
    dropped), identical output to `shingles()` but JVM-fast."""
    from pyspark.ml.feature import NGram

    toked = rebalance_for_fanout(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    )
    grams = NGram(n=n, inputCol="_toks", outputCol="_grams").transform(toked)
    return grams.select(
        F.col(id_col), F.array_distinct("_grams").alias("shingles")
    ).withColumn("n_shingles", F.size("shingles"))


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup (exact pairwise over an inverted shingle index)
# ---------------------------------------------------------------------------


def shingle_pair_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    df_cap: int = 100,
    sh: DataFrame | None = None,
) -> DataFrame:
    """The shared inverted-index stage of every set-overlap dedup here
    (VERDICT r11 #4 — was duplicated across the Jaccard and containment
    operators): (doc_a, doc_b, n_a, n_b, n_common) for every unordered
    pair sharing at least one sufficiently-rare shingle.

    shingle-explode -> document-frequency cap (drop shingles in > df_cap
    docs: they contribute little to any overlap metric but dominate join
    fan-out — the skew guard; fan-out per surviving shingle is bounded
    at df_cap^2) -> self-join on shingle -> count common. One shuffle on
    the shingle key, one on the pair key. Every overlap metric —
    Jaccard I/(a+b-I), containment I/min(a,b), dice 2I/(a+b) — is a
    post-hoc projection over this frame.

    ``sh`` (optional): an already-computed ``with_shingles`` frame
    (id_col, shingles, n_shingles) — callers that also feed the
    shingles to another stage (e.g. :func:`blocking_audit`'s LSH
    candidate side) pass it so the shingling scan runs once, not once
    per consumer. Rows with zero shingles contribute no postings, so a
    pre-filtered frame (n_shingles > 0) is equivalent.
    """
    if sh is None:
        sh = with_shingles(df, id_col, text_col, n)
    posting = sh.select(id_col, "n_shingles", F.explode("shingles").alias("shingle"))
    # posting feeds two consumers (df-cap agg + pair join); persist so the
    # shingling scan runs once, not once per branch. At warehouse scale
    # this is the same decision as checkpointing the inverted index.
    posting = persist_tracked(posting)
    rare = (
        posting.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= df_cap)
        .select("shingle")
    )
    # Rule-12 adjudication of the two joins below (r14, measured):
    #
    # - the pair SELF-JOIN is pinned sort-merge: its posting build side
    #   is the class whose post-aggregate estimate UNDERSHOOTS at any
    #   scale — statically broadcast even at x100, where Spark built a
    #   3.5+ GiB hash relation (minutes of build+spill when it
    #   survived, driver OOM when it didn't; r13 two-decade runs). AQE
    #   cannot demote a statically planned broadcast.
    # - the RARE (vocabulary) join is ALSO pinned, on the strength of
    #   the complete r14 A/B matrix: unpinned, the static planner
    #   still broadcasts the vocabulary at x100 (plan probe — the
    #   estimate undershoots across five decades) where the broadcast
    #   runs CLEAN but 2x SLOWER (blocking_tradeoff 50.4 s unpinned
    #   vs 26.3 s pinned at x100; the vocabulary grows with the
    #   corpus, so further decades only worsen it), while the pin's
    #   fixture cost is ~+0.5 s on blocking_tradeoff alone (~+0.5%
    #   headline) — the r13 trade (small fixture tax for the big
    #   decade), taken consciously with both sides measured.
    posting = posting.join(rare.hint("merge"), "shingle")
    a = posting.select(
        F.col("shingle"),
        F.col(id_col).alias("doc_a"),
        F.col("n_shingles").alias("n_a"),
    )
    b = posting.select(
        F.col("shingle"),
        F.col(id_col).alias("doc_b"),
        F.col("n_shingles").alias("n_b"),
    )
    return (
        a.join(b.hint("merge"), "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count("*").alias("n_common"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.6,
    df_cap: int = 100,
) -> DataFrame:
    """Exact Jaccard >= threshold pairs over the shared inverted-index
    stage (:func:`shingle_pair_counts`): Jaccard from |A|,|B|,|A∩B|."""
    common = shingle_pair_counts(df, id_col, text_col, n, df_cap)
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        common.withColumn("jaccard", F.round(jac, 4))
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    df_cap: int = 100,
) -> DataFrame:
    """Asymmetric CONTAINMENT dedup: pairs where the smaller doc's
    shingle set is >= threshold contained in the other's —
    containment = |A∩B| / min(|A|, |B|). This is the subset-duplication
    detector symmetric Jaccard structurally misses: a verbatim quote,
    a wrapped repost, or boilerplate-plus-payload keeps containment at
    ~1.0 while J = I/(a+b-I) shrinks toward min/max with the size gap
    (a doc fully inside one 4x its size has J ~ 0.25 — far below any
    sane Jaccard threshold). Training-data pipelines run BOTH: Jaccard
    for near-identical pages, containment for engulfed ones.

    Same scale shape as :func:`ngram_jaccard_pairs` — since r12 they
    share the stage itself (:func:`shingle_pair_counts`): inverted
    shingle index (one shuffle on shingle, one on the pair key) with
    the df_cap skew guard; the cap drops corpus-hot shingles from the
    intersection count on BOTH engines identically, so containment is
    a deterministic lower bound, never an engine-divergent one.

    Output: (doc_a, doc_b, n_common, containment, jaccard) with
    containment >= threshold; jaccard rides along so the
    Jaccard-missed subset is visible per pair.
    """
    common = shingle_pair_counts(df, id_col, text_col, n, df_cap)
    cont = F.col("n_common") / F.least(F.col("n_a"), F.col("n_b"))
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    contained = F.when(F.col("n_a") <= F.col("n_b"), F.col("doc_a")).otherwise(
        F.col("doc_b")
    )
    return (
        common.withColumn("containment", F.round(cont, 4))
        .withColumn("jaccard", F.round(jac, 4))
        .withColumn("contained_doc", contained)  # the curation drop-side
        .filter(cont >= threshold)
        .select(
            "doc_a", "doc_b", "n_common", "containment", "jaccard",
            "contained_doc",
        )
    )


def boilerplate_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-doc boilerplate score: the fraction of its DISTINCT n-grams
    appearing in any other document (shingles are distinct per doc, so
    document frequency > 1 means cross-document repetition) —
    headers/footers/templates score high and get down-weighted before
    training.

    Same persisted posting index as `ngram_jaccard_pairs` (explode once,
    two consumers: the document-frequency aggregate and the 1:1 per-doc
    join back); both aggregations map-side-combine, and the df join has
    no fan-out, so hot shingles skew only the partitioning (AQE splits).

    Output: (id_col, n_shingles, n_shared, boilerplate_frac).
    """
    from dns_log_transformer_spark.operators.caching import persist_tracked

    sh = with_shingles(df, id_col, text_col, n)
    posting = persist_tracked(
        sh.select(id_col, F.explode("shingles").alias("_x"))
    )
    dfreq = posting.groupBy("_x").agg(F.count("*").alias("_df"))
    return (
        posting.join(dfreq, "_x")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum((F.col("_df") > 1).cast("long")).cast("long").alias("n_shared"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_shared",
            F.round(F.col("n_shared") / F.col("n_shingles"), 4).alias(
                "boilerplate_frac"
            ),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------

NUM_HASHES = 12
NUM_BANDS = 4  # 4 bands x 3 rows: candidate threshold ~ (1/4)^(1/3) ~ 0.63


def minhash_signatures(
    sh: DataFrame, id_col: str = "doc_id", num_hashes: int = NUM_HASHES
) -> DataFrame:
    """(id_col, m0..m{H-1}) minhash signature columns from a
    (id_col, shingles) DataFrame.

    Hash family (Kirsch-Mitzenmacher): ONE md5 per shingle split into two
    48-bit halves h1,h2 (hex -> long), h_j = h1 + j*h2 — exact int64
    arithmetic both engines reproduce (j <= 11 so h_j < 2^52). The
    explode -> project -> groupBy(min) shape guarantees the md5 is
    evaluated once per shingle: the aggregation boundary stops Catalyst
    from inlining it into each of the H min-expressions.
    """
    posting = sh.select(F.col(id_col), F.explode("shingles").alias("s"))
    h = F.md5(F.encode("s", "UTF-8"))
    hashed = posting.select(
        id_col,
        F.conv(F.substring(h, 1, 12), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(h, 13, 12), 16, 10).cast("long").alias("h2"),
    )
    return hashed.groupBy(id_col).agg(
        *[
            F.min(F.col("h1") + j * F.col("h2")).alias(f"m{j}")
            for j in range(num_hashes)
        ]
    )


#: Hot-bucket occupancy cap for the MinHash band-candidate join (same
#: guard class as phash_pairs' bucket_cap): a degenerate band bucket —
#: web-scale boilerplate where thousands of docs share a signature band
#: — would otherwise fan out O(bucket^2) candidate pairs. Buckets over
#: the cap are EXCLUDED from the join; a pair is still found if ANY of
#: its shared bands stays under the cap, and pairs whose every shared
#: band is oversized are exact/near-exact-dup territory for
#: content-hash dedup instead. Far above fixture occupancy (max 18 at
#: sf0.1, 38 in the x10 replicas), so attested oracle hashes are
#: unchanged; the DuckDB oracles mirror the cap (queries/oracle_sql.py).
LSH_BUCKET_CAP = 100


def heavy_bucket_keys(bucketed: DataFrame, bucket_cap: int) -> DataFrame:
    """The (band, key) pairs holding more than ``bucket_cap`` member
    rows — a map-side-combined count, shipped as a tiny frame for a
    broadcast anti-join. Heavy keys are rare by construction (each
    holds > cap members, so there are at most rows/cap of them — a
    corpus where this broadcast is big is boilerplate-degenerate
    territory that belongs in exact dedup, per LSH_BUCKET_CAP /
    SIMHASH_BUCKET_CAP). Shared by the batch cap below and the
    streaming near-dup index (streaming/neardup_index.py), which
    counts occupancy over index + batch."""
    return (
        bucketed.groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") > bucket_cap)
        .select("band", "key")
    )


def drop_heavy_buckets(bucketed: DataFrame, bucket_cap: int) -> DataFrame:
    """The shared hot-bucket exclusion: a map-side-combined
    per-(band, key) count plus a broadcast ANTI-join of the heavy keys
    — NOT a count window, which would shuffle and sort every row while
    the partial agg ships only (band, key, count). The plan shape is
    asserted for both consumers in test_skew_and_plans.

    Public API alongside ``heavy_bucket_keys`` / ``lsh_band_rows``
    (ADVICE r8): external consumers are queries/dedup.py's
    incremental delta and streaming/neardup_index.py's accumulated
    occupancy cap."""
    heavy = heavy_bucket_keys(bucketed, bucket_cap)
    return bucketed.join(F.broadcast(heavy), ["band", "key"], "left_anti")


def lsh_band_rows(
    sh: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = NUM_HASHES,
    num_bands: int = NUM_BANDS,
    sig: DataFrame | None = None,
) -> DataFrame:
    """(id, band, key) LSH band-bucket rows of an already-shingled
    (id_col, shingles) DataFrame — the banding stage alone, exposed for
    consumers that need to shape the candidate join themselves (e.g.
    the incremental delta query joins NEW-side rows against OLD-side
    rows only, never old x old).

    Pass a precomputed ``sig`` frame (the ``shingle_pair_counts(sh=...)``
    pattern) when several band settings share one signature computation
    — the signature is band-INDEPENDENT and is the expensive half of
    the banding lineage (one md5 per shingle), so the tradeoff sweep
    hoists it out of its settings loop (ADVICE r12)."""
    rows = num_hashes // num_bands
    if sig is None:
        sig = minhash_signatures(sh, id_col, num_hashes)
    bands = F.array(
        *[
            F.struct(
                F.lit(k).alias("band"),
                F.concat_ws(
                    "_",
                    *[F.col(f"m{k * rows + r}").cast("string") for r in range(rows)],
                ).alias("key"),
            )
            for k in range(num_bands)
        ]
    )
    return sig.select(id_col, F.explode(bands).alias("b")).select(
        id_col, F.col("b.band").alias("band"), F.col("b.key").alias("key")
    )


def _lsh_band_candidates(
    sh: DataFrame,
    id_col: str,
    num_hashes: int,
    num_bands: int,
    bucket_cap: int = LSH_BUCKET_CAP,
    sig: DataFrame | None = None,
) -> DataFrame:
    """(doc_a, doc_b) distinct candidate pairs from MinHash band buckets
    of an already-shingled (id_col, shingles) DataFrame — the blocking
    stage shared by ``minhash_lsh_pairs`` (Jaccard verify) and
    ``minhash_lsh_candidates`` (external rerankers, e.g. the TF-IDF
    cosine verify in operators/text.py). Buckets holding more than
    ``bucket_cap`` docs are excluded ahead of the self-join (see
    LSH_BUCKET_CAP) via a map-side-combined occupancy count and a
    broadcast anti-join of the heavy keys — no full-row window sort,
    no driver-side key list."""
    # Band buckets carry IDS ONLY: a doc pair sharing several bands would
    # otherwise flow through the candidate-dedup exchange once per band
    # WITH both full shingle arrays in tow — the corpus's heaviest
    # columns on the heaviest shuffle. Dedup the bare (doc_a, doc_b) key
    # first; shingles re-join only for the surviving candidates.
    # persisted BEFORE the occupancy count: the signature aggregation
    # upstream is the expensive half of this lineage, and the heavy-key
    # agg plus both anti-joined join sides all read this frame — without
    # the cache each consumer would recompute the signatures
    bucketed = persist_tracked(
        lsh_band_rows(sh, id_col, num_hashes, num_bands, sig=sig)
    )
    bucketed = drop_heavy_buckets(bucketed, bucket_cap)
    left = bucketed.select("band", "key", F.col(id_col).alias("doc_a"))
    right = bucketed.select("band", "key", F.col(id_col).alias("doc_b"))
    # Band rows are corpus-sized on both sides, yet this join is NOT
    # merge-pinned (contrast shingle_pair_counts): the band-row frame's
    # size estimate flows through explode from the scan, so it GROWS
    # with the corpus and the static planner flips to sort-merge on its
    # own past the broadcast threshold (verified at x100, r13/r14 —
    # unlike the rule-12 post-aggregate undershoot class, which stays
    # under the threshold at any scale). At the gate fixtures the
    # broadcast is genuinely optimal (pinning merge measured +33-51%
    # on the LSH family, r14). The adjudication is WRITTEN DOWN and
    # enforced: broadcast_allowlist.py carries this join's signature
    # per consumer query, and plans.broadcast_lint fails any query
    # whose static plan broadcasts an unlisted side.
    return (
        left.join(right, ["band", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = NUM_HASHES,
    num_bands: int = NUM_BANDS,
) -> DataFrame:
    """The blocking stage alone: distinct (doc_a, doc_b) MinHash-LSH band
    candidates, no verification — feed these to an external verify/rerank
    (exact Jaccard, TF-IDF cosine, edit distance)."""
    sh = persist_tracked(
        with_shingles(df, id_col, text_col, n).filter(F.col("n_shingles") > 0)
    )
    return _lsh_band_candidates(sh, id_col, num_hashes, num_bands)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = NUM_HASHES,
    num_bands: int = NUM_BANDS,
    bucket_cap: int = LSH_BUCKET_CAP,
) -> DataFrame:
    """MinHash-LSH near-dup pairs: shingle -> signature -> band buckets ->
    candidate pairs (equi-join on band key — the LSH trick that replaces
    the O(n^2) comparison) -> verify exact Jaccard on the candidates only.

    Output: (doc_a, doc_b, jaccard) with jaccard >= threshold.
    """
    # persisted: consumed by the band-bucket candidate join AND (twice)
    # by the Jaccard verification re-join below.
    sh = (
        persist_tracked(
            with_shingles(df, id_col, text_col, n).filter(F.col("n_shingles") > 0)
        )
    )
    cand = _lsh_band_candidates(sh, id_col, num_hashes, num_bands, bucket_cap)
    # the shingle frame is CORPUS-sized (one wide array per doc) — pin
    # sort-merge on both verify joins. Statically planned, Spark chose
    # BroadcastHashJoin from undershooting post-agg estimates and at
    # x100 the build OOM'd the driver (r13 two-decade runs; same class
    # as the shingle_pair_counts fix above — AQE cannot demote a static
    # broadcast join, so the hint is the scale-safe default).
    verify = (
        cand.join(
            sh.select(
                F.col(id_col).alias("doc_a"), F.col("shingles").alias("sh_a")
            ).hint("merge"),
            "doc_a",
        )
        .join(
            sh.select(
                F.col(id_col).alias("doc_b"), F.col("shingles").alias("sh_b")
            ).hint("merge"),
            "doc_b",
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter.cast("double") / union.cast("double")
    return (
        verify.withColumn("jaccard", F.round(jac, 4))
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# Duplicate clustering: connected components over near-dup pairs
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components by iterative min-label propagation: each node
    starts labeled with its own id; every round each node takes the min
    of its label and its neighbors' labels; stop at fixpoint. Converges
    in <= graph-diameter rounds (dup clusters are near-cliques, so 2-3).

    The iterative shape the brief calls out: a driver-side loop over
    DataFrame ops with a convergence check — each round is one shuffle
    on the edge key; no driver-side data, only the changed-count action.

    Output: (doc_id, component) with component = min doc id reachable.
    """
    edges = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).unionByName(
        pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
    ).persist()
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("component", F.col("doc_id"))
        .persist()
    )
    changed = 0
    prev = labels
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("component").alias("n_min"))
        )
        # localCheckpoint (not persist): each round's plan embeds the
        # previous round's, so lineage doubles per iteration — a
        # diameter-d graph builds a 2^d-leaf logical plan and OOMs the
        # driver during analysis long before the data is big. Truncating
        # the plan keeps round cost flat; eager=True runs the round now
        # so the convergence count below reuses it.
        #
        # The convergence signal rides the SAME pass as a flag column
        # (r16, guide §1.2 fewer passes): new = least(old, n_min), so
        # "changed" is exactly coalesce(n_min, old) < old — counting
        # the flag over the checkpointed rows replaces the old
        # new-vs-old labels JOIN (one shuffle join per round, gone).
        stepped = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("component"), F.coalesce("n_min", F.col("component"))
                ).alias("component"),
                (
                    F.coalesce("n_min", F.col("component"))
                    < F.col("component")
                ).alias("_chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = stepped.filter(F.col("_chg")).count()
        prev.unpersist()
        prev = stepped
        labels = stepped.select("doc_id", "component")
        if changed == 0:
            break
    edges.unpersist()
    if changed != 0:
        # silently returning would split one true component into several
        # labels — wrong data, undetectable downstream
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); the graph has a path "
            "longer than max_iter — raise max_iter"
        )
    return labels.select("doc_id", "component")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """32-bit SimHash over distinct tokens: bit b of the token hash votes
    +1/-1; the sign of each bit's vote sum becomes the fingerprint bit.
    Explode + one wide aggregation — fully JVM-side.

    Token hash = first 8 md5 hex chars parsed as an int (F.conv), so the
    md5 is computed ONCE per token in a projection below the aggregation
    boundary; the 32 votes are single shift-and-mask ops on that int
    inside the aggregate (vs 32 string ops per token).

    Output: (id_col, simhash) with simhash a non-negative 32-bit value in
    a long. Near-dup candidates = pairs within small Hamming distance; see
    simhash_pairs for the banded join.
    """
    toks = rebalance_for_fanout(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok"),
    )
    hashed = toks.select(
        id_col,
        F.conv(F.substring(F.md5(F.encode("tok", "UTF-8")), 1, 8), 16, 10)
        .cast("long")
        .alias("h"),
    )
    agg = hashed.groupBy(id_col).agg(
        *[
            F.sum(
                F.shiftright(F.col("h"), bit).bitwiseAND(F.lit(1)) * 2 - 1
            ).alias(f"s{bit}")
            for bit in range(SIMHASH_BITS)
        ]
    )
    packed = None
    for bit in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{bit}") > 0, F.lit(1 << bit).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        packed = term if packed is None else packed + term
    return agg.select(F.col(id_col), packed.alias("simhash"))


#: Hot-bucket occupancy cap for the SimHash byte-band join. Byte bands
#: are the SKEWED banding scheme of this family: similar corpora
#: concentrate on a few byte values (fixture occupancy: 301 at sf0.01,
#: 3058 at sf0.1, 10586 at x10 — far above anything MinHash bands
#: show), so an uncapped band join goes quadratic on exactly the
#: buckets where a web corpus is densest. The default binds NONE of
#: the attested fixtures (> 3058), preserving the pigeonhole-exact
#: results there, while bounding per-bucket fan-out at real scale.
#: Recall note above the cap: a <= 3-flip pair is still found if ANY
#: of its agreeing bytes sits in an under-cap bucket; pairs whose
#: every agreeing byte is oversized live in near-exact-dup clusters —
#: route those through content-hash dedup, as with LSH_BUCKET_CAP.
SIMHASH_BUCKET_CAP = 4096


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bucket_cap: int = SIMHASH_BUCKET_CAP,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming (< 4).

    Scalable shape: split the 32-bit hash into 4 bytes; any pair within
    Hamming 3 must agree on >= 1 whole byte (pigeonhole), so an equi-join
    per byte-band finds all such pairs without a cross join. Byte
    buckets holding more than ``bucket_cap`` docs are excluded ahead of
    the self-join (map-side-combined count + broadcast anti-join, the
    LSH_BUCKET_CAP pattern — see SIMHASH_BUCKET_CAP for the skew data
    and the recall note); the DuckDB oracle mirrors the cap.
    """
    sh = simhash(df, id_col, text_col)
    # tiny (one row per doc) and read by both self-join sides: persist so
    # the token explode + hash aggregation runs once.
    sh = persist_tracked(sh)
    bands = F.array(
        *[
            F.struct(
                F.lit(k).alias("band"),
                F.shiftright(F.col("simhash"), 8 * k).bitwiseAND(F.lit(255)).alias("key"),
            )
            for k in range(4)
        ]
    )
    bucketed = sh.select(id_col, "simhash", F.explode(bands).alias("b")).select(
        id_col, "simhash", F.col("b.band").alias("band"), F.col("b.key").alias("key")
    )
    bucketed = drop_heavy_buckets(bucketed, bucket_cap)
    left = bucketed.select("band", "key", F.col(id_col).alias("doc_a"), F.col("simhash").alias("h_a"))
    right = bucketed.select("band", "key", F.col(id_col).alias("doc_b"), F.col("simhash").alias("h_b"))
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    # hamming filter BEFORE the pair-dedup: byte-band collisions are
    # mostly coincidental (256 keys/band), so filtering on the cheap
    # xor+bit_count first means the dropDuplicates shuffle carries only
    # true near-dup pairs, not every collision
    return (
        left.join(right, ["band", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Sorted-neighborhood blocking (round 6)
# ---------------------------------------------------------------------------


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    key_len: int = 24,
    prefix_len: int = 40,
    window: int = 3,
    max_distance: int = 20,
) -> DataFrame:
    """Sorted-neighborhood dedup (Hernandez-Stolfo blocking): sort the
    corpus on a normalized blocking key, pair each row with its next
    ``window`` neighbors in sort order, verify with Levenshtein edit
    distance on a fixed-length normalized prefix.

    The classic entity-resolution complement to hash blocking
    (MinHash/SimHash buckets): hash blocks catch token-set overlap,
    sort order catches shared-prefix variants (appended/truncated
    tails) that token hashing can miss entirely.

    Shape at scale:
    - the global sort order comes from ``corpus.global_rank`` — a
      range-partitioned parallel sort, never a single-task Window
      (PLANS.md q_global_rank note);
    - candidate generation is a 1->window ``explode(sequence(...))``
      (window is a small constant) followed by an EQUI-join on the
      neighbor rank — no range join, no BNLJ; rank keys are unique, so
      the join has zero skew by construction;
    - the verify is JVM-side ``levenshtein`` on ``prefix_len``-bounded
      strings: O(prefix_len^2) per candidate, constant per row.
    - total work is O(n log n) sort + O(n * window) verify — the
      linear-in-corpus blocking the method exists for.

    Determinism: the sort key is (block_key, id) — a total order; NULL
    text is coalesced to '' so both engines agree on NULL placement
    (DuckDB sorts NULLS LAST, Spark NULLS FIRST).

    Output: (doc_a, doc_b, edit_distance), doc_a < doc_b.
    """
    from dns_log_transformer_spark.operators.corpus import global_rank

    norm = F.coalesce(normalized(F.col(text_col)), F.lit(""))
    base = df.select(
        F.col(id_col),
        F.substring(norm, 1, key_len).alias("_block_key"),
        F.substring(norm, 1, prefix_len).alias("_prefix"),
    )
    ranked = global_rank(base, ["_block_key", id_col], rank_col="_rn")
    # ranked is localCheckpoint-backed inside global_rank, so both join
    # branches below re-read materialized blocks, not the scan.
    left = ranked.select(
        F.col(id_col).alias("_id_a"),
        F.col("_prefix").alias("_prefix_a"),
        F.explode(
            F.sequence(F.col("_rn") + 1, F.col("_rn") + window)
        ).alias("_rn_b"),
    )
    right = ranked.select(
        F.col(id_col).alias("_id_b"),
        F.col("_prefix").alias("_prefix_b"),
        F.col("_rn").alias("_rn_b"),
    )
    lev = F.levenshtein("_prefix_a", "_prefix_b")
    return (
        left.join(right, "_rn_b")
        .withColumn("edit_distance", lev.cast("int"))
        .filter(F.col("edit_distance") <= max_distance)
        .select(
            F.least("_id_a", "_id_b").alias("doc_a"),
            F.greatest("_id_a", "_id_b").alias("doc_b"),
            "edit_distance",
        )
    )


# ---------------------------------------------------------------------------
# Blocking-quality audit: how good is the LSH candidate generation?
# ---------------------------------------------------------------------------


def _milli_ratio(num: Column, den: Column) -> Column:
    """(1000 * num) div den as an exact BIGINT, NULL when den <= 0.
    Decimal(38,0) intermediate: the dividend can pass 2^53 at corpus
    scale, where the long/long double division loses integer exactness."""
    a = (F.lit(1000).cast("decimal(38,0)") * num).cast("decimal(38,0)")
    b = den.cast("decimal(38,0)")
    return F.when(den > 0, ((a - a % b) / b).cast("long"))


def blocking_audit(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    df_cap: int = 100,
    num_hashes: int = NUM_HASHES,
    num_bands: int = NUM_BANDS,
    bucket_cap: int = LSH_BUCKET_CAP,
) -> DataFrame:
    """Record-linkage QA for the MinHash-LSH blocking stage (Christen
    2012's standard metrics): compare the LSH candidate pair set
    against the exact-Jaccard truth pair set and report, as one row,

    - pair_completeness_milli  = 1000 * |cand ∩ truth| / |truth|
      (blocking recall — the fraction of true near-dups the bands kept);
    - reduction_ratio_milli    = 1000 * (1 - |cand| / C(n_docs, 2))
      (how much of the quadratic comparison space blocking eliminated);
    - precision_milli          = 1000 * |cand ∩ truth| / |cand|.

    Truth = the df_cap-bounded exact-Jaccard pairs at ``threshold`` —
    the SAME deterministic frame ``ngram_jaccard_pairs`` ships (capped
    identically on both engines), so the audit is self-consistent with
    the dedup operators it grades. At 12 hashes / 4 bands the s-curve
    midpoint sits near J ~ 0.63, so auditing at threshold 0.5
    deliberately exercises the regime where banding MISSES pairs —
    the number this operator exists to surface.

    Shape at scale: the shingle frame is computed once and persisted
    (both the truth-side inverted index and the candidate-side
    signatures read it); each metric input is a single-row aggregate;
    the final row is assembled by crossJoins of 1-row frames (bounded
    broadcast nest-loop — the allowlisted bounded-domain shape). All
    ratios are exact integer milli via decimal(38,0) div.

    Output: (n_docs, n_possible_pairs, n_truth, n_cand, n_hit,
    pair_completeness_milli, reduction_ratio_milli, precision_milli).
    """
    sh = persist_tracked(
        with_shingles(df, id_col, text_col, n).filter(F.col("n_shingles") > 0)
    )
    common = shingle_pair_counts(df, id_col, text_col, n, df_cap, sh=sh)
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    truth = persist_tracked(
        common.filter(jac >= threshold).select("doc_a", "doc_b")
    )
    # NOT persisted (r16): after the n_cand/n_hit fusion below the
    # candidate set has exactly ONE consumer, so caching it only adds
    # a memory-write pass (the r15 lesson on single-consumer persists).
    cand = _lsh_band_candidates(sh, id_col, num_hashes, num_bands, bucket_cap)
    # candidate AND truth pair sets scale with the corpus, but this
    # join is NOT merge-pinned: the static planner already picks
    # sort-merge at every probed scale (sf0.01 AND x100 — the estimates
    # scale, unlike the rule-12 undershoot class), so a pin's only
    # effect is blocking AQE's runtime-measured broadcast of the tiny
    # fixture-scale truth side (+20-27% at sf0.1, r14 A/B). The
    # broadcast lint keeps the adjudication enforced: a static
    # broadcast appearing here would fail the parity suite.
    #
    # n_cand / n_hit FUSION (r16, guide §1.2/§2.4 fewer passes): both
    # pair sets are distinct by construction, so a LEFT join tags each
    # candidate with a hit marker without changing its cardinality —
    # n_cand = count(*), n_hit = count(marker) — one scan of the
    # candidate lineage instead of two (separate count + inner-join
    # count), one aggregate subtree instead of two.
    one = lambda name: F.count(F.lit(1)).cast("long").alias(name)  # noqa: E731
    hit_flagged = cand.join(
        truth.withColumn("_hit", F.lit(1)), ["doc_a", "doc_b"], "left"
    )
    row = (
        sh.agg(one("n_docs"))
        .crossJoin(truth.agg(one("n_truth")))
        .crossJoin(
            hit_flagged.agg(
                one("n_cand"),
                F.count("_hit").cast("long").alias("n_hit"),
            )
        )
    )
    # decimal domain end to end (the _milli_ratio rationale): a long
    # nd*(nd-1) wraps past ~3e9 docs and its long/long division goes
    # through a double that loses exactness past 2^53; decimal keeps
    # the count exact up to the int64 limit of the OUTPUT column
    # (~4.3e9 docs — beyond that both engines overflow loudly).
    nd = F.col("n_docs").cast("decimal(38,0)")
    pairs2 = nd * (nd - 1)  # always even: exact decimal div by 2
    possible = ((pairs2 - pairs2 % 2) / 2).cast("long")
    return row.withColumn("n_possible_pairs", possible).select(
        "n_docs",
        "n_possible_pairs",
        "n_truth",
        "n_cand",
        "n_hit",
        _milli_ratio(F.col("n_hit"), F.col("n_truth")).alias(
            "pair_completeness_milli"
        ),
        (F.lit(1000) - _milli_ratio(F.col("n_cand"), F.col("n_possible_pairs")))
        .cast("long")
        .alias("reduction_ratio_milli"),
        _milli_ratio(F.col("n_hit"), F.col("n_cand")).alias("precision_milli"),
    )


def blocking_tradeoff(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    df_cap: int = 100,
    num_hashes: int = NUM_HASHES,
    band_settings: tuple[int, ...] = (2, 3, 4, 6),
    bucket_cap: int = LSH_BUCKET_CAP,
) -> DataFrame:
    """``blocking_audit`` extended from report to recommendation
    (VERDICT r12 #7): ONE row of Christen metrics per band setting, so
    the "which (hashes, bands) config" tuning decision — once answered
    by hand with a one-off audit tool, whose sf0.1 sweep PLANS.md
    records under "Band-configuration sweep" — is itself an attested
    query.

    Each ``b`` in ``band_settings`` must divide ``num_hashes``; at 12
    hashes the default sweep walks the s-curve midpoint (1/b)^(1/r)
    from ~0.89 (2 bands x 6 rows, precise/recall-poor) down to ~0.41
    (6 bands x 2 rows, recall-rich/candidate-heavy).

    Shared-work shape (the ADVICE r12 hoist, taken further engine-side
    than the advice asked): the shingle frame, the TRUTH pair set and
    the band-INDEPENDENT minhash signature frame are computed once —
    and the per-setting banding is NOT a loop of per-setting jobs at
    all. Every setting's band rows are tagged with their ``num_bands``
    and emitted by ONE explode over the signature frame (sum(b) structs
    per doc), so the occupancy cap, the candidate self-join and the
    candidate/hit counts each run as a single shuffle keyed on
    (num_bands, band, key) / (num_bands, pair) covering ALL settings —
    4 settings cost one wider pass, not 4 passes. This also keeps the
    optimized plan ~the audit's size instead of settings x references
    x the signature lineage (the r13 plan-size lint budget).

    Output: one row per setting, (num_bands, rows_per_band, n_docs,
    n_possible_pairs, n_truth, n_cand, n_hit, pair_completeness_milli,
    reduction_ratio_milli, precision_milli), ratios exact integer milli
    via decimal(38,0). Candidate-set monotonicity holds along band-
    refinement chains (2->4, 2->6, 3->6: coarser bands are
    concatenations of finer ones, so a coarse-band match implies a
    match in every refining piece) — pinned in tests — EXCEPT where the
    bucket cap drops a hot bucket only the finer banding produces; far
    above fixture occupancy, so the pins are exact there.
    """
    for b in band_settings:
        if num_hashes % b:
            raise ValueError(f"num_bands {b} must divide num_hashes {num_hashes}")
    sh = persist_tracked(
        with_shingles(df, id_col, text_col, n).filter(F.col("n_shingles") > 0)
    )
    common = shingle_pair_counts(df, id_col, text_col, n, df_cap, sh=sh)
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    truth = persist_tracked(
        common.filter(jac >= threshold).select("doc_a", "doc_b")
    )
    sig = minhash_signatures(sh, id_col, num_hashes)
    structs = []
    for b in band_settings:
        rows = num_hashes // b
        structs += [
            F.struct(
                F.lit(b).cast("long").alias("num_bands"),
                F.lit(k).alias("band"),
                F.concat_ws(
                    "_",
                    *[F.col(f"m{k * rows + r}").cast("string") for r in range(rows)],
                ).alias("key"),
            )
            for k in range(b)
        ]
    # persisted: the occupancy agg and both self-join sides read it
    bucketed = persist_tracked(
        sig.select(id_col, F.explode(F.array(*structs)).alias("b")).select(
            id_col, "b.num_bands", "b.band", "b.key"
        )
    )
    keys = ["num_bands", "band", "key"]
    heavy = (
        bucketed.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") > bucket_cap)
        .select(*keys)
    )
    pruned = bucketed.join(F.broadcast(heavy), keys, "left_anti")
    left = pruned.select(*keys, F.col(id_col).alias("doc_a"))
    right = pruned.select(*keys, F.col(id_col).alias("doc_b"))
    # corpus-sized band rows on both sides but NOT merge-pinned — the
    # explode-fed estimate scales with the corpus so the planner flips
    # to sort-merge on its own past the threshold (see the
    # _lsh_band_candidates adjudication; enforced via
    # broadcast_allowlist.py + plans.broadcast_lint)
    #
    # PAIR-KEYED FUSION (r16, guide §2.4 one exchange where three ran):
    # the per-setting candidate sets overlap heavily (band-refinement
    # chains share most pairs), so instead of deduplicating per-setting
    # rows on (num_bands, pair) and then separately (a) counting per
    # setting and (b) re-shuffling the whole per-setting set onto the
    # pair key to join truth, aggregate ONCE on the pair key with a
    # collect_set of the settings that produced it. The truth join then
    # runs over DISTINCT pairs (<= the union, ~1/len(settings) of the
    # per-setting rows) and REUSES the aggregation's partitioning
    # (same key, no new exchange); one explode of the tiny settings set
    # recovers exact per-setting counts. n_cand/n_hit are fused into
    # one conditional aggregate (the blocking_audit r16 fusion): truth
    # pairs are distinct, so the left join keeps cardinality.
    cand_sets = (
        left.join(right, keys)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("num_bands", "doc_a", "doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.collect_set("num_bands").alias("_settings"))
    )
    one = lambda name: F.count(F.lit(1)).cast("long").alias(name)  # noqa: E731
    # NOT merge-pinned — statically sort-merge at every probed scale;
    # see blocking_audit's hit join for the adjudication (r14 A/B:
    # the pin only blocked AQE's runtime-measured broadcast, +20-27%)
    ch = (
        cand_sets.join(
            truth.withColumn("_hit", F.lit(1)), ["doc_a", "doc_b"], "left"
        )
        .select(F.explode("_settings").alias("num_bands"), "_hit")
        .groupBy("num_bands")
        .agg(one("n_cand"), F.count("_hit").cast("long").alias("n_hit"))
    )
    # literal settings frame: a setting whose candidate set is EMPTY
    # still gets its row (n_cand = n_hit = 0) instead of vanishing
    settings = df.sparkSession.createDataFrame(
        [(int(b), int(num_hashes // b)) for b in band_settings],
        "num_bands long, rows_per_band long",
    )
    base = sh.agg(one("n_docs")).crossJoin(truth.agg(one("n_truth")))
    m = (
        settings.join(F.broadcast(ch), "num_bands", "left")
        .na.fill({"n_cand": 0, "n_hit": 0})
        .crossJoin(F.broadcast(base))
    )
    nd = F.col("n_docs").cast("decimal(38,0)")
    pairs2 = nd * (nd - 1)  # always even: exact decimal div by 2
    possible = ((pairs2 - pairs2 % 2) / 2).cast("long")
    return m.withColumn("n_possible_pairs", possible).select(
        "num_bands",
        "rows_per_band",
        "n_docs",
        "n_possible_pairs",
        "n_truth",
        "n_cand",
        "n_hit",
        _milli_ratio(F.col("n_hit"), F.col("n_truth")).alias(
            "pair_completeness_milli"
        ),
        (F.lit(1000) - _milli_ratio(F.col("n_cand"), F.col("n_possible_pairs")))
        .cast("long")
        .alias("reduction_ratio_milli"),
        _milli_ratio(F.col("n_hit"), F.col("n_cand")).alias("precision_milli"),
    )
