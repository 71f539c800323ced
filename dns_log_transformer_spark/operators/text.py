"""Text-analysis operators: tokenization, quality, language ID,
fingerprinting — over a string column, built entirely from codegen'd
string/array functions (no Python in the hot path).

Algorithms are deliberately simple, *deterministic*, and SQL-expressible
so the DuckDB oracle can replicate them bit-for-bit; each is the standard
cheap heuristic used in large-scale corpus filtering (length/punctuation/
stopword stats a la Gopher rules; n-gram-free stopword language ID).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dns_log_transformer_spark.operators.caching import persist_tracked

#: Stopword sets for the heuristic scorers. Tiny by design: membership of
#: high-frequency function words is the signal, not coverage.
EN_STOPWORDS = ("the", "a", "is", "of", "and", "to", "in")
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": EN_STOPWORDS,
    "es": ("el", "la", "de", "que", "y", "los", "un"),
    "fr": ("le", "la", "de", "et", "un", "les", "des"),
    "de": ("der", "die", "das", "und", "ist", "ein", "nicht"),
}
#: Deterministic priority when scores tie (higher-priority first).
LANG_PRIORITY = ("en", "es", "fr", "de")

#: BPE-ish pre-tokenizer: alpha runs | digit runs | single non-space symbol.
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def tokens(text: Column) -> Column:
    """Whitespace tokens of trimmed text (empty OR NULL text -> empty
    array — NULL must not propagate: ml.NGram throws on null input
    arrays, and every token consumer wants "no tokens" semantics)."""
    t = F.trim(text)
    empty = F.array().cast("array<string>")
    return F.when(t.isNull() | (F.length(t) == 0), empty).otherwise(
        F.split(t, r"\s+")
    )


#: (session id, sorted input files) -> split count. The probe
#: (`df.rdd.getNumPartitions()`) compiles the physical plan, and under
#: AQE runs any exchange in it (~1 s per NEW plan), so callers over the
#: same input files share one probe. Two plans over the same files may
#: partition differently after a shuffle, but the callers' decisions
#: need only an input-bytes-scaled reading.
_SPLITS_CACHE: dict[tuple[int, tuple[str, ...]], int] = {}


def upstream_splits(df: DataFrame) -> int:
    """Partition count of ``df``'s plan, cached per input file set. On a
    scan it is the split count, which grows with input bytes
    (``maxPartitionBytes``), and counting it starts no job."""
    key = None
    try:
        files = df.inputFiles()  # driver-side listing, no job
        if files:
            key = (id(df.sparkSession), tuple(sorted(files)))
    except Exception:
        pass
    if key in _SPLITS_CACHE:
        return _SPLITS_CACHE[key]
    n = df.rdd.getNumPartitions()
    if key is not None:
        _SPLITS_CACHE[key] = n
    return n


def rebalance_for_fanout(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the cluster's parallelism — but only
    when the upstream scan yields fewer splits than cores. Gram/hash ops
    multiply compute per input byte ~100x, so a compact input (one small
    parquet file locally; post-compaction files fewer than executors at
    cluster scale) would serialize the expensive stage behind a handful
    of tasks. Rebalancing BEFORE the fan-out shuffles only the small
    pre-explosion rows; when the scan is already well-split this is a
    no-op (no shuffle added)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(target) if upstream_splits(df) < target else df


def with_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds n_tokens (whitespace) and n_bpe_tokens (regex pre-tokenizer
    count — the cheap proxy for BPE token count used for doc budgeting)."""
    toks = tokens(F.col(text_col))
    return df.withColumn("n_tokens", F.size(toks).cast("long")).withColumn(
        "n_bpe_tokens", F.regexp_count(F.col(text_col), F.lit(BPE_TOKEN_RE)).cast("long")
    )


def stopword_hits(toks: Column, words: tuple[str, ...]) -> Column:
    """How many tokens are in the stopword set (array filter, JVM-side)."""
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style quality stats + one blended score:

    - n_chars, n_tokens, mean_token_len;
    - alpha_ratio  (alphabetic chars / chars);
    - stopword_ratio (EN stopword tokens / tokens);
    - quality_score = 0.4*alpha_ratio + 0.4*min(stopword_ratio*5, 1)
                      + 0.2*min(n_tokens/100, 1)   (rounded to 4)
    """
    t = F.col(text_col)
    toks = tokens(t)
    n_chars = F.length(t).cast("double")
    n_toks = F.size(toks)
    alpha = F.length(F.regexp_replace(t, "[^A-Za-z]", "")).cast("double")
    alpha_ratio = F.when(n_chars > 0, alpha / n_chars).otherwise(F.lit(0.0))
    sw_ratio = F.when(
        n_toks > 0,
        stopword_hits(toks, EN_STOPWORDS).cast("double") / n_toks.cast("double"),
    ).otherwise(F.lit(0.0))
    score = (
        0.4 * alpha_ratio
        + 0.4 * F.least(sw_ratio * 5, F.lit(1.0))
        + 0.2 * F.least(n_toks.cast("double") / 100, F.lit(1.0))
    )
    return (
        df.withColumn("n_chars_m", F.length(t).cast("long"))
        .withColumn("n_tokens", n_toks.cast("long"))
        .withColumn("alpha_ratio", F.round(alpha_ratio, 4))
        .withColumn("stopword_ratio", F.round(sw_ratio, 4))
        .withColumn("quality_score", F.round(score, 4))
    )


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-membership language ID. Scores each language's stopword
    hits; argmax with the fixed LANG_PRIORITY tie-break; all-zero -> 'und'.
    (An n-gram-frequency model is the production upgrade; membership
    scoring keeps the operator fully JVM-side and oracle-replicable.)"""
    toks = tokens(F.col(text_col))
    scores = {lang: stopword_hits(toks, ws) for lang, ws in LANG_STOPWORDS.items()}
    best = F.greatest(*scores.values())
    pred = F.when(best == 0, F.lit("und"))
    for lang in LANG_PRIORITY:
        pred = pred.when(scores[lang] == best, F.lit(lang))
    out = df
    for lang in LANG_PRIORITY:
        out = out.withColumn(f"score_{lang}", scores[lang].cast("long"))
    return out.withColumn("lang_pred", pred)


def normalized(text: Column) -> Column:
    """Dedup normalization: lowercase, collapse whitespace, trim."""
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Content fingerprints over normalized text:
    - fingerprint: md5 hex (exact-dup key);
    - fingerprint64: first 16 hex chars (compact 64-bit join key)."""
    fp = F.md5(F.encode(normalized(F.col(text_col)), "UTF-8"))
    return df.withColumn("fingerprint", fp).withColumn(
        "fingerprint64", F.substring(fp, 1, 16)
    )


def sentences(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Split documents into numbered sentences via a Python UDTF (the
    table-function surface: one input row -> N output rows with arbitrary
    Python logic). Splitting on '.' with whitespace-trim keeps the
    semantics SQL-replicable; empty segments are dropped.

    Uses the DataFrame-API ``lateralJoin`` (Spark 4) with an outer column
    reference — no temp view, no session-global function name, so
    concurrent callers on one session can't clobber each other.

    Output: (id_col, sent_no, sentence).
    """
    from pyspark.sql.functions import udtf

    # Deliberately NOT useArrow=True: A/B-measured at sf0.1 (warm,
    # min-of-3) the Arrow UDTF runs 0.70s vs 0.28s for the pickled path
    # — Arrow's per-value conversion overhead dominates this small-row
    # 1->N workload. This is the registry's single documented
    # row-at-a-time Python exception (ROW_PYTHON_DOCUMENTED in the plan
    # lint).
    @udtf(returnType="sent_no: int, sentence: string")
    class SentenceSplit:
        def eval(self, text: str):
            if text is None:
                return
            n = 0
            for seg in text.split("."):
                seg = seg.strip()
                if seg:
                    yield n, seg
                    n += 1

    return df.lateralJoin(SentenceSplit(F.col(text_col).outer())).select(
        id_col, "sent_no", "sentence"
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): hash every character k-gram of the normalized text, slide
    a window of w consecutive hashes, keep each window's minimum — the
    standard rolling-hash fingerprint for partial-overlap detection
    (robust where whole-document hashing is not).

    All array ops, zero Python in the hot path; hashes are md5 hex
    (lexicographic min == numeric min of the 128-bit value) so the DuckDB
    oracle reproduces them exactly.

    Output: one row per distinct fingerprint, (id_col, fp). Texts shorter
    than k chars produce no rows; fewer than w k-grams -> one global min.
    """
    t = F.col("_norm")
    n_grams = F.length(t) - k + 1
    grams = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: F.md5(F.encode(F.substr(t, i, F.lit(k)), "UTF-8")),
    )
    # The gram-hash array MUST be materialized in its own projection:
    # inlining `grams` into the window transform below would re-evaluate
    # the whole O(len) md5 array once per window position (O(len^2) md5
    # calls per document). As a multiply-referenced non-cheap alias,
    # CollapseProject keeps this stage separate, so each window's slice
    # reads the computed array attribute.
    hashed = (
        rebalance_for_fanout(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), normalized(F.col(text_col)).alias("_norm"))
        .filter(F.length("_norm") >= k)
        .select(F.col(id_col), grams.alias("grams"))
    )
    g = F.col("grams")
    n_wins = F.size(g) - w + 1
    wins = F.when(
        n_wins >= 1,
        F.transform(
            F.sequence(F.lit(1), n_wins), lambda j: F.array_min(F.slice(g, j, w))
        ),
    ).otherwise(F.array(F.array_min(g)))
    return hashed.select(F.col(id_col), F.explode(F.array_distinct(wins)).alias("fp"))


def tfidf_topterms(
    df: DataFrame,
    n_docs: int,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document top-k TF-IDF terms — the classic salient-term
    extraction (tf x ln(N/df)). ``n_docs`` is the corpus document count
    (passed in, not computed here, so the caller decides the scan it
    comes from — parquet metadata makes it free).

    Shape at scale: explode -> (doc, term) counts (map-side combined,
    the vocab_topk shape); document frequency is one vocabulary-sized
    aggregation of the tf rows; the tf<->df join keys on term
    (vocabulary-sized dimension); the top-k window partitions by doc id
    (cardinality scales with the corpus). Determinism: score rounded to
    4 decimals, ties broken by term ascending.

    Output: (id_col, term, tfidf, rnk), rnk 1..k per document.
    """
    tf = (
        rebalance_for_fanout(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    scored = tf.join(dfreq, "term").select(
        F.col(id_col),
        "term",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df_t")), 4
        ).alias("tfidf"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(F.col(id_col), "term", "tfidf", F.col("rnk").cast("int").alias("rnk"))
    )


def char_entropy(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document Shannon character entropy (nats) — the cheap
    gibberish/compression-quality signal (low entropy = repeated-char
    spam, high = random noise; natural text sits in a band):

        H = ln(n) - sum(c_i * ln(c_i)) / n

    over per-character counts c_i. explode to (doc, char) -> hash agg
    with map-side combine (alphabet-bounded groups per doc) -> one
    per-doc aggregation; rides the scan like token counting. Entropy
    rounds to 4 decimals (the per-doc sum spans at most alphabet-many
    small terms, so float fold order stays far inside the rounding).

    Output: (id_col, n_chars, entropy); empty/null texts drop out.
    """
    chars = (
        rebalance_for_fanout(df.select(F.col(id_col), F.col(text_col)))
        .filter(F.length(F.col(text_col)) > 0)
        .select(F.col(id_col), F.explode(F.split(F.col(text_col), "")).alias("ch"))
        .filter(F.length("ch") > 0)
    )
    counts = chars.groupBy(id_col, "ch").agg(F.count(F.lit(1)).alias("c"))
    n = F.sum("c")
    return counts.groupBy(id_col).agg(
        n.cast("long").alias("n_chars"),
        F.round(
            F.log(n) - F.sum(F.col("c") * F.log("c")) / n, 4
        ).alias("entropy"),
    )


def winnow_anchors(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Winnowing anchors WITH positions — the input the variable-length
    span-dedup pass (operators/corpus.py ``winnow_span_dedup``) needs:
    per window of ``w`` consecutive k-gram hashes, emit the selected
    (position, hash) pair instead of the bare hash that
    :func:`winnow_fingerprints` keeps. Tie rule: the LEFTMOST minimal
    hash in the window (``array_position`` returns the first match),
    which the DuckDB oracle mirrors with ``list_position``.

    The anchor's hash IS the window minimum, so each window builds its
    (pos, fp) struct from ``array_min``/``array_position`` over the
    SAME materialized gram array — no post-hoc ``element_at`` that
    would carry the O(len) gram array through the explode (the struct
    array is the only thing the Generate consumes).

    Output: (id_col, pos, fp) — pos is the 1-based char offset of the
    selected k-gram in the normalized text; one row per DISTINCT
    selected position (overlapping windows re-selecting an anchor is
    the point of winnowing, deduped by ``array_distinct``).
    """
    t = F.col("_norm")
    n_grams = F.length(t) - k + 1
    grams = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: F.md5(F.encode(F.substr(t, i, F.lit(k)), "UTF-8")),
    )
    # gram hashes materialized in their own projection (PLANS.md rule 1:
    # multiply-referenced expensive exprs never inline into lambdas)
    hashed = (
        rebalance_for_fanout(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), normalized(F.col(text_col)).alias("_norm"))
        .filter(F.length("_norm") >= k)
        .select(F.col(id_col), grams.alias("grams"))
    )
    g = F.col("grams")
    n_wins = F.size(g) - w + 1

    def anchor(j: Column, width) -> Column:
        sl = F.slice(g, j, width)
        return F.struct(
            (j + F.array_position(sl, F.array_min(sl)) - 1)
            .cast("int")
            .alias("pos"),
            F.array_min(sl).alias("fp"),
        )

    anchors = F.when(
        n_wins >= 1,
        F.transform(F.sequence(F.lit(1), n_wins), lambda j: anchor(j, w)),
    ).otherwise(F.array(anchor(F.lit(1), F.size(g))))
    return (
        hashed.select(
            F.col(id_col),
            F.explode(F.array_distinct(anchors)).alias("_a"),
        )
        .select(F.col(id_col), F.col("_a.pos").alias("pos"), F.col("_a.fp").alias("fp"))
    )


def winnow_anchors_arrow(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Arrow fast path for :func:`winnow_anchors` — IDENTICAL output
    (pinned exactly equal in tests/test_text_ops.py), ~4x cheaper: the
    Catalyst version evaluates two interpreted higher-order-function
    passes (md5 per gram, then slice+array_min+array_position per
    window — O(len*w) interpreted expr evals per doc); this one folds
    gram hashing and window-min selection into ONE mapInPandas pass
    (hashlib md5 in a tight loop, rolling minimum via numpy uint64-pair
    compares over the big-endian 128-bit digests — numeric order of the
    (hi, lo) pair IS lexicographic order of the hex string). Strict '<'
    updates keep the LEFTMOST minimal hash per window, matching
    ``array_position``'s first-match rule.

    Normalization stays in Spark (the same :func:`normalized` codegen
    expression) so the regex dialect cannot diverge; the UDF slices by
    CHARACTERS (Python str), matching ``substr`` semantics.

    Scale shape: rides the (rebalanced) scan — zero shuffles, per-doc
    state only; Arrow-batched, never row-at-a-time.
    """
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    norm = (
        rebalance_for_fanout(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), normalized(F.col(text_col)).alias("_norm"))
        .filter(F.length("_norm") >= k)
    )
    out_schema = T.StructType(
        [
            norm.schema[id_col],
            T.StructField("pos", T.IntegerType()),
            T.StructField("fp", T.StringType()),
        ]
    )

    def gen(batches):
        md5 = hashlib.md5
        for pdf in batches:
            ids_out: list = []
            pos_out: list = []
            fp_out: list = []
            for did, t in zip(pdf[id_col], pdf["_norm"]):
                ng = len(t) - k + 1
                dig = b"".join(
                    md5(t[i : i + k].encode("utf-8")).digest()
                    for i in range(ng)
                )
                arr = np.frombuffer(dig, dtype=">u8").reshape(ng, 2)
                hi, lo = arr[:, 0], arr[:, 1]
                if ng >= w:
                    nw = ng - w + 1
                    best_hi = hi[:nw].copy()
                    best_lo = lo[:nw].copy()
                    best_pos = np.arange(nw)
                    for s in range(1, w):
                        chi = hi[s : s + nw]
                        clo = lo[s : s + nw]
                        lt = (chi < best_hi) | (
                            (chi == best_hi) & (clo < best_lo)
                        )
                        best_hi = np.where(lt, chi, best_hi)
                        best_lo = np.where(lt, clo, best_lo)
                        best_pos = np.where(lt, np.arange(s, s + nw), best_pos)
                    sel = np.unique(best_pos)
                else:
                    # fewer than w grams -> one global leftmost min
                    sel = np.lexsort((np.arange(ng), lo, hi))[:1]
                ids_out.extend([did] * len(sel))
                pos_out.extend((sel + 1).tolist())
                fp_out.extend(dig[p * 16 : (p + 1) * 16].hex() for p in sel)
            yield pd.DataFrame(
                {id_col: ids_out, "pos": pos_out, "fp": fp_out}
            )

    return norm.mapInPandas(gen, schema=out_schema)


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021, table A1): the
    per-document duplication stats used to drop boilerplate/spam from
    training corpora.

    - ``dup_word_frac``     fraction of tokens that are repeats
                            (1 - distinct/total);
    - ``top2_gram``/``top2_count``/``top2_char_frac``
                            the most frequent word 2-gram and the fraction
                            of (normalized) characters it accounts for;
    - ``dup5_char_frac``    fraction of characters inside word 5-grams
                            that occur more than once;
    - ``flag_repetitive``   the drop decision at the standard-ish
                            thresholds (top2 > 0.15 or dup5 > 0.30).

    Shape at scale: grams come from the compiled ml.NGram sliding window
    (narrow); each stat is explode -> partial+final count on (id, gram)
    -> per-doc aggregate — uniform keys, ordinary shuffles, no all-pairs
    step. Tie-break for the top 2-gram is (count, gram) struct-max ==
    highest count then lexicographically largest gram, which the oracle
    mirrors as ORDER BY cnt DESC, gram DESC.
    """
    from pyspark.ml.feature import NGram

    toked = rebalance_for_fanout(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    )
    grams = NGram(n=2, inputCol="_toks", outputCol="_g2").transform(
        NGram(n=5, inputCol="_toks", outputCol="_g5").transform(toked)
    )
    # three consumers (base stats + 2-gram counts + 5-gram counts): persist
    # so tokenize+NGram runs once, not per branch (PLANS.md rule 4)
    grams = persist_tracked(grams)

    base = grams.select(
        F.col(id_col),
        F.size("_toks").cast("long").alias("n_tokens"),
        F.length(F.array_join("_toks", " ")).cast("long").alias("n_chars"),
        F.size(F.array_distinct("_toks")).cast("long").alias("_n_distinct"),
    )
    c2 = (
        grams.select(F.col(id_col), F.explode("_g2").alias("gram"))
        .groupBy(id_col, "gram")
        .agg(F.count("*").alias("cnt"))
        .groupBy(id_col)
        .agg(F.max(F.struct(F.col("cnt"), F.col("gram"))).alias("_m"))
        .select(
            F.col(id_col),
            F.col("_m.gram").alias("top2_gram"),
            F.col("_m.cnt").cast("long").alias("top2_count"),
        )
    )
    c5 = (
        grams.select(F.col(id_col), F.explode("_g5").alias("gram"))
        .groupBy(id_col, "gram")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") > 1)
        .groupBy(id_col)
        .agg(
            F.sum(F.col("cnt") * F.length("gram")).cast("long").alias("_dup5_chars")
        )
    )
    out = (
        base.join(c2, id_col, "left")
        .join(c5, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.when(
                F.col("n_tokens") > 0,
                F.round(
                    (F.col("n_tokens") - F.col("_n_distinct"))
                    / F.col("n_tokens"),
                    4,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_word_frac"),
            "top2_gram",
            F.coalesce(F.col("top2_count"), F.lit(0)).cast("long").alias(
                "top2_count"
            ),
            F.when(
                F.col("n_chars") > 0,
                F.round(
                    F.coalesce(F.col("top2_count"), F.lit(0))
                    * F.length(F.coalesce(F.col("top2_gram"), F.lit("")))
                    / F.col("n_chars"),
                    4,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("top2_char_frac"),
            F.when(
                F.col("n_chars") > 0,
                F.round(
                    F.coalesce(F.col("_dup5_chars"), F.lit(0))
                    / F.col("n_chars"),
                    4,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("dup5_char_frac"),
        )
    )
    return out.withColumn(
        "flag_repetitive",
        (F.col("top2_char_frac") > 0.15) | (F.col("dup5_char_frac") > 0.30),
    )


#: Feature-hash buckets / weight range for the linear quality classifier.
QC_BUCKETS = 512
QC_WEIGHT_SPAN = 17  # weights uniform in [-8, 8]


def quality_classifier(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """fastText-style linear quality classifier over hashed unigram
    features — the model-based corpus filter (GPT-3/LLaMA style: score
    every doc against a trained linear model, keep high scorers). The
    weight vector here is a deterministic md5-derived stand-in (integer
    weights in [-8, 8] per bucket) so both engines share it exactly; a
    real deployment swaps in trained weights via the same join-free
    expression (weight = lookup(hash(token))).

    Exact-integer margins: the per-doc score sums integer weights (no
    float fold-order concerns), divided once for the per-token mean.

    Shape at scale: token fan-out (narrow, rebalanced) -> one (id)
    aggregation; weights are computed inline from md5, so there is no
    weight table to join or broadcast at all.

    Output: (id, n_tokens, margin, score, keep).
    """
    toks = rebalance_for_fanout(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_tok")
    )
    f = (
        F.conv(F.substring(F.md5(F.col("_tok")), 1, 8), 16, 10).cast("long")
        % QC_BUCKETS
    )
    w = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("w:"), f.cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % QC_WEIGHT_SPAN
        - (QC_WEIGHT_SPAN // 2)
    )
    per_doc = toks.select(F.col(id_col), w.alias("_w")).groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("_w").cast("long").alias("margin"),
    )
    return per_doc.select(
        id_col,
        "n_tokens",
        "margin",
        F.round(F.col("margin") / F.col("n_tokens"), 4).alias("score"),
        (F.col("margin") > 0).alias("keep"),
    )


#: BM25 constants (standard Robertson/Sparck-Jones defaults).
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_topk(
    df: DataFrame,
    terms: tuple[str, ...],
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 relevance top-k for a fixed term query — the lexical
    retrieval path (quality mining / seed-document search) complementing
    the embedding ANN path.

    Determinism: per-term tf and df are exact integer aggregations; the
    per-doc score is an EXPLICIT ordered sum over the query terms (a
    fixed expression tree, never an aggregation fold), so the only fp
    ops are a handful of identically-ordered multiply/divide/ln both
    engines evaluate the same way.

    Shape at scale: one token fan-out filtered to the query terms (the
    filter prunes before the shuffle: only matching tokens move), a
    per-(id) conditional-sum aggregation, corpus constants (N, total
    tokens, df per term) as one broadcast row. Top-k is
    TakeOrderedAndProject (per-partition heaps), not a full sort.

    Output: (id, score, plus per-term tfs) for the k best docs,
    (score desc, id asc)-ordered.
    """
    if not terms or len(set(terms)) != len(terms):
        raise ValueError("terms must be non-empty and distinct")
    toked = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    ).select(F.col(id_col), "_toks", F.size("_toks").alias("_len"))
    toked = persist_tracked(toked)  # doc-length row + term-hit explode both read it

    lens = toked.select(id_col, "_len")
    hits = (
        toked.select(F.col(id_col), F.explode("_toks").alias("_tok"))
        .filter(F.col("_tok").isin(*terms))
        .groupBy(id_col)
        .agg(
            *[
                F.sum((F.col("_tok") == t).cast("long")).alias(f"tf_{i}")
                for i, t in enumerate(terms)
            ]
        )
    )
    hits = persist_tracked(hits)  # read by the df aggregate AND the scoring join
    consts = toked.agg(
        F.count(F.lit(1)).cast("long").alias("_n_docs"),
        F.sum("_len").cast("long").alias("_tot_len"),
    )
    dfs = hits.agg(
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(terms))
        ]
    )
    scored = (
        lens.join(hits, id_col)
        .crossJoin(F.broadcast(consts))
        .crossJoin(F.broadcast(dfs))
    )
    avgdl = F.col("_tot_len") / F.col("_n_docs")
    score = None
    for i in range(len(terms)):
        tf = F.col(f"tf_{i}").cast("double")
        idf = F.log(
            (F.col("_n_docs") - F.col(f"df_{i}") + 0.5)
            / (F.col(f"df_{i}") + 0.5)
            + 1.0
        )
        term_score = idf * (
            tf
            * (BM25_K1 + 1)
            / (tf + BM25_K1 * (1 - BM25_B + BM25_B * F.col("_len") / avgdl))
        )
        score = term_score if score is None else score + term_score
    return (
        scored.select(
            id_col,
            F.round(score, 4).alias("score"),
            *[F.col(f"tf_{i}").alias(f"tf_{i}") for i in range(len(terms))],
        )
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


#: Dimensions of the hashed bag-of-words embedding.
HASH_EMBED_DIM = 64


def hashed_embedding(
    df: DataFrame,
    dim: int = HASH_EMBED_DIM,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Feature-hashed bag-of-words embedding (the "hashing trick",
    Weinberger et al. 2009): every token hashes to a dimension and a
    sign; the doc vector is the signed count per dimension. The
    model-free way to get a similarity-searchable vector from raw text —
    feeds the ANN/SemDeDup/k-means family without a trained encoder
    (swap in a real encoder at the same (id, embedding) interface).

    Exact-integer construction: dimension = md5 bucket, sign = one md5
    bit, per-dim values are integer sums — no floats until the caller
    normalizes, so the DuckDB oracle matches bit-for-bit.

    Shape at scale: token fan-out -> ONE (id) aggregation of ``dim``
    codegen'd conditional sums assembled straight into the array — a
    fixed-width (dim longs) map-side-combined shuffle payload per doc,
    no second gather stage, no interpreted map/transform lambdas
    (PLANS.md rule 3), no UDF, no driver state.

    Output: (id, embedding array<long> of length ``dim``).
    """
    toks = rebalance_for_fanout(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_tok")
    )
    h = F.conv(F.substring(F.md5(F.col("_tok")), 1, 8), 16, 10).cast("long")
    cells = toks.select(
        F.col(id_col),
        (h % dim).cast("int").alias("_d"),
        # the hash is 32 bits; bit 20 decides the sign (independent
        # of the low bits that pick the dimension)
        (F.shiftright(h, 20).bitwiseAND(F.lit(1)) * 2 - 1).alias("_s"),
    )
    return cells.groupBy(id_col).agg(
        F.array(
            *[
                F.coalesce(
                    F.sum(F.when(F.col("_d") == i, F.col("_s"))), F.lit(0)
                ).cast("long")
                for i in range(dim)
            ]
        ).alias("embedding")
    )


def tfidf_cosine_rerank(
    df: DataFrame,
    pairs: DataFrame,
    n_docs: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    scale: int = 10_000,
) -> DataFrame:
    """Exact TF-IDF cosine over CANDIDATE pairs — the verify/rerank
    stage of a two-stage dedup funnel (blocking first: MinHash bands,
    SimHash bytes, sorted neighborhood; this stage scores only the
    candidates). Deliberately NOT an unblocked all-pairs term-postings
    join: common terms make that join fan out df(term)^2 per term — at
    web scale (and on the word-salad fixture, where every term sits in
    ~80% of documents) that is quadratic. Candidate-restricted scoring
    is O(|pairs| * doc_len).

    Exact-arithmetic discipline (PLANS.md rule 5): per-(doc, term)
    weights are quantized to integers (round(tf * ln(N/df) * scale)),
    dot products and squared norms are DECIMAL(38,0) sums of integer
    products — order-independent, engine-exact; the single
    double-precision step is the final cosine division, ROUND(_, 4).

    Shape at scale: tf/df is the vocab_topk aggregation shape
    (map-side combined); the weights table is persisted once and read
    three times (norms + both pair sides); the pair joins key on doc id
    then (doc id, term) — both shuffle-equi, no skew beyond the
    candidate list itself (already capped by the blocking stage's
    occupancy guards). ``n_docs`` is passed in, as in tfidf_topterms.

    Output: (doc_a, doc_b, cosine) for every DISTINCT candidate pair
    whose two sides both have tokens; pairs with no common term score
    0.0, as does a pair where either side's weights all quantized to
    zero (every term at df == N: zero norm — the 0/0 guard; NULL in
    Spark vs NaN in DuckDB would otherwise diverge). Duplicate
    candidate rows are deduped here — a repeated (doc_a, doc_b) would
    double its dot product through the aggregation below.
    """
    tf = (
        rebalance_for_fanout(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    # persisted: the candidate list's lineage is the whole blocking
    # stage (LSH bands), and it is read FOUR times below — the member
    # broadcast build, the dot-product join, and the two final
    # norm joins; without the cache the broadcast build alone re-runs
    # the blocking pipeline as its own job
    pairs = persist_tracked(pairs.select("doc_a", "doc_b").dropDuplicates())
    # NOTE on a rejected restriction: only pair-member docs ever have
    # their weights read, so w could be semi-joined down to members
    # (O(candidates), not O(corpus)) — measured here, BOTH variants
    # (shuffle semi-join, broadcast member list) regressed the fixture
    # 40-50%: the near-dup-dense corpus makes members ≈ corpus, and the
    # extra exchange / broadcast-build job costs more than the rows it
    # trims. At web scale the same trim falls out for free instead:
    # the pair joins below are id-keyed, so non-member weight rows die
    # in the first join without ever being widened.
    w = tf.join(dfreq, "term").select(
        F.col(id_col),
        "term",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df_t")) * scale, 0
        )
        .cast("bigint")
        .alias("w"),
    )
    w = persist_tracked(w)  # read by norms + both pair-join sides
    norms = w.groupBy(id_col).agg(
        F.sum((F.col("w") * F.col("w")).cast("decimal(38,0)")).alias("nsq")
    )
    wa = w.select(
        F.col(id_col).alias("doc_a"), "term", F.col("w").alias("w_a")
    )
    wb = w.select(
        F.col(id_col).alias("doc_b"), "term", F.col("w").alias("w_b")
    )
    dots = (
        pairs.join(wa, "doc_a")
        .join(wb, ["doc_b", "term"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum((F.col("w_a") * F.col("w_b")).cast("decimal(38,0)")).alias(
                "dot"
            )
        )
    )
    na = norms.select(F.col(id_col).alias("doc_a"), F.col("nsq").alias("nsq_a"))
    nb = norms.select(F.col(id_col).alias("doc_b"), F.col("nsq").alias("nsq_b"))
    return (
        pairs.join(na, "doc_a")
        .join(nb, "doc_b")
        .join(dots, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            F.when(
                (F.col("nsq_a") > 0) & (F.col("nsq_b") > 0),
                F.round(
                    F.coalesce(F.col("dot"), F.lit(0)).cast("double")
                    / (
                        F.sqrt(F.col("nsq_a").cast("double"))
                        * F.sqrt(F.col("nsq_b").cast("double"))
                    ),
                    4,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("cosine"),
        )
    )


def bpe_merge_steps(
    df: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``k`` greedy BPE merge steps over whitespace tokens — the
    tokenizer-induction loop (count adjacent-pair frequencies, merge the
    most frequent pair corpus-wide, repeat), run at word granularity so
    the merge table reads as multi-word expressions.

    Per step: ONE scan of the (persisted) token strings -> adjacent
    pairs via ``arrays_zip(slice(toks,1,n-1), slice(toks,2,n-1))`` +
    explode (all codegen — no higher-order lambda, PLANS.md rule 3) ->
    map-side-combined pair count -> global top-1 via
    TakeOrderedAndProject. The winning pair (ONE row of driver state
    per step — bounded by construction) is folded back as a literal
    ``replace(' '||t||' ', ' l r ', ' l_r ')`` — literal string
    replace is non-overlapping left-to-right over the INPUT in both
    engines, so greedy-merge semantics agree exactly. Ties break
    (count DESC, lhs ASC, rhs ASC) — binary string order both engines.

    Shape at 100 TB: k scans of the evolving token column (the
    replaces stack as codegen projections over the persisted base),
    k pair-count aggregations whose key space is the bigram
    vocabulary; nothing else. This is the standard distributed BPE
    trainer shape; char-level BPE is the same loop seeded with
    char-split tokens.

    Output: (merge_rank, lhs, rhs, pair_count), one row per step.
    """
    spark = df.sparkSession
    base = (
        rebalance_for_fanout(df.select(F.col(text_col)))
        .select(F.array_join(tokens(F.col(text_col)), " ").alias("t"))
        .filter(F.col("t") != "")
    )
    base = persist_tracked(base)  # scanned once per merge step
    merges = _bpe_learn(base, k)
    return spark.createDataFrame(
        merges, "merge_rank int, lhs string, rhs string, pair_count long"
    )


def _bpe_learn(
    base: DataFrame, k: int
) -> list[tuple[int, str, str, int]]:
    """The greedy merge loop over a (persisted) ``t`` token-string
    column — shared by ``bpe_merge_steps`` (the merge-table query) and
    ``bpe_apply_stats`` (train-then-apply)."""
    cur = base
    merges: list[tuple[int, str, str, int]] = []
    for i in range(k):
        toks = F.split(F.col("t"), " ")
        n = F.size(toks)
        pair_arr = F.arrays_zip(
            F.slice(toks, 1, n - 1).alias("lhs"),
            F.slice(toks, 2, n - 1).alias("rhs"),
        )
        top = (
            cur.select(F.explode(pair_arr).alias("p"))
            .select(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
            .groupBy("lhs", "rhs")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("lhs"), F.asc("rhs"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        lhs, rhs, cnt = top[0]["lhs"], top[0]["rhs"], int(top[0]["cnt"])
        merges.append((i + 1, lhs, rhs, cnt))
        cur = cur.select(
            _apply_merge(F.col("t"), lhs, rhs).alias("t")
        )
    return merges


def _apply_merge(t: Column, lhs: str, rhs: str) -> Column:
    """One literal greedy merge pass (non-overlapping left-to-right —
    identical in Spark's replace and DuckDB's)."""
    return F.trim(
        F.replace(
            F.concat(F.lit(" "), t, F.lit(" ")),
            F.lit(f" {lhs} {rhs} "),
            F.lit(f" {lhs}_{rhs} "),
        )
    )


def bpe_apply_stats(
    df: DataFrame,
    k: int = 5,
    text_col: str = "text",
    source_col: str = "source",
    with_merges_csv: bool = False,
) -> DataFrame:
    """Train-then-apply: learn ``k`` BPE merges on the corpus
    (``_bpe_learn``), apply them IN ORDER to every document, and report
    per-source sequence-length compression — the number a tokenizer
    change is actually judged by (shorter sequences = cheaper
    training). The k applied replaces stack as codegen projections over
    one scan; counts are exact ints, the averages one double division,
    ROUND 4.

    ``with_merges_csv`` appends the learned merge table itself as a
    constant column — 'rank:lhs rhs:count' rows joined with '|' — so
    one registration attests BOTH the induction (the merge table) and
    its application (the compression), r10 consolidation of the
    text_bpe_merges/text_bpe_apply pair. The merges are already driver
    state (one row per step), so the column is a literal.

    Output: (source, n_docs, avg_tokens_before, avg_tokens_after,
    compression_pct[, merges_csv])."""
    base = (
        rebalance_for_fanout(df.select(F.col(source_col), F.col(text_col)))
        .select(
            F.col(source_col).alias("source"),
            F.array_join(tokens(F.col(text_col)), " ").alias("t"),
        )
        .filter(F.col("t") != "")
    )
    base = persist_tracked(base)  # k learn scans + the apply scan
    merges = _bpe_learn(base.select("t"), k)
    applied = base.withColumn(
        "n_before", F.size(F.split(F.col("t"), " ")).cast("long")
    )
    for _, lhs, rhs, _cnt in merges:
        applied = applied.withColumn("t", _apply_merge(F.col("t"), lhs, rhs))
    applied = applied.withColumn(
        "n_after", F.size(F.split(F.col("t"), " ")).cast("long")
    )
    out = applied.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.round(
            F.sum(F.col("n_before").cast("decimal(38,0)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("avg_tokens_before"),
        F.round(
            F.sum(F.col("n_after").cast("decimal(38,0)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("avg_tokens_after"),
        F.round(
            (
                1
                - F.sum(F.col("n_after").cast("decimal(38,0)")).cast("double")
                / F.sum(F.col("n_before").cast("decimal(38,0)")).cast("double")
            )
            * 100,
            4,
        ).alias("compression_pct"),
    )
    if with_merges_csv:
        csv = "|".join(
            f"{r}:{lhs} {rhs}:{cnt}" for r, lhs, rhs, cnt in merges
        )
        out = out.withColumn("merges_csv", F.lit(csv))
    return out


def rake_keyphrases(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    stopwords: tuple[str, ...] = EN_STOPWORDS,
    max_words: int = 8,
    k: int = 3,
) -> DataFrame:
    """Per-document top-k RAKE keyphrases (Rose et al. 2010): candidate
    phrases are maximal runs of non-stopword tokens (gaps-and-islands
    on token position), each word scores degree/frequency over the
    corpus-wide candidate occurrences (degree = sum of host-phrase
    lengths), and a phrase scores the sum of its words' scores.

    Determinism discipline: the word score is kept in the INTEGER
    domain — wscore_milli = (1000 * degree) div freq, computed as
    (a - a % b) / b (exact at any magnitude, where floor(a/b) on
    doubles can cross an integer boundary) — so the phrase score is an
    order-independent integer sum and the oracle hash cannot drift on
    float fold order. Ties in the top-k window break on phrase text.

    Shape at scale: posexplode rides the scan; ONE shuffle on the doc
    id serves the islands window AND both per-(doc, run) aggregations
    (hash partitioning on a prefix of the grouping key satisfies the
    clustered distribution); word stats are one vocabulary-keyed
    aggregation joined back on the word (vocabulary-sized dimension,
    shuffle join — at corpus scale the candidate vocabulary outgrows
    any broadcast). Phrases longer than ``max_words`` are dropped (the
    standard RAKE guard against run-on garbage; stopword-free walls of
    text are quality problems, not keyphrases).

    Output: (id_col, phrase, n_words, score_milli, rk), rk 1..k.
    """
    toks = (
        rebalance_for_fanout(df.select(F.col(id_col), F.col(text_col)))
        .select(
            F.col(id_col),
            F.posexplode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("pos", "w"),
        )
        .filter(F.col("w") != "")
    )
    rn = Window.partitionBy(id_col).orderBy("pos")
    ns = toks.filter(~F.col("w").isin(*stopwords)).withColumn(
        "grp", F.col("pos") - F.row_number().over(rn)
    )
    ph = (
        ns.groupBy(id_col, "grp")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda s: s["w"],
            ).alias("ws"),
            F.count(F.lit(1)).cast("long").alias("n_words"),
        )
        .filter(F.col("n_words") <= max_words)
        .withColumn("phrase", F.array_join("ws", " "))
    )
    ph = persist_tracked(ph)  # two consumers: occurrence rows + text join
    occ = ph.select(id_col, "grp", "n_words", F.explode("ws").alias("w"))
    occ = persist_tracked(occ)  # two consumers: word stats + phrase score
    deg1000 = F.sum("n_words") * 1000
    wsc = occ.groupBy("w").agg(
        (
            (deg1000 - deg1000 % F.count(F.lit(1))) / F.count(F.lit(1))
        )
        .cast("long")
        .alias("wscore")
    )
    psc = (
        occ.join(wsc, "w")
        .groupBy(id_col, "grp")
        .agg(F.sum("wscore").cast("long").alias("score_milli"))
    )
    pp = (
        ph.join(psc, [id_col, "grp"])
        .select(id_col, "phrase", "n_words", "score_milli")
        .distinct()
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("score_milli"), F.asc("phrase")
    )
    return (
        pp.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select(id_col, "phrase", "n_words", "score_milli", "rk")
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 3,
    k: int = 3,
) -> DataFrame:
    """Corpus-level collocation extraction: per headword, the top-k
    adjacent-bigram partners by pointwise mutual information. PMI =
    log( P(xy) / (P(x)P(y)) ) — but log is monotone, so the RANKING by
    PMI equals the ranking by the lift ratio N*c(xy) / (c(x)*c(y)),
    which is exact integer arithmetic: no float log whose libm last-ulp
    could diverge between engines. The emitted score is
    lift_milli = (1000 * N * c_xy) div (c_x * c_y), computed in
    DECIMAL(38,0) because the numerator product overflows int64 at
    corpus scale (N ~ 1e12, c_xy ~ 1e9 -> 1e24); the quotient itself
    (<= 1000 * N) always fits a BIGINT. Integer div is the exact
    (a - a % b) / b idiom (PLANS.md; floor(a/b) on doubles can cross an
    integer boundary).

    Definitions (mirrored verbatim by the DuckDB oracle):
    tokens = whitespace split of lower(trim(text)); bigrams = all
    adjacent token pairs (sliding, not distinct); c_x = corpus count of
    token occurrences; N = total bigram count. Bigrams with
    c_xy < min_count are noise-floored out (classic collocation
    practice: PMI over-ranks hapax pairs).

    Shape at scale: one tokenize scan feeds both count aggregations
    (persisted once); unigram counts are a vocabulary-keyed aggregation
    joined back on the word — a shuffle join, NOT broadcast, because a
    web-corpus vocabulary outgrows any broadcast (same call as RAKE's
    word-stats join); N is a single-row aggregate crossJoined in
    (1-row broadcast side); the top-k window partitions on the
    headword, a vocabulary key, never a global order.

    Output: (w1, w2, c_xy, c_x, c_y, lift_milli, rk), rk 1..k per w1,
    ties broken on partner text.
    """
    from pyspark.ml.feature import NGram

    toked = persist_tracked(
        rebalance_for_fanout(df.select(F.col(text_col))).select(
            tokens(F.lower(F.col(text_col))).alias("_toks")
        )
    )
    uni = (
        toked.select(F.explode("_toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    grams = NGram(n=2, inputCol="_toks", outputCol="_grams").transform(toked)
    cxy = (
        grams.select(F.explode("_grams").alias("g"))
        .select(
            F.substring_index("g", " ", 1).alias("w1"),
            F.substring_index("g", " ", -1).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c_xy"))
        .filter(F.col("c_xy") >= min_count)
    )
    # N over ALL bigrams (not just the min_count survivors): the
    # marginal total must describe the corpus, not the filtered set.
    n_total = grams.select(
        F.sum(F.size("_grams")).cast("long").alias("n_bigrams")
    )
    scored = (
        cxy.crossJoin(F.broadcast(n_total))
        .join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c_x")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c_y")), "w2")
    )
    num = (
        F.lit(1000).cast("decimal(38,0)")
        * F.col("n_bigrams")
        * F.col("c_xy")
    )
    # c_x enters the product ALREADY decimal: two stopword marginals
    # (~1e10 each at web scale) overflow an int64 product before the
    # cast could save it — the same reason the numerator leads with a
    # decimal literal.
    den = F.col("c_x").cast("decimal(38,0)") * F.col("c_y")
    lift = ((num - num % den) / den).cast("long")
    w = Window.partitionBy("w1").orderBy(F.desc("lift_milli"), F.asc("w2"))
    return (
        scored.withColumn("lift_milli", lift)
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("w1", "w2", "c_xy", "c_x", "c_y", "lift_milli", "rk")
    )
