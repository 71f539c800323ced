"""Near- and exact-duplicate detection queries over ``documents``.

MinHash-LSH and SimHash candidate generation, pair verification,
connected components, survivor selection, incremental-crawl delta
triage and the blocking quality audits. Every DuckDB oracle rebuilds
the same signature and banding chain, so a hash match checks the
blocking itself, not just the surviving pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from dns_log_transformer_spark.operators import dedup, similarity, text
from dns_log_transformer_spark.operators.caching import persist_tracked
from dns_log_transformer_spark.queries.oracle_sql import (
    _HE_SQL,
    _MH_BANDS,
    _MH_PAIRS_CTES,
    _MH_SIGS,
    _MH_SIG_CTES,
    _QUALITY_RAW_SQL,
    _QUALITY_SCORE_EXPR,
    _SH_PACK,
    _SH_VOTES,
    _SQL_DOT,
    _SQL_NORM,
    _SQL_SHINGLES,
    _SQL_TOKENS,
    _lsh_key_sql,
    _mh_band_cand_ctes,
)
from dns_log_transformer_spark.queries.registry import register, table


@register(
    "dedup_exact",
    oracle=f"""
    SELECT md5({_SQL_NORM}) AS fingerprint,
           COUNT(*)         AS n_docs,
           MIN(doc_id)      AS keep_id
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup groups by normalized-content hash."""
    docs = table(spark, sf, "documents")
    return dedup.exact_dup_groups(docs)


@register(
    "dedup_ngram_jaccard",
    oracle=rf"""
    WITH {_SQL_SHINGLES},
    post AS (SELECT doc_id, len(s) AS n, unnest(s) AS shingle FROM sh),
    rare AS (SELECT shingle FROM post GROUP BY 1 HAVING COUNT(*) <= 100),
    p AS (SELECT post.* FROM post JOIN rare USING (shingle)),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.n AS n_a, b.n AS n_b, COUNT(*) AS n_common
      FROM p a JOIN p b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4)
    SELECT doc_a, doc_b, n_common,
           ROUND(n_common / (n_a + n_b - n_common), 4) AS jaccard
    FROM pairs
    WHERE n_common / (n_a + n_b - n_common) >= 0.6
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Exact trigram-Jaccard >= 0.6 pairs via inverted shingle index
    (df-capped at 100 docs per shingle — the skew guard)."""
    docs = table(spark, sf, "documents")
    return dedup.ngram_jaccard_pairs(docs, threshold=0.6, df_cap=100)


@register(
    "dedup_minhash_lsh",
    oracle=rf"""
    WITH {_SQL_SHINGLES},
    post AS (SELECT doc_id, unnest(s) AS x FROM sh WHERE len(s) > 0),
    hashed AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(x), 1, 12) AS BIGINT)  AS h1,
             CAST('0x' || substr(md5(x), 13, 12) AS BIGINT) AS h2
      FROM post),
    sig AS (
      SELECT doc_id,
{_MH_SIGS}
      FROM hashed GROUP BY doc_id),
    bands AS (
      {_MH_BANDS}),
    bandsc AS (
      SELECT band, key, doc_id FROM (
        SELECT band, key, doc_id,
               COUNT(*) OVER (PARTITION BY band, key) AS _c
        FROM bands)
      WHERE _c <= {dedup.LSH_BUCKET_CAP}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bandsc a JOIN bandsc b USING (band, key)
      WHERE a.doc_id < b.doc_id),
    v AS (
      SELECT doc_a, doc_b,
             len(list_intersect(x.s, y.s)) AS i,
             len(x.s) AS na, len(y.s) AS nb
      FROM cand JOIN sh x ON x.doc_id = doc_a JOIN sh y ON y.doc_id = doc_b)
    SELECT doc_a, doc_b, ROUND(i / (na + nb - i), 4) AS jaccard
    FROM v WHERE i / (na + nb - i) >= 0.5
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash(12)-LSH(4 bands) candidates — hot band buckets excluded
    at LSH_BUCKET_CAP, mirrored in the oracle — verified at
    Jaccard >= 0.5. The oracle rebuilds the identical hash arithmetic
    in SQL."""
    docs = table(spark, sf, "documents")
    return dedup.minhash_lsh_pairs(docs, threshold=0.5)


@register(
    "dedup_components",
    oracle=rf"""
    WITH RECURSIVE {_MH_PAIRS_CTES},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
      UNION ALL
      SELECT doc_b, doc_a FROM dup_pairs),
    nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
    reach(a, b) AS (
      SELECT doc_id, doc_id FROM nodes
      UNION
      SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src)
    SELECT a AS doc_id, MIN(b) AS component FROM reach GROUP BY a
    """,
)
def dedup_components(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate clusters: connected components over the MinHash-LSH
    near-dup pairs via iterative min-label propagation (driver loop +
    convergence check — the 'iterative algorithm' shape). The oracle
    computes the same components with a recursive transitive-closure CTE
    — feasible for DuckDB at oracle scale, quadratic-in-component-size,
    which is exactly why the engine side iterates instead."""
    docs = table(spark, sf, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.5)
    return dedup.connected_components(pairs)


def _simhash_pairs_oracle(bucket_cap: int = None) -> str:
    """The banded + occupancy-capped pair derivation, parametrized so
    tests can run a BINDING cap (the attested default never binds at
    parity scale) against dedup.simhash_pairs on the same data."""
    cap = dedup.SIMHASH_BUCKET_CAP if bucket_cap is None else bucket_cap
    return rf"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct({_SQL_TOKENS})) AS tok
      FROM documents),
    v AS (
      SELECT doc_id,
{_SH_VOTES}
      FROM toks GROUP BY doc_id),
    sh AS (SELECT doc_id, {_SH_PACK} AS simhash FROM v),
    bands AS (
      SELECT doc_id, simhash, CAST(t.band AS INT) AS band,
             (simhash >> CAST(8 * t.band AS INT)) & 255 AS key
      FROM sh, range(4) t(band)),
    bandsc AS (
      SELECT doc_id, simhash, band, key FROM (
        SELECT doc_id, simhash, band, key,
               COUNT(*) OVER (PARTITION BY band, key) AS _c
        FROM bands)
      WHERE _c <= {cap})
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM bandsc a JOIN bandsc b USING (band, key)
    WHERE a.doc_id < b.doc_id
      AND bit_count(xor(a.simhash, b.simhash)) <= 3
    """


@register("dedup_simhash_pairs", oracle=_simhash_pairs_oracle())
def dedup_simhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming <= 3) via byte-band join —
    pigeonhole-exact for <= 3 bit flips wherever the per-(band, key)
    occupancy cap (SIMHASH_BUCKET_CAP, far above every fixture's max
    occupancy, so attested results ARE the exact set) does not bind;
    the oracle replays the identical banding, cap, and verification."""
    docs = table(spark, sf, "documents")
    return dedup.simhash_pairs(docs, max_hamming=3)


_LSH_BUCKET_CAP = 100  # skew guard: buckets with more members skip the pair join


@register(
    "dedup_text_embedding_lsh",
    oracle=f"""
    WITH {_HE_SQL},
    keyed AS (
      SELECT doc_id, v, CAST({_lsh_key_sql(24)} AS INT) AS lsh_key FROM he),
    kept AS (
      SELECT doc_id, v, lsh_key FROM (
        SELECT doc_id, v, lsh_key,
               COUNT(*) OVER (PARTITION BY lsh_key) AS _c
        FROM keyed)
      WHERE _c <= {_LSH_BUCKET_CAP}),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             ROUND({_SQL_DOT.format(a='a.v', b='b.v')}
               / (sqrt({_SQL_DOT.format(a='a.v', b='a.v')})
                  * sqrt({_SQL_DOT.format(a='b.v', b='b.v')})), 4) AS cos_sim
      FROM kept a JOIN kept b
        ON a.lsh_key = b.lsh_key AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= 0.8
    """,
)
def dedup_text_embedding_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-family composition: text -> feature-hashed embeddings ->
    LSH buckets -> within-bucket exact cosine pairs >= 0.8. The
    embedding-space near-dup path run entirely from raw text with no
    trained model — every stage's math is independently oracle-attested
    (text_hashed_embedding, sim_lsh_buckets), and this query attests the
    composition end-to-end.

    Skew guard (the ngram_jaccard df_cap analogue): buckets holding more
    than ``_LSH_BUCKET_CAP`` members are excluded from the pair join —
    at corpus scale one hot LSH key (typically identical/near-identical
    content, which no hyperplane can split) would otherwise become a
    single quadratic join partition. Oversized buckets are exact-dup
    territory; route them through ``dedup_exact`` instead. The cap is a
    per-key window count, so it shuffles on the SAME lsh_key the pair
    join uses — no extra join and no driver-side key list."""
    docs = table(spark, sf, "documents")
    emb = text.hashed_embedding(docs).select(
        F.col("doc_id").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    # persist BEFORE the window/self-join fan-out so tokenize+md5+matmul
    # runs once; ownership: the cache backs the returned (lazy) DataFrame,
    # released on session end / eviction (see PLANS.md persist ownership).
    keyed = persist_tracked(
        similarity.with_norm(
            similarity.with_lsh_bucket(emb, num_planes=24), "embedding"
        )
    )
    kept = (
        keyed.withColumn(
            "_c", F.count("*").over(W.partitionBy("lsh_key"))
        )
        .filter(F.col("_c") <= _LSH_BUCKET_CAP)
        .drop("_c")
    )
    a = kept.select(
        "lsh_key",
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("_va"),
        F.col("nrm").alias("_na"),
    )
    b = kept.select(
        "lsh_key",
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("_vb"),
        F.col("nrm").alias("_nb"),
    )
    cos = similarity.dot_pd(F.col("_va"), F.col("_vb")) / (
        F.col("_na") * F.col("_nb")
    )
    return (
        a.join(b, "lsh_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cos, 4).alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.8)
    )


# ---------------------------------------------------------------------------
# Quality-aware dedup survivor selection
# ---------------------------------------------------------------------------
def _keep_best_oracle() -> str:
    skey = (
        "CAST(ROUND(scored.quality_score * 10000) AS BIGINT)"
        " * 1000000000000 - allc.doc_id"
    )
    return rf"""
    WITH RECURSIVE {_MH_PAIRS_CTES},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
      UNION ALL
      SELECT doc_b, doc_a FROM dup_pairs),
    nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
    reach(a, b) AS (
      SELECT doc_id, doc_id FROM nodes
      UNION
      SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
    comp AS (SELECT a AS doc_id, MIN(b) AS component FROM reach GROUP BY a),
    q AS ({_QUALITY_RAW_SQL}),
    scored AS (
      SELECT doc_id, {_QUALITY_SCORE_EXPR} AS quality_score FROM q),
    allc AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
      FROM documents d LEFT JOIN comp c USING (doc_id)),
    best AS (
      SELECT component, arg_max(allc.doc_id, {skey}) AS best_id
      FROM allc JOIN scored ON allc.doc_id = scored.doc_id
      GROUP BY component)
    SELECT allc.doc_id,
           allc.component AS keep_id,
           allc.doc_id = allc.component AS is_kept_min,
           best.best_id,
           allc.doc_id = best.best_id AS is_kept
    FROM allc JOIN best USING (component)
    """


@register("dedup_keep_best", oracle=_keep_best_oracle())
def dedup_keep_best(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup survivor election, BOTH shipped policies in one per-doc
    frame (r10: dedup_keep_list consolidated in, VERDICT r9 #1 — the
    two shells shared the pairs -> components -> full-corpus join-back
    pipeline and differed only in the elected survivor):

    - ``keep_id`` / ``is_kept_min``: the cluster's canonical MIN doc id
      (docs outside any cluster keep themselves) — the join-key
      artifact a corpus dedup ships for downstream `WHERE is_kept` /
      keep_id joins;
    - ``best_id`` / ``is_kept``: the HIGHEST-quality member (min
      doc_id tiebreak) — the policy real curation elects (drop the
      boilerplate copy, keep the clean one).

    Composition: MinHash-LSH pairs -> connected components (both
    already attested) -> left join back to the full corpus (singletons
    must survive) -> one max_by per component over a packed
    (score, -id) int64 key — argmax replaces the join-back-on-max
    idiom, so survivor election costs ONE extra hash aggregation on
    component ids, and the min-id policy is free (it IS the component
    id the left join already carries).
    """
    from dns_log_transformer_spark.operators import dedup, text as text_ops

    docs = table(spark, sf, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.5)
    comp = dedup.connected_components(pairs)
    scored = text_ops.with_quality_score(docs).select(
        "doc_id", "quality_score"
    )
    allc = persist_tracked(
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("component"),
        )
    )
    skey = (
        F.round(F.col("quality_score") * 10000).cast("long")
        * F.lit(1_000_000_000_000)
        - F.col("doc_id")
    )
    best = (
        allc.join(scored, "doc_id")
        .groupBy("component")
        .agg(F.max_by("doc_id", skey).alias("best_id"))
    )
    return allc.join(best, "component").select(
        "doc_id",
        F.col("component").alias("keep_id"),
        (F.col("doc_id") == F.col("component")).alias("is_kept_min"),
        "best_id",
        (F.col("doc_id") == F.col("best_id")).alias("is_kept"),
    )


# ---------------------------------------------------------------------------
# Sorted-neighborhood dedup (blocking-sort + edit-distance verify)
# ---------------------------------------------------------------------------
@register(
    "dedup_sorted_neighborhood",
    oracle=r"""
    WITH n AS (
      SELECT doc_id,
             COALESCE(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                      '') AS t
      FROM documents),
    b AS (SELECT doc_id, substr(t, 1, 24) AS bk,
                 substr(t, 1, 40) AS prefix FROM n),
    r AS (SELECT doc_id, prefix,
                 ROW_NUMBER() OVER (ORDER BY bk, doc_id) AS rn FROM b),
    cand AS (
      SELECT a.doc_id AS ida, b.doc_id AS idb,
             levenshtein(a.prefix, b.prefix) AS ed
      FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 3)
    SELECT LEAST(ida, idb) AS doc_a, GREATEST(ida, idb) AS doc_b,
           CAST(ed AS INT) AS edit_distance
    FROM cand WHERE ed <= 20
    """,
)
def dedup_sorted_neighborhood(spark: SparkSession, sf: str) -> DataFrame:
    """Sorted-neighborhood dedup (the entity-resolution classic): range-
    partitioned global sort on a normalized 24-char blocking key, each
    row paired with its next 3 sort neighbors, Levenshtein verify on the
    40-char normalized prefix, distance <= 20. Catches shared-prefix
    variants token-hash blocking misses. See
    operators/dedup.py sorted_neighborhood_pairs for the scale shape
    (global_rank sort, explode+equi-join candidates — no range join)."""
    from dns_log_transformer_spark.operators import dedup

    docs = table(spark, sf, "documents")
    return dedup.sorted_neighborhood_pairs(
        docs, key_len=24, prefix_len=40, window=3, max_distance=20
    )


# ---------------------------------------------------------------------------
# dedup_incremental_delta — new-crawl-batch triage against the corpus
# ---------------------------------------------------------------------------

#: synthetic id offset for the "re-crawled URL, new id, same bytes" rows.
#: Fixture invariant (ADVICE r8): every real doc_id must stay BELOW this
#: offset or the is_new predicate silently reclassifies it — max doc_id
#: is 4,999 at sf0.1 / ~50k at sf1 (TESTDATA.md scaling), and the
#: scratch/x10 replica set offsets ids by 1e7 per replica (max ~9e7,
#: which overflowed the original 1e6 offset — hence 1e12, far above any
#: scale-up this repo runs while well inside int64).
#: tests/test_round8.py::test_recrawl_offset_clears_fixture_ids pins the
#: invariant against every shipped sf directory.
_RECRAWL_OFFSET = 10**12


def _delta_oracle() -> str:
    # the shared MinHash recipe verbatim, retargeted at the delta
    # union (old corpus + new batch incl. re-crawled copies) — ONE
    # definition of the pipeline, so a recipe tweak cannot drift this
    # oracle from the dedup_* family. The retarget must hit EXACTLY the
    # shingle CTE's one source mention; a recipe edit that adds another
    # 'FROM documents' would be rewritten silently (ADVICE r8), so fail
    # loudly here instead.
    n_mentions = _MH_PAIRS_CTES.count("FROM documents")
    if n_mentions != 1:
        raise AssertionError(
            "dedup_incremental_delta oracle retarget expects exactly one "
            f"'FROM documents' in _MH_PAIRS_CTES, found {n_mentions} — "
            "parameterize the new mention instead of relying on replace()"
        )
    mh = _MH_PAIRS_CTES.replace("FROM documents", "FROM alldocs")
    norm = _SQL_NORM
    return rf"""
    WITH alldocs AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0
      UNION ALL
      SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + {_RECRAWL_OFFSET} AS doc_id, text
      FROM documents WHERE doc_id % 50 = 1),
    {mh},
    fp AS (SELECT doc_id, COALESCE(md5({norm}), '') AS f FROM alldocs),
    oldfp AS (SELECT DISTINCT f FROM fp
              WHERE doc_id < {_RECRAWL_OFFSET} AND doc_id % 5 <> 0),
    exact AS (SELECT fp.doc_id FROM fp JOIN oldfp USING (f)
              WHERE doc_id >= {_RECRAWL_OFFSET} OR doc_id % 5 = 0),
    nearp AS (
      SELECT doc_a AS nid FROM dup_pairs
      WHERE (doc_a >= {_RECRAWL_OFFSET} OR doc_a % 5 = 0)
        AND doc_b < {_RECRAWL_OFFSET} AND doc_b % 5 <> 0
      UNION
      SELECT doc_b FROM dup_pairs
      WHERE (doc_b >= {_RECRAWL_OFFSET} OR doc_b % 5 = 0)
        AND doc_a < {_RECRAWL_OFFSET} AND doc_a % 5 <> 0)
    SELECT n.doc_id,
           CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                WHEN p.nid IS NOT NULL THEN 'near_dup'
                ELSE 'novel' END AS status
    FROM (SELECT doc_id FROM alldocs
          WHERE doc_id >= {_RECRAWL_OFFSET} OR doc_id % 5 = 0) n
    LEFT JOIN exact e ON e.doc_id = n.doc_id
    LEFT JOIN (SELECT DISTINCT nid FROM nearp) p ON p.nid = n.doc_id
    ORDER BY n.doc_id
    """


@register("dedup_incremental_delta", oracle=_delta_oracle())
def dedup_incremental_delta(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental crawl-batch dedup triage — the BATCH twin of the
    streaming near-dup index (streaming/neardup_index.py): a new batch
    of documents (modelled as the doc_id % 5 == 0 docs plus re-crawled
    copies of the % 50 == 1 docs under fresh synthetic ids — the
    "same URL fetched again" shape) is classified against the existing
    corpus as exact_dup (normalized-md5 fingerprint already held by an
    existing doc), near_dup (capped MinHash-LSH pair with an existing
    doc at jaccard >= 0.5), or novel.

    Scale shape — the candidate join is NEW x OLD only: band rows are
    built over the union (so hot-bucket occupancy is counted exactly
    as the one-shot does), then split by side BEFORE the join — the
    old x old fan-out, the overwhelming bulk at 100 TB where the batch
    is a sliver of the corpus, is never generated. Exact dups are a
    fingerprint semi-join; both stages reuse the attested machinery
    (text.with_fingerprint, dedup.lsh_band_rows + the shared occupancy
    cap)."""
    from dns_log_transformer_spark.operators import dedup, text
    from dns_log_transformer_spark.operators.caching import persist_tracked

    docs = table(spark, sf, "documents").select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 5 != 0)
    recrawl = docs.filter(F.col("doc_id") % 50 == 1).select(
        (F.col("doc_id") + _RECRAWL_OFFSET).alias("doc_id"), "text"
    )
    new_b = docs.filter(F.col("doc_id") % 5 == 0).unionByName(recrawl)
    alldocs = old.unionByName(new_b)
    is_new = (F.col("doc_id") >= _RECRAWL_OFFSET) | (F.col("doc_id") % 5 == 0)

    # near-dup: band over the UNION (occupancy = one-shot semantics),
    # then candidates strictly new-side x old-side
    sh = persist_tracked(
        dedup.with_shingles(alldocs).filter(F.col("n_shingles") > 0)
    )
    kept = dedup.drop_heavy_buckets(
        persist_tracked(dedup.lsh_band_rows(sh)), dedup.LSH_BUCKET_CAP
    )
    cand = (
        kept.filter(is_new)
        .select("band", "key", F.col("doc_id").alias("_n"))
        .join(
            kept.filter(~is_new).select(
                "band", "key", F.col("doc_id").alias("_o")
            ),
            ["band", "key"],
        )
        .select("_n", "_o")
        .dropDuplicates()
    )
    inter = F.size(F.array_intersect("sh_n", "sh_o"))
    union = F.size("sh_n") + F.size("sh_o") - inter
    near = (
        cand.join(
            sh.select(F.col("doc_id").alias("_n"), F.col("shingles").alias("sh_n")),
            "_n",
        )
        .join(
            sh.select(F.col("doc_id").alias("_o"), F.col("shingles").alias("sh_o")),
            "_o",
        )
        .filter(inter.cast("double") / union.cast("double") >= 0.5)
        .select(F.col("_n").alias("doc_id"))
        .distinct()
        .withColumn("_near", F.lit(True))
    )

    # exact: fingerprint semi-join against the existing corpus
    fp = text.with_fingerprint(alldocs, text_col="text").select(
        "doc_id", F.coalesce("fingerprint", F.lit("")).alias("_f")
    )
    exact = (
        fp.filter(is_new)
        .join(fp.filter(~is_new).select("_f").distinct(), "_f", "left_semi")
        .select("doc_id")
        .withColumn("_exact", F.lit(True))
    )

    return (
        new_b.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_exact"), F.lit("exact_dup"))
            .when(F.col("_near"), F.lit("near_dup"))
            .otherwise(F.lit("novel"))
            .alias("status"),
        )
        .orderBy("doc_id")
    )


def _containment_oracle() -> str:
    return rf"""
    WITH {_SQL_SHINGLES},
    post AS (SELECT doc_id, len(s) AS n, unnest(s) AS shingle FROM sh),
    rare AS (SELECT shingle FROM post GROUP BY 1 HAVING COUNT(*) <= 100),
    p AS (SELECT post.* FROM post JOIN rare USING (shingle)),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.n AS n_a, b.n AS n_b, COUNT(*) AS n_common
      FROM p a JOIN p b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4)
    SELECT doc_a, doc_b, n_common,
           ROUND(n_common / LEAST(n_a, n_b), 4) AS containment,
           ROUND(n_common / (n_a + n_b - n_common), 4) AS jaccard,
           CASE WHEN n_a <= n_b THEN doc_a ELSE doc_b END AS contained_doc
    FROM pairs
    WHERE n_common / LEAST(n_a, n_b) >= 0.8
    """


@register("dedup_containment", oracle=_containment_oracle())
def dedup_containment(spark: SparkSession, sf: str) -> DataFrame:
    """Asymmetric containment dedup (trigram shingles, containment =
    |A∩B| / min(|A|,|B|) >= 0.8): the subset-duplication detector
    symmetric Jaccard structurally misses — a doc engulfed verbatim in
    one 4x its size keeps containment ~1.0 while Jaccard falls to
    ~0.25, below any sane threshold. Emits the riding jaccard so the
    missed regime is visible per pair, and contained_doc (the smaller
    side) as the curation drop candidate.

    Scale shape: identical to dedup_ngram_jaccard — one inverted
    shingle index (persisted once, two consumers), one shuffle on
    shingle with the df_cap <= 100 skew guard, one on the pair key;
    the cap undercounts n_common identically on both engines, so
    containment is a deterministic lower bound
    (operators/dedup.py containment_pairs).
    """
    from dns_log_transformer_spark.operators import dedup

    docs = table(spark, sf, "documents")
    return dedup.containment_pairs(docs, threshold=0.8, df_cap=100)


#: The df_cap(100)-bounded exact-Jaccard TRUTH pair chain at J >= 0.5
#: as WITH-clause text over the shared ``sh`` shingle CTE — factored so
#: the r13 blocking-tradeoff oracle grades every band setting against
#: the IDENTICAL truth definition the attested audit uses.
_BLOCKING_TRUTH_CTES = """tp AS (SELECT doc_id, len(s) AS n, unnest(s) AS shingle FROM sh),
    rare AS (SELECT shingle FROM tp GROUP BY 1 HAVING COUNT(*) <= 100),
    p AS (SELECT tp.* FROM tp JOIN rare USING (shingle)),
    tpairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.n AS n_a, b.n AS n_b, COUNT(*) AS n_common
      FROM p a JOIN p b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4),
    truth AS (
      SELECT doc_a, doc_b FROM tpairs
      WHERE n_common / (n_a + n_b - n_common) >= 0.5)"""


def _blocking_audit_oracle() -> str:
    # The candidate chain (shingles -> md5-half minhash -> bands ->
    # bucket cap -> cand) is oracle_sql._MH_PAIRS_CTES verbatim — ONE
    # definition, so a future hash-family or cap change cannot
    # desynchronize the audit oracle from the candidate generator it
    # grades. Its unreferenced tail CTEs (v, dup_pairs) cost nothing:
    # DuckDB plans only referenced CTEs.
    return rf"""
    WITH {_MH_PAIRS_CTES},
    {_BLOCKING_TRUTH_CTES},
    s AS (SELECT
      (SELECT COUNT(*) FROM sh WHERE len(s) > 0)::BIGINT AS n_docs,
      (SELECT COUNT(*) FROM truth)::BIGINT AS n_truth,
      (SELECT COUNT(*) FROM cand)::BIGINT AS n_cand,
      (SELECT COUNT(*) FROM cand JOIN truth USING (doc_a, doc_b))::BIGINT
        AS n_hit)
    SELECT n_docs,
           CAST((n_docs * (n_docs - 1)) // 2 AS BIGINT) AS n_possible_pairs,
           n_truth, n_cand, n_hit,
           CASE WHEN n_truth > 0
                THEN CAST((1000 * n_hit) // n_truth AS BIGINT)
           END AS pair_completeness_milli,
           CASE WHEN n_docs >= 2
                THEN CAST(1000 - (1000 * n_cand)
                          // ((n_docs * (n_docs - 1)) // 2) AS BIGINT)
           END AS reduction_ratio_milli,
           CASE WHEN n_cand > 0
                THEN CAST((1000 * n_hit) // n_cand AS BIGINT)
           END AS precision_milli
    FROM s
    """


@register("dedup_blocking_audit", oracle=_blocking_audit_oracle())
def dedup_blocking_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Blocking-quality QA (Christen's record-linkage metrics): pair
    completeness, reduction ratio and precision of the MinHash-LSH
    candidate pairs against the df-capped exact-Jaccard truth pairs at
    J >= 0.5 — audited BELOW the 12-hash/4-band s-curve midpoint
    (~0.63) on purpose, the regime where banding misses real pairs.
    One row of corpus-level numbers a curation run gates on before
    trusting its dedup pass.

    Scale shape (operators/dedup.py blocking_audit): the shingle frame
    is shared by both sides (computed once, persisted); every metric is
    a 1-row aggregate; ratios are exact integer milli.
    """
    from dns_log_transformer_spark.operators import dedup

    docs = table(spark, sf, "documents")
    return dedup.blocking_audit(docs, threshold=0.5, df_cap=100)


# ONE definition of the swept band settings and the truth df-cap for
# BOTH engines (ADVICE r13): the oracle generator iterates these, and
# the Spark registration passes them explicitly — a default change in
# dedup.blocking_tradeoff cannot silently desynchronize the two sides.
TRADEOFF_BAND_SETTINGS: tuple[int, ...] = (2, 3, 4, 6)
TRADEOFF_DF_CAP = 100


def _blocking_tradeoff_oracle() -> str:
    # ONE definition everywhere: the signature chain and each setting's
    # band/candidate chain come from oracle_sql (_MH_SIG_CTES /
    # _mh_band_cand_ctes — the same text _MH_PAIRS_CTES is built from),
    # and the truth chain is the audit's _BLOCKING_TRUTH_CTES verbatim —
    # the attested audit's truth definition. A hash-family, cap or
    # truth-threshold change cannot desynchronize the sweep from the
    # audit it extends.
    # the truth chain hardcodes its df-cap (one definition, shared with
    # the audit); fail loudly here if the Spark-side constant ever
    # drifts from it instead of desynchronizing the engines
    assert f"COUNT(*) <= {TRADEOFF_DF_CAP}" in _BLOCKING_TRUTH_CTES, (
        "TRADEOFF_DF_CAP no longer matches _BLOCKING_TRUTH_CTES"
    )
    settings = TRADEOFF_BAND_SETTINGS
    per = ",\n    ".join(_mh_band_cand_ctes(b, f"_{b}") for b in settings)
    metrics = "\n      UNION ALL ".join(
        f"SELECT CAST({b} AS BIGINT) AS num_bands, "
        f"CAST({12 // b} AS BIGINT) AS rows_per_band, "
        f"(SELECT COUNT(*) FROM cand_{b})::BIGINT AS n_cand, "
        f"(SELECT COUNT(*) FROM cand_{b} JOIN truth USING (doc_a, doc_b))"
        f"::BIGINT AS n_hit"
        for b in settings
    )
    return rf"""
    WITH {_MH_SIG_CTES},
    {_BLOCKING_TRUTH_CTES},
    base AS (SELECT
      (SELECT COUNT(*) FROM sh WHERE len(s) > 0)::BIGINT AS n_docs,
      (SELECT COUNT(*) FROM truth)::BIGINT AS n_truth),
    {per},
    m AS (
      {metrics})
    SELECT m.num_bands, m.rows_per_band, base.n_docs,
           -- HUGEINT like the Spark side's decimal(38,0): BIGINT*BIGINT
           -- wraps past ~3e9 docs (the ADVICE r12 PMI class)
           CAST((CAST(n_docs AS HUGEINT) * (n_docs - 1)) // 2 AS BIGINT)
             AS n_possible_pairs,
           base.n_truth, m.n_cand, m.n_hit,
           CASE WHEN n_truth > 0
                THEN CAST((1000 * CAST(n_hit AS HUGEINT)) // n_truth
                     AS BIGINT)
           END AS pair_completeness_milli,
           CASE WHEN n_docs >= 2
                THEN CAST(1000 - (1000 * CAST(n_cand AS HUGEINT))
                          // ((CAST(n_docs AS HUGEINT) * (n_docs - 1)) // 2)
                     AS BIGINT)
           END AS reduction_ratio_milli,
           CASE WHEN n_cand > 0
                THEN CAST((1000 * CAST(n_hit AS HUGEINT)) // n_cand
                     AS BIGINT)
           END AS precision_milli
    FROM m, base
    """


@register("dedup_blocking_tradeoff", oracle=_blocking_tradeoff_oracle())
def dedup_blocking_tradeoff(spark: SparkSession, sf: str) -> DataFrame:
    """The banding tuning decision as an attested query (VERDICT r12
    #7): one row of Christen blocking metrics (pair completeness,
    reduction ratio, precision vs the df-capped exact-Jaccard truth at
    J >= 0.5) per (bands, rows-per-band) setting of the 12-hash MinHash
    family — 2x6 (s-curve midpoint ~0.89) through 6x2 (~0.41). The r12
    ``dedup_blocking_audit`` reports the shipped config's quality; this
    query answers "which config" — a decision a one-off band sweep
    (PLANS.md) once made by hand.

    Scale shape (operators/dedup.py blocking_tradeoff): shingles, the
    truth pair set and the band-independent signature frame are each
    computed ONCE and persisted (the ADVICE r12 hoist); per setting
    only the cheap banding explode, the capped candidate join and three
    1-row aggregates rerun. Ratios exact integer milli.
    """
    from dns_log_transformer_spark.operators import dedup

    docs = table(spark, sf, "documents")
    return dedup.blocking_tradeoff(
        docs,
        threshold=0.5,
        df_cap=TRADEOFF_DF_CAP,
        band_settings=TRADEOFF_BAND_SETTINGS,
    )
