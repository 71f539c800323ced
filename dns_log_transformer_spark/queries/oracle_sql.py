"""DuckDB oracle fragments shared by more than one query domain.

Each fragment mirrors the operator it checks (``operators/text.py``,
``operators/dedup.py``, ``operators/similarity.py``) step for step:
the same md5-derived hashes, the same fold order for floats, the same
guards. Oracles built from them therefore check the declared algorithm,
not just the row count. A fragment used by one domain lives in that
domain's module; this module registers nothing.
"""

from __future__ import annotations

from dns_log_transformer_spark.operators import dedup, similarity, text


# empty/whitespace-only text must be [] on BOTH sides: DuckDB's
# string_split_regex('') yields [''] (len 1) where Spark's tokens() guard
# yields [] — mirror the guard here
_SQL_TOKENS = (
    r"(CASE WHEN trim(text) IS NULL OR trim(text) = '' "
    r"THEN CAST([] AS VARCHAR[]) "
    r"ELSE string_split_regex(trim(text), '\s+') END)"
)
_SQL_NORM = r"regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"
_SQL_SHINGLES = rf"""
  toks AS (SELECT doc_id, {_SQL_TOKENS} AS w FROM documents),
  sh AS (
    SELECT doc_id,
           list_distinct(list_transform(range(len(w) - 2),
             i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS s
    FROM toks WHERE len(w) >= 3)
"""


def _in_list(words: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in words)


# Quality-score recipe shared by text_quality (which since r10 also
# carries the decile/classifier columns) and corpus_token_budget
# (mirrors operators/text.py with_quality_score) —
# ONE definition so a blend tweak cannot drift a subset of oracles.
# Both fragments are .format()-ed into oracles at module import.
_QUALITY_RAW_SQL = rf"""
      SELECT doc_id, source,
             CAST(LENGTH(text) AS BIGINT) AS n_chars_m,
             CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tokens,
             LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
               / LENGTH(text) AS alpha_ratio_raw,
             len(list_filter({_SQL_TOKENS},
                 t -> t IN ({_in_list(text.EN_STOPWORDS)})))::DOUBLE
               / len({_SQL_TOKENS}) AS sw_ratio_raw
      FROM documents"""
_QUALITY_SCORE_EXPR = (
    "ROUND(0.4 * alpha_ratio_raw"
    " + 0.4 * LEAST(sw_ratio_raw * 5, 1.0)"
    " + 0.2 * LEAST(n_tokens / 100.0, 1.0), 4)"
)


_LANG_SCORES_SQL = ",\n".join(
    f"           len(list_filter({_SQL_TOKENS}, t -> t IN"
    f" ({_in_list(ws)})))::BIGINT AS score_{lang}"
    for lang, ws in text.LANG_STOPWORDS.items()
)
_LANG_PRED_SQL = "CASE WHEN greatest(score_en, score_es, score_fr, score_de) = 0 THEN 'und' " + " ".join(
    f"WHEN score_{lang} = greatest(score_en, score_es, score_fr, score_de) THEN '{lang}'"
    for lang in text.LANG_PRIORITY
) + " END"


def _simhash_sql() -> tuple[str, str]:
    # token hash = first 8 md5 hex chars as an int, bit b votes +-1
    # (mirrors operators/dedup.py simhash's conv(substr(md5,1,8),16,10)).
    votes = ",\n".join(
        "      SUM(((CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) "
        f">> {bit}) & 1) * 2 - 1) AS s{bit}"
        for bit in range(dedup.SIMHASH_BITS)
    )
    pack = " + ".join(
        f"CASE WHEN s{bit} > 0 THEN CAST({1 << bit} AS BIGINT) ELSE 0 END"
        for bit in range(dedup.SIMHASH_BITS)
    )
    return votes, pack


_SH_VOTES, _SH_PACK = _simhash_sql()


def _minhash_sig_sql(num_bands: int = dedup.NUM_BANDS) -> tuple[str, str]:
    # Kirsch-Mitzenmacher family, mirroring operators/dedup.py
    # minhash_signatures: one md5 per shingle, h1/h2 = the two 48-bit hex
    # halves, h_j = h1 + j*h2 (exact BIGINT arithmetic in both engines).
    # ``num_bands`` parameterizes the banding text (the r13 tradeoff
    # oracle sweeps it); the signature CTE is band-independent.
    sigs = ",\n".join(
        f"      MIN(h1 + {j} * h2) AS m{j}" for j in range(dedup.NUM_HASHES)
    )
    rows = dedup.NUM_HASHES // num_bands
    bands = "\n      UNION ALL ".join(
        f"SELECT doc_id, {k} AS band, "
        + " || '_' || ".join(f"CAST(m{k * rows + r} AS VARCHAR)" for r in range(rows))
        + " AS key FROM sig"
        for k in range(num_bands)
    )
    return sigs, bands


_MH_SIGS, _MH_BANDS = _minhash_sig_sql()

#: Band-INDEPENDENT prefix of the minhash chain (shingles -> posting ->
#: md5-half hashes -> signature) as WITH-clause text: shared by
#: ``_MH_PAIRS_CTES`` below and the r13 blocking-tradeoff oracle, which
#: sweeps band settings over this one signature CTE exactly like the
#: engine side hoists ``minhash_signatures`` out of its settings loop.
_MH_SIG_CTES = rf"""{_SQL_SHINGLES},
    post AS (SELECT doc_id, unnest(s) AS x FROM sh WHERE len(s) > 0),
    hashed AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(x), 1, 12) AS BIGINT)  AS h1,
             CAST('0x' || substr(md5(x), 13, 12) AS BIGINT) AS h2
      FROM post),
    sig AS (
      SELECT doc_id,
{_MH_SIGS}
      FROM hashed GROUP BY doc_id)"""


def _mh_band_cand_ctes(num_bands: int = dedup.NUM_BANDS, suffix: str = "") -> str:
    """bands/bandsc/cand WITH-clause text over the shared ``sig`` CTE,
    for ``num_bands`` bands, CTE names suffixed so several settings can
    coexist in one statement (the tradeoff sweep). suffix='' at the
    default banding reproduces the attested ``_MH_PAIRS_CTES`` section
    byte-for-byte — ONE definition of the candidate chain."""
    _, bands = _minhash_sig_sql(num_bands)
    return rf"""bands{suffix} AS (
      {bands}),
    bandsc{suffix} AS (
      SELECT band, key, doc_id FROM (
        SELECT band, key, doc_id,
               COUNT(*) OVER (PARTITION BY band, key) AS _c
        FROM bands{suffix})
      WHERE _c <= {dedup.LSH_BUCKET_CAP}),
    cand{suffix} AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bandsc{suffix} a JOIN bandsc{suffix} b USING (band, key)
      WHERE a.doc_id < b.doc_id)"""


#: The minhash pair derivation as reusable WITH-clause text (shared by
#: the dedup pairs and components oracles and the corpus funnels).
_MH_PAIRS_CTES = rf"""{_MH_SIG_CTES},
    {_mh_band_cand_ctes()},
    v AS (
      SELECT doc_a, doc_b,
             len(list_intersect(x.s, y.s)) AS i,
             len(x.s) AS na, len(y.s) AS nb
      FROM cand JOIN sh x ON x.doc_id = doc_a JOIN sh y ON y.doc_id = doc_b),
    dup_pairs AS (
      SELECT doc_a, doc_b FROM v WHERE i / (na + nb - i) >= 0.5)"""


_SQL_DOT = "list_sum(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]))"


def _plane_literal(p: int, num_planes: int = similarity.NUM_PLANES) -> str:
    planes = similarity.lsh_planes(num_planes)
    return "[" + ", ".join(str(x) for x in planes[p]) + "]"


def _lsh_key_sql(num_planes: int) -> str:
    return " + ".join(
        f"CASE WHEN {_SQL_DOT.format(a='v', b=_plane_literal(p, num_planes))} > 0"
        f" THEN {1 << p} ELSE 0 END"
        for p in range(num_planes)
    )


_REPETITION_ORACLE = rf"""
    WITH toked AS (SELECT doc_id, {_SQL_TOKENS} AS w FROM documents),
    base AS (
      SELECT doc_id,
             CAST(len(w) AS BIGINT) AS n_tokens,
             CAST(len(array_to_string(w, ' ')) AS BIGINT) AS n_chars,
             CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct
      FROM toked),
    g2 AS (
      SELECT doc_id, unnest(list_transform(range(len(w) - 1),
               i -> w[i+1] || ' ' || w[i+2])) AS gram
      FROM toked WHERE len(w) >= 2),
    c2 AS (SELECT doc_id, gram, count(*) AS cnt FROM g2 GROUP BY doc_id, gram),
    top2 AS (
      SELECT doc_id, gram AS top2_gram, cnt AS top2_count
      FROM (SELECT doc_id, gram, cnt,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY cnt DESC, gram DESC) AS rn
            FROM c2)
      WHERE rn = 1),
    g5 AS (
      SELECT doc_id, unnest(list_transform(range(len(w) - 4),
               i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
                    w[i+4] || ' ' || w[i+5])) AS gram
      FROM toked WHERE len(w) >= 5),
    c5 AS (
      SELECT doc_id, CAST(sum(cnt * len(gram)) AS BIGINT) AS dup5_chars
      FROM (SELECT doc_id, gram, count(*) AS cnt FROM g5 GROUP BY doc_id, gram)
      WHERE cnt > 1 GROUP BY doc_id),
    stats AS (
      SELECT b.doc_id, b.n_tokens,
             CASE WHEN b.n_tokens > 0
                  THEN ROUND((b.n_tokens - b.n_distinct) * 1.0 / b.n_tokens, 4)
                  ELSE 0.0 END AS dup_word_frac,
             t.top2_gram,
             CAST(COALESCE(t.top2_count, 0) AS BIGINT) AS top2_count,
             CASE WHEN b.n_chars > 0
                  THEN ROUND(COALESCE(t.top2_count, 0)
                             * len(COALESCE(t.top2_gram, '')) * 1.0
                             / b.n_chars, 4)
                  ELSE 0.0 END AS top2_char_frac,
             CASE WHEN b.n_chars > 0
                  THEN ROUND(COALESCE(c.dup5_chars, 0) * 1.0 / b.n_chars, 4)
                  ELSE 0.0 END AS dup5_char_frac
      FROM base b
      LEFT JOIN top2 t ON t.doc_id = b.doc_id
      LEFT JOIN c5 c ON c.doc_id = b.doc_id)
    SELECT *, (top2_char_frac > 0.15 OR dup5_char_frac > 0.30)
             AS flag_repetitive
    FROM stats
    """


_HE_DIM = text.HASH_EMBED_DIM


_HE_SQL = f"""
    he AS (
      SELECT doc_id,
             list_transform(range({_HE_DIM}),
                            i -> CAST(COALESCE(
                              vs[list_position(ds, CAST(i AS INT))], 0)
                              AS DOUBLE)) AS v
      FROM (
        SELECT doc_id, list(d ORDER BY d) AS ds, list(v ORDER BY d) AS vs
        FROM (
          SELECT doc_id, CAST(h % {_HE_DIM} AS INT) AS d,
                 CAST(SUM(((h // 1048576) % 2) * 2 - 1) AS BIGINT) AS v
          FROM (
            SELECT doc_id,
                   CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) AS h
            FROM (SELECT doc_id, unnest({_SQL_TOKENS}) AS tok FROM documents))
          GROUP BY 1, 2)
        GROUP BY doc_id))
"""
