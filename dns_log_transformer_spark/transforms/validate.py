"""Structural validation with quarantine — reference P5/P7.

`is_valid_dns_data` (app/app.py:175-217) checks 14 required keys, their
Python types, per-answer Rdata/Type presence, and srcids.instance; an
invalid record is logged and skipped (app/app.py:229-231). Here the same
gate is a boolean Column over the parsed struct, and "log and skip"
becomes a two-way split: valid rows continue, invalid rows carry a
``reject_reason`` so a dead-letter sink can persist them (the idiomatic
Spark upgrade of log-and-drop, SURVEY.md S7).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dns_log_transformer_spark.schemas import DNS_REQUIRED_FIELDS, QUERY_TS_FORMAT

#: Scalar fields whose NULL means "missing or wrong-typed in the source"
#: (app/app.py:177-191). answers/srcids handled structurally below.
_SCALAR_FIELDS = [f for f in DNS_REQUIRED_FIELDS if f not in ("answers", "srcids")]


def dns_validity_predicate(dns: Column) -> Column:
    """True iff the record would pass `is_valid_dns_data` *and* its
    timestamp parses (a bad timestamp is also a skip in the reference —
    strptime raises inside the formatter and the generic handler drops the
    record, app/app.py:149,261-263).

    - every scalar field non-null;
    - answers non-null, every answer has non-null Rdata AND Type — the
      reference rejects an answer missing either KEY (app/app.py:208-210),
      which makes the formatter's .get('Rdata','N/A') default unreachable
      post-validation (app/app.py:168). from_json maps a missing key to
      null, so null-Rdata == missing-Rdata == reject here. (An *explicit*
      JSON null Rdata is the one case the reference would accept, printing
      'None' — indistinguishable from missing under from_json; we take the
      reject side, matching the realistic missing-key case.)
    - srcids.instance non-null (app/app.py:212-215);
    - query_timestamp matches yyyy-MM-dd'T'HH:mm:ss'Z' strictly.
    """
    checks = [dns.isNotNull()]
    for f in _SCALAR_FIELDS:
        checks.append(dns[f].isNotNull())
    checks.append(dns["answers"].isNotNull())
    checks.append(
        F.forall(
            dns["answers"], lambda a: a["Type"].isNotNull() & a["Rdata"].isNotNull()
        )
    )
    checks.append(dns["srcids"]["instance"].isNotNull())
    checks.append(F.try_to_timestamp(dns["query_timestamp"], F.lit(QUERY_TS_FORMAT)).isNotNull())
    out = checks[0]
    for c in checks[1:]:
        out = out & c
    return out


def reject_reason(dns: Column, decoded: Column) -> Column:
    """First failing check, mirroring the reference's log messages
    (app/app.py:196-215,255-258) as data instead of log lines."""
    reason = F.when(decoded.isNull(), F.lit("decode_error"))
    reason = reason.when(dns.isNull(), F.lit("json_parse_error"))
    for f in _SCALAR_FIELDS:
        reason = reason.when(dns[f].isNull(), F.lit(f"missing_or_invalid:{f}"))
    reason = reason.when(dns["answers"].isNull(), F.lit("missing_or_invalid:answers"))
    reason = reason.when(
        ~F.forall(
            dns["answers"], lambda a: a["Type"].isNotNull() & a["Rdata"].isNotNull()
        ),
        F.lit("answer_missing_rdata_or_type"),
    )
    reason = reason.when(
        dns["srcids"]["instance"].isNull(), F.lit("srcids_missing_instance")
    )
    reason = reason.when(
        F.try_to_timestamp(dns["query_timestamp"], F.lit(QUERY_TS_FORMAT)).isNull(),
        F.lit("bad_query_timestamp"),
    )
    return reason


def with_validity(decoded: DataFrame, dns_col: str = "dns") -> DataFrame:
    """``decoded`` plus the boolean ``_valid`` (``dns_validity_predicate``).

    The column is produced through ``explode(array(ok))`` — a 1:1
    Generate node acting as an optimizer barrier. Without it, predicate
    pushdown substitutes the ~20-term validity conjunction down through
    the parse/decode projections, and because those expressions sit
    inside CaseWhen branches (where codegen subexpression elimination
    does not apply) the JSON parse re-executes once per substituted term
    — measured 10-40x slower at 100k rows. Expressions over ``_valid``
    cannot be pushed below the Generate that produces it, so the parse
    runs exactly once per row. (A rand()-based guard does not survive:
    Spark 4's optimizer constant-folds always-true rand comparisons.)
    """
    ok = dns_validity_predicate(F.col(dns_col))
    return decoded.select("*", F.explode(F.array(ok)).alias("_valid"))


def split_valid_invalid(
    decoded: DataFrame, dns_col: str = "dns", decoded_col: str = "decoded"
) -> tuple[DataFrame, DataFrame]:
    """(valid, quarantine). Valid rows are flattened to the 14 DNS fields
    plus a parsed ``query_ts`` timestamp; quarantine rows keep the raw
    payload and a reject_reason. One source scan feeds both (Spark reuses
    the exchange under AQE; at scale write quarantine first or cache).
    Both split ``with_validity``'s ``_valid``, so the parse runs once per
    row.
    """
    dns = F.col(dns_col)
    enriched = with_validity(decoded, dns_col)
    valid = (
        enriched.filter(F.col("_valid"))
        .select(
            "*",
            F.to_timestamp(dns["query_timestamp"], QUERY_TS_FORMAT).alias("query_ts"),
        )
        .select(
            *[c for c in decoded.columns if c not in (dns_col, decoded_col)],
            F.col(f"{dns_col}.*"),
            "query_ts",
        )
    )
    quarantine = (
        enriched.filter(~F.col("_valid") | F.col("_valid").isNull())
        .withColumn("reject_reason", reject_reason(dns, F.col(decoded_col)))
        .drop("_valid")
    )
    return valid, quarantine
