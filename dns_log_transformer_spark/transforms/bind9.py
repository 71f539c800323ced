"""Log-line formatting — reference F1-F13 (app/app.py:126-173).

Spark-first shape: each record builds an *array* of lines —
`[query_line] ++ transform(answers, reply_line)` — then `posexplode`
multiplies rows (the 1 -> 1+N fan-out, app/app.py:163-173). One narrow
stage, no union, no shuffle; whole-stage codegen fuses the string work.

The per-record random client id (app/app.py:154) must be computed *before*
the explode so a record's query line and all its reply lines share one
value — `with_client_hex` does exactly that, with a deterministic variant
for tests and oracle comparison.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dns_log_transformer_spark.schemas import QUERY_TS_FORMAT

#: 2**48 - 1: the reference draws randint(0, 0xFFFFFFFFFFFF) (app/app.py:154).
_HEX48_MAX = 0xFFFFFFFFFFFF


def with_client_hex(df: DataFrame, seed_col: str | None = None) -> DataFrame:
    """Add ``client_hex`` ('@0x%012x', app/app.py:154), one value per record.

    seed_col=None reproduces the reference's randomness (rand() scaled to
    48 bits). Passing a column name derives the id deterministically from
    that column (tests / DuckDB oracle need reproducibility).
    """
    if seed_col is None:
        n = (F.rand() * F.lit(float(_HEX48_MAX + 1))).cast("long")
    else:
        n = F.pmod(F.col(seed_col).cast("long"), F.lit(_HEX48_MAX + 1))
    return df.withColumn("client_hex", F.format_string("@0x%012x", n))


def _timestamps(ts: Column) -> tuple[Column, Column]:
    """syslog ('%b %d %H:%M:%S') and BIND9 ('%d-%b-%Y %H:%M:%S.000')
    dialects (app/app.py:150-151). Java `dd` zero-pads like C `%d`;
    `MMM` in the default en locale matches `%b`. Millis are the literal
    '.000' exactly as the reference hard-codes them."""
    syslog_ts = F.date_format(ts, "MMM dd HH:mm:ss")
    bind9_ts = F.concat(F.date_format(ts, "dd-MMM-yyyy HH:mm:ss"), F.lit(".000"))
    return syslog_ts, bind9_ts


def _line_prefix(syslog_ts: Column, bind9_ts: Column) -> Column:
    """Shared prefix of query and reply lines (app/app.py:160,169):
    '{syslog} {vpc_id} route53resolver: {bind9} client {hex} {src}#{port} ({qname}): '"""
    return F.concat(
        syslog_ts,
        F.lit(" "),
        F.col("vpc_id"),
        F.lit(" route53resolver: "),
        bind9_ts,
        F.lit(" client "),
        F.col("client_hex"),
        F.lit(" "),
        F.col("srcaddr"),
        F.lit("#"),
        F.col("srcport"),
        F.lit(" ("),
        F.col("query_name"),
        F.lit("): "),
    )


def bind9_lines(ts: Column) -> Column:
    """One record's BIND9 lines as an array, query line first: the
    formatter ``to_bind9_lines`` explodes and the streaming pipeline
    sends. Reads the flattened DNS fields and ``client_hex``; ``ts`` is
    the parsed ``query_timestamp``.

    Semantics pinned to the reference:
    - query line qtype is answers[0].Type, NOT the record's query_type
      field; empty answers default to 'A' (app/app.py:157);
    - resolver IP is the literal '127.0.0.1' (app/app.py:161);
    - one reply line per answer, rdata NULL -> 'N/A' (app/app.py:166-171);
    - query line first, replies in answer order (app/app.py:163-171).
    """
    syslog_ts, bind9_ts = _timestamps(ts)
    prefix = _line_prefix(syslog_ts, bind9_ts)

    qtype = F.coalesce(F.try_element_at("answers", F.lit(1))["Type"], F.lit("A"))
    query_line = F.concat(
        prefix,
        F.lit("query: "),
        F.col("query_name"),
        F.lit(" IN "),
        qtype,
        F.lit(" + (127.0.0.1)"),
    )
    reply_lines = F.transform(
        "answers",
        lambda a: F.concat(
            prefix,
            F.lit("reply: "),
            F.col("query_name"),
            F.lit(" is "),
            # unreachable post-validation (Rdata non-null is enforced),
            # kept defensively like the reference's .get('Rdata','N/A')
            # default (app/app.py:168, equally unreachable after
            # app/app.py:208-210)
            F.coalesce(a["Rdata"], F.lit("N/A")),
        ),
    )
    return F.concat(F.array(query_line), reply_lines)


def line_kind(line_no: Column) -> Column:
    """'query' for line 0, 'reply' for the rest."""
    return F.when(line_no == 0, F.lit("query")).otherwise(F.lit("reply"))


def to_bind9_lines(validated: DataFrame, keep: list[str] | None = None) -> DataFrame:
    """Validated DNS records (+ client_hex) -> one row per BIND9 line.

    Output: ``keep`` passthrough columns + line_no (0 = query, 1..N =
    replies, preserving answer order) + kind ('query'|'reply') + line;
    the lines are ``bind9_lines``, exploded.
    """
    keep = keep if keep is not None else []
    if "client_hex" not in validated.columns:
        validated = with_client_hex(validated)
    ts = (
        F.col("query_ts")
        if "query_ts" in validated.columns
        else F.to_timestamp(F.col("query_timestamp"), QUERY_TS_FORMAT)
    )
    return validated.select(
        *keep, F.posexplode(bind9_lines(ts)).alias("line_no", "line")
    ).withColumn("kind", line_kind(F.col("line_no"))).select(*keep, "line_no", "kind", "line")


def to_microsoft_dns_lines(validated: DataFrame, keep: list[str] | None = None) -> DataFrame:
    """Microsoft DNS debug-log format (app/app.py:126-144) — dead code in
    the reference (process_data only ever emits BIND9, app/app.py:251) but
    implemented for parity behind this explicit entry point.

    Template (app/app.py:141-142), note the double space after 'PACKET':
    '{dd/MM/yyyy HH:mm:ss} 0D2C PACKET  0000000001ED00C0 {transport} Snd
     {srcaddr} {srcport} R Q [{rcode} A DR {rcode}] {qtype}
     ({len(qname)}){qname}(0)'
    """
    keep = keep if keep is not None else []
    ts = (
        F.col("query_ts")
        if "query_ts" in validated.columns
        else F.to_timestamp(F.col("query_timestamp"), QUERY_TS_FORMAT)
    )
    qtype = F.coalesce(F.try_element_at("answers", F.lit(1))["Type"], F.lit("A"))
    line = F.concat(
        F.date_format(ts, "dd/MM/yyyy HH:mm:ss"),
        F.lit(" 0D2C PACKET  0000000001ED00C0 "),
        F.col("transport"),
        F.lit(" Snd "),
        F.col("srcaddr"),
        F.lit(" "),
        F.col("srcport"),
        F.lit(" R Q ["),
        F.col("rcode"),
        F.lit(" A DR "),
        F.col("rcode"),
        F.lit("] "),
        qtype,
        F.lit(" ("),
        F.length("query_name").cast("string"),
        F.lit(")"),
        F.col("query_name"),
        F.lit("(0)"),
    )
    return validated.select(*keep, line.alias("line"))
