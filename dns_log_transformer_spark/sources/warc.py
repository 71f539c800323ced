"""WARC-style record-framed archive source: pack + parse.

Web-scale corpus pipelines read record-framed archive streams (Common
Crawl's WARC: a header block terminated by CRLFCRLF carrying a
``Content-Length``, then exactly that many payload units, then a
CRLFCRLF record separator). The load-bearing property of the format is
that parsing is **Content-Length-driven**: the reader takes the
declared length and jumps — it never scans the payload for a
delimiter, so payloads containing header-lookalike bytes (quoted WARC
headers inside an HTML page, nested archives) cannot desynchronize it.
A split()-on-magic parser gets exactly this wrong; the hostile-payload
test pins the difference.

This module implements the framing layer engine-side as pure codegen'd
string expressions (the same unrolled-walk discipline as the ISO-BMFF /
RIFF byte walks in operators/multimodal.py, in the character domain):

- :func:`pack_warc_blobs` — groups documents into blobs of at most
  ``per_blob`` records, each record ``WARC/1.0`` + ``WARC-Record-ID``
  + ``Content-Length`` headers, CRLFCRLF, payload, CRLFCRLF.
- :func:`parse_warc_records` — an unrolled ``max_records``-step walk:
  each step validates the magic, finds the header terminator, reads
  ``Content-Length``, slices exactly that many characters of payload,
  and checks the record separator lands where declared. Malformed
  records surface as loud ``ok = false`` rows (never silently skipped)
  and stop the walk; ``blob_leftover`` exposes unconsumed characters
  so an under-unrolled walk (more records than ``max_records``) is a
  visible nonzero, not a silent truncation.

Two framing domains live here:

- :func:`pack_warc_blobs` / :func:`parse_warc_records` — the original
  CHARACTER-domain walk (``Content-Length`` counts characters; Spark
  ``length`` / DuckDB ``length`` agree), kept as the attested minimal
  framing exercise.
- :func:`pack_warc_http_blobs` / :func:`parse_warc_http` — the BYTE
  domain (r13, VERDICT r12 #3): ``Content-Length`` counts OCTETS like
  real WARC, so multi-byte UTF-8 payloads (virtually every real Common
  Crawl segment) frame correctly where the character walk would
  desynchronize. The byte walk runs over ``decode(blob, 'ISO-8859-1')``
  — the standard bijective byte<->char bridge: every Latin-1 character
  is exactly one octet, so ``length``/``locate``/``substr`` positions
  ARE octet positions, the framing expressions stay pure JVM codegen
  (no binary-domain ``locate`` exists), and ``encode(slice,
  'ISO-8859-1')`` recovers the exact payload bytes for hashing. It also
  carries the real record-type surface: ``WARC-Type``
  (warcinfo/request/response) extraction and the HTTP header/payload
  split for response records (status code, Content-Type, body octets).

Reference analog: none (the reference ingests HTTP-pushed envelopes,
/root/reference/app/app.py:60-102); this is a §2.4 new-engine source
family for bulk-archive corpora.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dns_log_transformer_spark.operators.text import upstream_splits

#: Record header terminator / record separator (WARC/1.0 framing).
CRLF2 = "\r\n\r\n"
MAGIC = "WARC/1.0\r\n"


def _pin_group_parallelism(rows: DataFrame, key: str, source: DataFrame) -> DataFrame:
    """Keyed repartition of ``rows`` right before the pack's group-by, to
    ``max(task slots, splits of the packer's input source)``. The blob
    rows' Python stages downstream (gzip UDF, member split) ride this
    partitioning, and each Python task has a fixed cost (~0.25 s on 4
    cores, whatever its input): sized to the 32 shuffle partitions,
    those stages ran in eight waves. Slots are ``defaultParallelism``
    (rebalance_for_fanout's target); the input's splits grow with its
    bytes, so on a cluster the count grows with the corpus, as
    global_rank's does. The splits are counted on ``source``: on a scan
    that starts no job, while on ``rows`` the probe would run a
    distinct's exchange under AQE. A user-specified repartition is
    exempt from AQE's size-based coalescing, which judged this shuffle
    by its tiny bytes and folded the whole parse onto ONE task (r15:
    corpus_warc_http ran 3 tasks, 1.9 s serial), and the group-by on the
    same key reuses it: one exchange before the walk."""
    slots = source.sparkSession.sparkContext.defaultParallelism
    return rows.repartition(max(slots, upstream_splits(source)), key)


def pack_warc_blobs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    per_blob: int = 4,
) -> DataFrame:
    """(blob_id, blob, n_records): documents packed into WARC-style
    blobs of at most ``per_blob`` records, grouped by
    ``blob_id = id div per_blob`` and concatenated in id order (a
    deterministic grouping both engines reproduce; ids are
    non-negative, so trunc div == floor div). NULL-text documents are
    dropped (a record needs a payload; the corpus funnel's concern,
    not the framer's).

    One groupBy shuffle on blob_id; the sort is per-group via
    array_sort over collected (id, record) structs — never a global
    order.
    """
    rec = F.concat(
        F.lit(MAGIC),
        F.lit("WARC-Record-ID: <urn:doc:"),
        F.col(id_col).cast("string"),
        F.lit(">\r\nContent-Length: "),
        F.length(F.col(text_col)).cast("string"),
        F.lit(CRLF2),
        F.col(text_col),
        F.lit(CRLF2),
    )
    bid = F.col(id_col)
    blob_id = ((bid - bid % per_blob) / per_blob).cast("long")
    return (
        _pin_group_parallelism(
            df.filter(F.col(text_col).isNotNull()).select(
                blob_id.alias("blob_id"),
                F.col(id_col).alias("_id"),
                rec.alias("_rec"),
            ),
            "blob_id",
            df,
        )
        .groupBy("blob_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_id", "_rec"))),
                    lambda s: s["_rec"],
                ),
                "",
            ).alias("blob"),
            F.count(F.lit(1)).cast("long").alias("n_records"),
        )
    )


def parse_warc_records(
    df: DataFrame,
    blob_col: str = "blob",
    max_records: int = 6,
) -> DataFrame:
    """Explode WARC-style blobs into per-record rows via an unrolled
    Content-Length-driven walk (no payload scanning — see module doc).

    Per record: (rec_idx, doc_id, content_length, ok, payload_md5,
    blob_leftover). ``ok = false`` rows mark malformed records (bad
    magic, missing header terminator, unparseable Content-Length,
    declared length past the blob end, or a record separator that
    isn't where the declared length says) — the walk stops after one,
    so one corrupt record quarantines the blob's tail rather than
    resynchronizing on guesswork. ``blob_leftover`` is the number of
    unconsumed characters after the walk: 0 on a fully parsed blob,
    nonzero when well-formed records remain past ``max_records`` (the
    no-silent-cap guard) AND on a malformed stop, where it counts from
    the failing record's start — the tail after an ok=false row was
    never consumed, and leftover says so (ADVICE r13).

    Plan shape (CLAUDE.md rule 9): absolute 1-based positions — no
    per-step remainder copies; each step is 4 batched withColumns
    projections materializing the O(blob) reads (header-terminator
    locate, header slice) exactly once as top-level aliases (rule 1);
    every read sits under when() on the walk state, so codegen
    null-short-circuits the remaining steps once a blob is exhausted or
    malformed; the payload md5 runs once per record. ~4 projections x
    max_records — far under the 64 KB codegen ceiling
    (plans.codegen_lint checks anyway).
    """
    from dns_log_transformer_spark.operators.multimodal import _codegen_barrier

    blob = F.col(blob_col)
    out = df.withColumns(
        {
            "_pos0": F.lit(1).cast("long"),
            "_fail0": F.lit(None).cast("long"),
        }
    )
    recs: list[Column] = []
    for i in range(max_records):
        # stage barrier per step (CLAUDE.md rule 10 / the census lesson):
        # without it CollapseProject re-inlines every materialized
        # _ha/_hdr/_clen back into each downstream reference — the
        # substitution is exponential in walk depth (a 6-step build
        # OOM'd the driver before this Generate split the stages)
        out = _codegen_barrier(out, f"_wb{i}")
        pos = F.col(f"_pos{i}")
        started = pos <= F.length(blob)
        magic_ok = blob.substr(pos, F.lit(len(MAGIC))) == MAGIC
        # absolute position of the header terminator (0 = absent);
        # locate is the step's O(blob) scan — gated and run once
        out = out.withColumns(
            {
                f"_ha{i}": F.when(
                    started & magic_ok,
                    F.call_function("locate", F.lit(CRLF2), blob, pos),
                ),
            }
        )
        ha = F.col(f"_ha{i}")
        out = out.withColumns(
            {f"_hdr{i}": F.when(ha > 0, blob.substr(pos, ha - pos))}
        )
        hdr = F.col(f"_hdr{i}")
        out = out.withColumns(
            {
                f"_clen{i}": F.nullif(
                    F.regexp_extract(hdr, r"\r\nContent-Length: ([0-9]+)", 1),
                    F.lit(""),
                ).cast("long"),
                f"_did{i}": F.nullif(
                    F.regexp_extract(hdr, r"WARC-Record-ID: <urn:doc:([0-9]+)>", 1),
                    F.lit(""),
                ).cast("long"),
            }
        )
        clen = F.col(f"_clen{i}")
        pay = ha + 4  # first payload char (1-based absolute)
        valid = (
            clen.isNotNull()
            & (pay + clen + 3 <= F.length(blob))
            & (blob.substr(pay + clen, F.lit(4)) == CRLF2)
        )
        out = out.withColumns(
            {
                f"_rec{i}": F.when(
                    started,
                    F.struct(
                        F.lit(i).cast("long").alias("rec_idx"),
                        F.col(f"_did{i}").alias("doc_id"),
                        clen.alias("content_length"),
                        F.coalesce(valid, F.lit(False)).alias("ok"),
                        F.when(
                            valid,
                            F.md5(F.encode(blob.substr(pay, clen), "UTF-8")),
                        ).alias("payload_md5"),
                    ),
                ),
                # a malformed record stops the walk: park past the end,
                # and remember WHERE it failed so blob_leftover can
                # count the unconsumed tail from the bad record's start
                # (ADVICE r13: leftover must stay meaningful on ok=false
                # rows, not just on under-unroll)
                f"_pos{i + 1}": F.when(valid, pay + clen + 4).otherwise(
                    F.length(blob) + 1
                ),
                f"_fail{i + 1}": F.coalesce(
                    F.col(f"_fail{i}"),
                    F.when(started & ~F.coalesce(valid, F.lit(False)), pos),
                ),
            }
        )
        recs.append(F.col(f"_rec{i}"))
    end_pos = F.coalesce(F.col(f"_fail{max_records}"), F.col(f"_pos{max_records}"))
    leftover = (F.length(blob) - end_pos + 1).cast("long")
    out = out.withColumns(
        {
            "_recs": F.array_compact(F.array(*recs)),
            "_leftover": F.greatest(leftover, F.lit(0).cast("long")),
        }
    )
    keep = [c for c in df.columns if c != blob_col]
    # explode_OUTER, then filter the generator output: plain explode
    # makes InferFiltersFromGenerate synthesize `size(_recs) > 0`, and
    # predicate pushdown substitutes the ENTIRE unrolled walk into that
    # one predicate on its way to the scan — 41 MB of optimized plan /
    # driver OOM at 3 steps (the barriers stop CollapseProject, not
    # pushdown). The outer variant is exempt from the rule, and the
    # isNotNull filter references the generator output, which pushdown
    # cannot cross.
    return out.select(
        *keep,
        F.col("_leftover").alias("blob_leftover"),
        F.explode_outer("_recs").alias("_r"),
    ).filter(F.col("_r").isNotNull()).select(
        *keep,
        F.col("_r.rec_idx").alias("rec_idx"),
        F.col("_r.doc_id").alias("doc_id"),
        F.col("_r.content_length").alias("content_length"),
        F.col("_r.ok").alias("ok"),
        F.col("_r.payload_md5").alias("payload_md5"),
        "blob_leftover",
    )


# ---------------------------------------------------------------------------
# Byte-domain WARC with record types + HTTP split (r13, VERDICT r12 #3)
# ---------------------------------------------------------------------------

#: Fixed warcinfo payload (constant so the oracle can state its length
#: and digest first-principles).
WARCINFO_PAYLOAD = "software: dns-log-transformer-spark\r\nformat: WARC-ish/1.0\r\n"


def _warc_record(rec_id: Column, warc_type: str, payload: Column) -> Column:
    """One WARC record as a STRING whose declared Content-Length counts
    the OCTETS of the payload's UTF-8 encoding — the string is encoded
    to bytes once per blob, so the digits must describe the encoded
    form, not the character count."""
    return F.concat(
        F.lit(MAGIC),
        F.lit(f"WARC-Type: {warc_type}\r\nWARC-Record-ID: <"),
        rec_id,
        F.lit(">\r\nContent-Length: "),
        F.octet_length(payload).cast("string"),
        F.lit(CRLF2),
        payload,
        F.lit(CRLF2),
    )


def pack_warc_http_blobs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    per_blob: int = 2,
    body_suffix: str = " §é€\U0001f600",
) -> DataFrame:
    """(blob_id, blob BINARY, n_records): a warcinfo record, then per
    document (id order) a request record (``GET /doc/<id>``) and a
    response record whose payload is a full HTTP response — status
    line, ``Content-Type``, HTTP ``Content-Length`` in octets, CRLFCRLF,
    body. Every body gets ``body_suffix`` appended: multi-byte UTF-8
    (2-, 3- and 4-octet sequences), so character count != octet count on
    EVERY record — the case a character-framed parser gets wrong is the
    fixture's default, not a corner.

    One groupBy shuffle on ``blob_id = id div per_blob``; records
    concatenated in id order per group, then the whole blob is encoded
    to UTF-8 bytes ONCE.
    """
    did = F.col(id_col).cast("string")
    body = F.concat(F.col(text_col), F.lit(body_suffix))
    http = F.concat(
        F.lit(
            "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8"
            "\r\nContent-Length: "
        ),
        F.octet_length(body).cast("string"),
        F.lit(CRLF2),
        body,
    )
    req = F.concat(
        F.lit("GET /doc/"), did, F.lit(" HTTP/1.1\r\nHost: corpus.invalid\r\n\r\n")
    )
    pair = F.concat(
        _warc_record(F.concat(F.lit("urn:doc:"), did), "request", req),
        _warc_record(F.concat(F.lit("urn:doc:"), did), "response", http),
    )
    bid = F.col(id_col)
    blob_id = ((bid - bid % per_blob) / per_blob).cast("long")
    winfo = _warc_record(
        F.concat(F.lit("urn:warcinfo:"), F.col("blob_id").cast("string")),
        "warcinfo",
        F.lit(WARCINFO_PAYLOAD),
    )
    return (
        _pin_group_parallelism(
            df.filter(F.col(text_col).isNotNull()).select(
                blob_id.alias("blob_id"),
                F.col(id_col).alias("_id"),
                pair.alias("_rec"),
            ),
            "blob_id",
            df,
        )
        .groupBy("blob_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_id", "_rec"))),
                    lambda s: s["_rec"],
                ),
                "",
            ).alias("_docrecs"),
            (F.lit(1) + F.lit(2) * F.count(F.lit(1))).cast("long").alias("n_records"),
        )
        .select(
            "blob_id",
            F.encode(F.concat(winfo, F.col("_docrecs")), "UTF-8").alias("blob"),
            "n_records",
        )
    )


def parse_warc_http(
    df: DataFrame,
    blob_col: str = "blob",
    max_records: int = 5,
    keep_body: bool = False,
) -> DataFrame:
    """Explode byte-domain WARC blobs into per-record rows via the
    unrolled Content-Length-driven walk, octet positions throughout
    (module doc: the walk runs over the blob's ISO-8859-1 decoding, a
    bijective byte<->char bridge, so every position/length below is an
    octet count and the framing survives multi-byte UTF-8 payloads).

    Per record: (rec_idx, warc_type, doc_id, content_length, ok,
    payload_md5, http_status, http_content_type, body_octets, body_md5,
    blob_leftover). The HTTP columns are non-NULL only on well-formed
    ``response`` records: status code from the status line,
    Content-Type from the HTTP header block (located by its own
    CRLFCRLF terminator — Content-Length-driven at the WARC layer,
    delimiter-driven inside the payload exactly like real HTTP), body
    octet count and digest of the bytes after it. ``payload_md5``
    digests the record's exact payload BYTES for every record type.
    Malformed records are loud ``ok = false`` rows and stop the walk;
    ``blob_leftover`` counts unconsumed octets — from past the last
    parsed record on under-unroll, from the failing record's start on a
    malformed stop — so a nonzero tail is never silently dropped.

    Plan shape: same discipline as :func:`parse_warc_records` — one
    ``_codegen_barrier`` per step (rule 10), every O(blob) read
    materialized once as a top-level projection alias (rule 1), all
    reads gated on the walk state so codegen null-short-circuits
    exhausted blobs, and the tail is ``explode_outer`` + a filter on
    the GENERATOR OUTPUT (rule 11 — plans.plan_size_lint pins the
    class).

    Reference analog: none (§2.4 new-engine source family; the
    character-domain caveat this replaces was sources/warc.py:30-36 at
    r12).
    """
    from dns_log_transformer_spark.operators.multimodal import _codegen_barrier

    out = df.withColumns(
        {
            "_lat": F.decode(F.col(blob_col), "ISO-8859-1"),
            "_pos0": F.lit(1).cast("long"),
            "_fail0": F.lit(None).cast("long"),
        }
    )
    lat = F.col("_lat")
    recs: list[Column] = []
    for i in range(max_records):
        out = _codegen_barrier(out, f"_wh{i}")
        pos = F.col(f"_pos{i}")
        started = pos <= F.length(lat)
        magic_ok = lat.substr(pos, F.lit(len(MAGIC))) == MAGIC
        out = out.withColumns(
            {
                f"_ha{i}": F.when(
                    started & magic_ok,
                    F.call_function("locate", F.lit(CRLF2), lat, pos),
                ),
            }
        )
        ha = F.col(f"_ha{i}")
        out = out.withColumns(
            {f"_hdr{i}": F.when(ha > 0, lat.substr(pos, ha - pos))}
        )
        hdr = F.col(f"_hdr{i}")
        out = out.withColumns(
            {
                f"_clen{i}": F.nullif(
                    F.regexp_extract(hdr, r"\r\nContent-Length: ([0-9]+)", 1),
                    F.lit(""),
                ).cast("long"),
                f"_wt{i}": F.nullif(
                    F.regexp_extract(hdr, r"\r\nWARC-Type: ([a-z]+)\r\n", 1),
                    F.lit(""),
                ),
                f"_did{i}": F.nullif(
                    F.regexp_extract(hdr, r"WARC-Record-ID: <urn:doc:([0-9]+)>", 1),
                    F.lit(""),
                ).cast("long"),
            }
        )
        clen = F.col(f"_clen{i}")
        pay = ha + 4  # first payload octet (1-based absolute)
        valid = (
            clen.isNotNull()
            & (pay + clen + 3 <= F.length(lat))
            & (lat.substr(pay + clen, F.lit(4)) == CRLF2)
        )
        # payload slice materialized ONCE (rule 1): md5 + the HTTP split
        # both read it
        out = out.withColumns(
            {f"_pay{i}": F.when(valid, lat.substr(pay, clen))}
        )
        payc = F.col(f"_pay{i}")
        is_resp = F.col(f"_wt{i}") == "response"
        # HTTP header block ends at the payload's own CRLFCRLF
        out = out.withColumns(
            {
                f"_he{i}": F.when(
                    is_resp, F.call_function("locate", F.lit(CRLF2), payc)
                ),
            }
        )
        he = F.col(f"_he{i}")
        http_ok = he > 0
        body = F.when(http_ok, payc.substr(he + 4, clen - he - 3))
        out = out.withColumns({f"_body{i}": body})
        bodyc = F.col(f"_body{i}")
        out = out.withColumns(
            {
                f"_rec{i}": F.when(
                    started,
                    F.struct(
                        F.lit(i).cast("long").alias("rec_idx"),
                        F.col(f"_wt{i}").alias("warc_type"),
                        F.col(f"_did{i}").alias("doc_id"),
                        clen.alias("content_length"),
                        F.coalesce(valid, F.lit(False)).alias("ok"),
                        F.when(
                            valid, F.md5(F.encode(payc, "ISO-8859-1"))
                        ).alias("payload_md5"),
                        F.when(
                            http_ok,
                            F.nullif(
                                F.regexp_extract(
                                    payc.substr(F.lit(1), he),
                                    r"^HTTP/1\.[01] ([0-9]{3}) ",
                                    1,
                                ),
                                F.lit(""),
                            ).cast("long"),
                        ).alias("http_status"),
                        F.when(
                            http_ok,
                            F.nullif(
                                F.regexp_extract(
                                    payc.substr(F.lit(1), he),
                                    r"\r\nContent-Type: ([^\r]+)",
                                    1,
                                ),
                                F.lit(""),
                            ),
                        ).alias("http_content_type"),
                        F.when(http_ok, F.length(bodyc).cast("long")).alias(
                            "body_octets"
                        ),
                        F.when(
                            http_ok, F.md5(F.encode(bodyc, "ISO-8859-1"))
                        ).alias("body_md5"),
                        # optional payload carry-out (keep_body): the
                        # exact body bytes re-decoded as UTF-8 — the
                        # text a corpus pipeline feeds its gates; built
                        # unconditionally inside the struct but pruned
                        # by the final select (and therefore by column
                        # pruning) when keep_body=False
                        F.when(
                            http_ok,
                            F.decode(
                                F.encode(bodyc, "ISO-8859-1"), "UTF-8"
                            ),
                        ).alias("body_text"),
                    ),
                ),
                # park past the end on a malformed record, remembering
                # its start so blob_leftover counts the unconsumed tail
                # (ADVICE r13 — same fix as the char-domain twin)
                f"_pos{i + 1}": F.when(valid, pay + clen + 4).otherwise(
                    F.length(lat) + 1
                ),
                f"_fail{i + 1}": F.coalesce(
                    F.col(f"_fail{i}"),
                    F.when(started & ~F.coalesce(valid, F.lit(False)), pos),
                ),
            }
        )
        recs.append(F.col(f"_rec{i}"))
    end_pos = F.coalesce(F.col(f"_fail{max_records}"), F.col(f"_pos{max_records}"))
    leftover = (F.length(lat) - end_pos + 1).cast("long")
    out = out.withColumns(
        {
            "_recs": F.array_compact(F.array(*recs)),
            "_leftover": F.greatest(leftover, F.lit(0).cast("long")),
        }
    )
    keep = [c for c in df.columns if c != blob_col]
    # rule 11 tail: explode_outer + generator-output filter (see
    # parse_warc_records; plans.plan_size_lint now pins the class)
    return out.select(
        *keep,
        F.col("_leftover").alias("blob_leftover"),
        F.explode_outer("_recs").alias("_r"),
    ).filter(F.col("_r").isNotNull()).select(
        *keep,
        F.col("_r.rec_idx").alias("rec_idx"),
        F.col("_r.warc_type").alias("warc_type"),
        F.col("_r.doc_id").alias("doc_id"),
        F.col("_r.content_length").alias("content_length"),
        F.col("_r.ok").alias("ok"),
        F.col("_r.payload_md5").alias("payload_md5"),
        F.col("_r.http_status").alias("http_status"),
        F.col("_r.http_content_type").alias("http_content_type"),
        F.col("_r.body_octets").alias("body_octets"),
        F.col("_r.body_md5").alias("body_md5"),
        *(
            [F.col("_r.body_text").alias("body_text")]
            if keep_body
            else []
        ),
        "blob_leftover",
    )


# ---------------------------------------------------------------------------
# gzip-member framing — .warc.gz (VERDICT r13 #3)
# ---------------------------------------------------------------------------

#: Output schema of the member-splitting Arrow stage.
GZ_MEMBER_SCHEMA = (
    "blob_id bigint, member_idx bigint, member_ok boolean, "
    "gz_leftover bigint, rec_bytes binary"
)

#: What a gzip-corrupt member contributes as ``rec_bytes``: a short
#: byte string that FAILS the WARC walk's magic check, so the corrupt
#: member surfaces downstream as a loud ``ok = false`` row in the SAME
#: single pass (``member_ok``/``gz_leftover`` carry the gzip-layer
#: detail) — the alternative, splitting good/bad members into two
#: branches, would run the decompression stage twice (or persist the
#: decompressed corpus), which is the wrong trade at archive scale.
GZ_CORRUPT_SENTINEL = b"GZIP-MEMBER-CORRUPT\r\n"


def pack_warc_gz_blobs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    per_blob: int = 2,
    body_suffix: str = " §é€\U0001f600",
    compresslevel: int = 9,
) -> DataFrame:
    """(blob_id, blob BINARY, n_members): the :func:`pack_warc_http_blobs`
    record stream re-framed the way real ``.warc.gz`` files are — ONE
    GZIP MEMBER PER RECORD, members concatenated (the Common Crawl
    layout: readers seek to a member boundary and gunzip exactly one
    record). Same record content as the byte-domain pack (warcinfo,
    then per document a request + full-HTTP response with multi-byte
    UTF-8 bodies), so the walk-level oracle carries over unchanged.

    Compression happens in ONE Arrow-batched pandas UDF over the
    already-grouped record arrays — the grouping itself is the same JVM
    ``collect_list``/``array_sort`` shuffle as the plain pack, so
    Python sees one row per BLOB, vectorized across blobs (an
    ``applyInPandas`` over the groups measured 5.1 s at sf0.1 — 2,500
    tiny per-group pandas frames — vs ~1 s for this shape). There is no
    JVM-builtin gzip, which makes the UDF the policy-sanctioned case
    (SURVEY §7). ``mtime=0`` keeps members deterministic;
    ``compresslevel=0`` emits stored (uncompressed) DEFLATE blocks whose
    byte stream contains the record text VERBATIM — the hostile fixture
    for any parser that scans the compressed stream for ``WARC/1.0``
    instead of honoring gzip member framing.
    """
    did = F.col(id_col).cast("string")
    body = F.concat(F.col(text_col), F.lit(body_suffix))
    http = F.concat(
        F.lit(
            "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8"
            "\r\nContent-Length: "
        ),
        F.octet_length(body).cast("string"),
        F.lit(CRLF2),
        body,
    )
    req = F.concat(
        F.lit("GET /doc/"), did, F.lit(" HTTP/1.1\r\nHost: corpus.invalid\r\n\r\n")
    )
    bid = F.col(id_col)
    blob_id = ((bid - bid % per_blob) / per_blob).cast("long").alias("blob_id")
    seq_base = (bid % per_blob).cast("long") * 2
    docs = df.filter(F.col(text_col).isNotNull())
    rows = (
        docs.select(
            blob_id,
            (seq_base + 1).alias("seq"),
            _warc_record(
                F.concat(F.lit("urn:doc:"), did), "request", req
            ).alias("rec"),
        )
        .unionAll(
            docs.select(
                blob_id,
                (seq_base + 2).alias("seq"),
                _warc_record(
                    F.concat(F.lit("urn:doc:"), did), "response", http
                ).alias("rec"),
            )
        )
        .unionAll(
            docs.select(blob_id)
            .distinct()
            .select(
                "blob_id",
                F.lit(0).cast("long").alias("seq"),
                _warc_record(
                    F.concat(
                        F.lit("urn:warcinfo:"), F.col("blob_id").cast("string")
                    ),
                    "warcinfo",
                    F.lit(WARCINFO_PAYLOAD),
                ).alias("rec"),
            )
        )
    )

    @F.pandas_udf("binary")
    def gz_join(recs: pd.Series) -> pd.Series:
        import gzip

        return recs.apply(
            lambda rl: b"".join(
                gzip.compress(r.encode("utf-8"), compresslevel, mtime=0)
                for r in rl
            )
        )

    grouped = _pin_group_parallelism(rows, "blob_id", df).groupBy("blob_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("seq", "rec"))),
            lambda s: s["rec"],
        ).alias("_recs"),
    )
    return grouped.select(
        "blob_id",
        gz_join("_recs").alias("blob"),
        F.size("_recs").cast("long").alias("n_members"),
    )


def parse_warc_gz(
    df: DataFrame,
    blob_col: str = "blob",
    id_col: str = "blob_id",
) -> DataFrame:
    """Split concatenated-gzip-member blobs into per-member decompressed
    record bytes — the layer between a ``.warc.gz`` file on disk and the
    attested byte walk (:func:`parse_warc_http` with ``max_records=1``
    consumes ``rec_bytes`` directly).

    ONE Arrow stage riding the scan (``mapInArrow``, no shuffle): per
    blob, ``zlib.decompressobj(31)`` gunzips one member and its
    ``unused_data`` hands over the exact remaining bytes — member
    boundaries come from the gzip framing itself (header magic + DEFLATE
    end-of-stream + CRC/ISIZE trailer), NEVER from scanning for record
    magic, so a stored-mode member whose compressed stream contains
    ``WARC/1.0`` verbatim cannot desynchronize the split (pinned).

    Loudness contract, per member row:

    - clean member: ``member_ok = true``, ``gz_leftover = 0``,
      ``rec_bytes`` = the decompressed record;
    - non-gzip bytes at a member boundary (trailing garbage), truncated
      member (stream ends before DEFLATE eof), or CRC/length-check
      failure: ``member_ok = false``, ``gz_leftover`` = the octets from
      that boundary to the blob end (never silently dropped), and
      ``rec_bytes`` = :data:`GZ_CORRUPT_SENTINEL` so the downstream walk
      emits its loud ``ok = false`` row in the same pass; the scan stops
      (no resynchronizing on guesswork — the quarantine stance of
      :func:`parse_warc_records`).

    At 100 TB each input row should be one member-aligned segment (or a
    whole segment file, as here for bounded blobs): the stage holds one
    blob's decompressed records in memory at a time, batch-bounded by
    ``spark.sql.execution.arrow.maxRecordsPerBatch``.
    """
    import pyarrow as pa

    from typing import Iterator

    def split_members(
        batches: "Iterator[pa.RecordBatch]",
    ) -> "Iterator[pa.RecordBatch]":
        import zlib

        for batch in batches:
            ids = batch.column(batch.schema.get_field_index(id_col)).to_pylist()
            blobs = batch.column(
                batch.schema.get_field_index(blob_col)
            ).to_pylist()
            o_id: list[int] = []
            o_idx: list[int] = []
            o_ok: list[bool] = []
            o_left: list[int] = []
            o_rec: list[bytes | None] = []

            def emit(bid, idx, ok, left, rec):
                o_id.append(bid)
                o_idx.append(idx)
                o_ok.append(ok)
                o_left.append(left)
                o_rec.append(rec)

            for bid, raw in zip(ids, blobs):
                if raw is None or len(raw) == 0:
                    # loudness: a NULL/0-byte blob must not vanish from
                    # the output — every input blob_id gets at least one
                    # row, and the sentinel keeps the downstream walk's
                    # ok=false path loud in the same pass (ADVICE r14)
                    emit(bid, 0, False, 0, GZ_CORRUPT_SENTINEL)
                    continue
                data = bytes(raw)
                idx = 0
                while data:
                    if data[:2] != b"\x1f\x8b":
                        emit(bid, idx, False, len(data), GZ_CORRUPT_SENTINEL)
                        break
                    d = zlib.decompressobj(31)
                    try:
                        payload = d.decompress(data)
                    except zlib.error:
                        emit(bid, idx, False, len(data), GZ_CORRUPT_SENTINEL)
                        break
                    if not d.eof:  # truncated member
                        emit(bid, idx, False, len(data), GZ_CORRUPT_SENTINEL)
                        break
                    emit(bid, idx, True, 0, payload)
                    data = d.unused_data
                    idx += 1
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(o_id, pa.int64()),
                    pa.array(o_idx, pa.int64()),
                    pa.array(o_ok, pa.bool_()),
                    pa.array(o_left, pa.int64()),
                    pa.array(o_rec, pa.binary()),
                ],
                names=[id_col, "member_idx", "member_ok", "gz_leftover",
                       "rec_bytes"],
            )

    return df.select(F.col(id_col), F.col(blob_col)).mapInArrow(
        split_members, GZ_MEMBER_SCHEMA
    )


def stage_warc_gz_files(
    blobs: DataFrame,
    out_dir: str,
    id_col: str = "blob_id",
    blob_col: str = "blob",
) -> str:
    """Materialize a blob frame as real ``.warc.gz`` FILES on disk —
    one file per blob, named ``blob-<id>.warc.gz`` so the id
    round-trips through the filename (VERDICT r14 #3: the layer
    between disk and the attested stack).

    FIXTURE STAGING, not a query path: a real user's segment files
    already exist; this writes the deterministic pack output once so
    the binaryFile read below exercises the real source. Idempotent
    and crash-safe: files land in a pid-suffixed temp dir written
    EXECUTOR-side (``foreachPartition`` — blob bytes never collect to
    the driver; on a cluster the same writer targets shared storage),
    then one atomic ``os.replace`` publishes the directory; a
    ``_SUCCESS`` marker gates reuse, and a markerless leftover dir
    from a crashed stage is cleaned and re-staged.
    """
    import os
    import shutil

    marker = os.path.join(out_dir, "_SUCCESS")
    if os.path.isfile(marker):
        return out_dir
    if os.path.isdir(out_dir):  # crashed previous stage — restage
        shutil.rmtree(out_dir)
    tmp = f"{out_dir}.tmp-{os.getpid()}"
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)

    def write_part(rows) -> None:
        import os as _os

        for r in rows:
            bid = r[id_col]
            raw = bytes(r[blob_col])
            path = _os.path.join(tmp, f"blob-{bid}.warc.gz")
            with open(path, "wb") as f:
                f.write(raw)

    blobs.select(id_col, blob_col).foreachPartition(write_part)
    with open(os.path.join(tmp, "_SUCCESS"), "w") as f:
        f.write("staged\n")
    os.replace(tmp, out_dir)
    return out_dir


def read_warc_gz_files(spark, dir_path: str) -> DataFrame:
    """Read staged/real ``.warc.gz`` files via Spark's ``binaryFile``
    source into the gz-member contract frame (blob_id, blob): one row
    per FILE, ``blob_id`` parsed back from the filename. Feed the
    result to :func:`parse_warc_gz` -> :func:`parse_warc_http`.

    Memory bounding at 100 TB (the members-vs-maxRecordsPerBatch
    question): ``binaryFile`` is non-splittable — each file arrives as
    ONE row, so ``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds
    ROWS per Arrow batch but a single multi-GB segment still lands
    whole in one batch, and :func:`parse_warc_gz` additionally holds
    that blob's DECOMPRESSED records while splitting. The bound
    therefore comes from the FILES: keep segments at the bounded sizes
    archives already use (Common Crawl targets ~1 GB), or pre-chunk
    oversized ones on member boundaries (gzip members make byte-offset
    chunking safe: resume at any member header) before this scan. The
    staged fixture writes bounded mini-segments for the same reason.
    """
    files = spark.read.format("binaryFile").load(
        f"{dir_path}/blob-*.warc.gz"
    )
    return files.select(
        F.regexp_extract(F.col("path"), r"blob-(\d+)\.warc\.gz$", 1)
        .cast("long")
        .alias("blob_id"),
        F.col("content").alias("blob"),
    )


#: binaryFile's fixed schema, stated once: streaming sources cannot
#: infer schemas, so readStream.format("binaryFile") REQUIRES it.
_BINARYFILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def read_warc_gz_stream(
    spark, dir_path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming twin of :func:`read_warc_gz_files`: every ``.warc.gz``
    segment that LANDS in ``dir_path`` becomes (blob_id, blob) rows in
    a micro-batch — the crawl-ingest shape where an archive fetcher
    drops finished segments into a landing directory and the pipeline
    picks them up exactly once (the file-source checkpoint records
    processed paths; a restart neither reprocesses nor skips).

    ``max_files_per_trigger`` bounds a micro-batch to that many whole
    segments — with archive-standard bounded segment sizes (see
    :func:`read_warc_gz_files` on the non-splittable binaryFile row
    bound) that IS the per-batch memory bound at 100 TB: batch memory
    ~= max_files_per_trigger x segment size, independent of backlog
    depth.
    """
    reader = (
        spark.readStream.format("binaryFile")
        .schema(_BINARYFILE_SCHEMA)
        .option("pathGlobFilter", "blob-*.warc.gz")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    files = reader.load(dir_path)
    return files.select(
        F.regexp_extract(F.col("path"), r"blob-(\d+)\.warc\.gz$", 1)
        .cast("long")
        .alias("blob_id"),
        F.col("content").alias("blob"),
    )


def warc_gz_docs_stream(
    spark, dir_path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Archive segments -> clean DOCUMENT stream: the streaming
    composition of the gz-member split and the byte walk with
    ``keep_body`` payload carry-out, filtered to parsed-clean response
    records — (doc_id, text) rows ready for any docs consumer
    (``corpus_monitor_sink`` for crawl-time triage, an ingest sink,
    ...). Every stage is STATELESS (mapInArrow + codegen projections +
    a 1:1 Generate), so the stream needs no watermark and no state
    store; per-batch cost is exactly the batch walk on that batch's
    segments, and malformed members/records simply drop at the filter
    (the batch path is where their loud quarantine rows are read).
    """
    walk = parse_warc_http(
        parse_warc_gz(
            read_warc_gz_stream(spark, dir_path, max_files_per_trigger)
        ),
        blob_col="rec_bytes",
        max_records=1,
        keep_body=True,
    )
    return walk.filter(
        (F.col("warc_type") == "response")
        & F.col("ok")
        & F.col("member_ok")
    ).select("doc_id", F.col("body_text").alias("text"))
