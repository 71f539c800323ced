"""Declared schemas for the DNS log pipeline.

The reference validates shapes imperatively (jsonschema for the envelope,
/root/reference/app/app.py:35-58; a required-keys dict for the inner DNS
record, app/app.py:177-192). Here both are *declared* StructTypes so
Catalyst can prune columns and `from_json` can parse without inference.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Firehose HTTP-endpoint envelope (reference app/app.py:35-58)
# ---------------------------------------------------------------------------

#: One row per Firehose delivery request: requestId + optional epoch-ms
#: timestamp + batch of opaque base64 records.
FIREHOSE_ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("requestId", T.StringType(), nullable=False),
        T.StructField("timestamp", T.LongType(), nullable=True),
        T.StructField(
            "records",
            T.ArrayType(
                T.StructType([T.StructField("data", T.StringType(), nullable=False)])
            ),
            nullable=False,
        ),
    ]
)

#: jsonschema numeric constraints (app/app.py:42-43,50-51), enforced as
#: filter predicates rather than exceptions.
MAX_RECORDS_PER_REQUEST = 10_000
MIN_RECORDS_PER_REQUEST = 1
MAX_RECORD_DATA_CHARS = 1_365_336

#: Largest request body the receiver reads: 64 MiB, Firehose's largest
#: HTTP-endpoint buffer. A larger Content-Length gets a 413 unread.
MAX_REQUEST_BODY_BYTES = 64 * 1024 * 1024

# ---------------------------------------------------------------------------
# Route53 Resolver query-log record (reference app/app.py:177-192,203-215)
# ---------------------------------------------------------------------------

ANSWER_SCHEMA = T.StructType(
    [
        # Rdata may be absent per answer -> output 'N/A' (app/app.py:168)
        T.StructField("Rdata", T.StringType(), nullable=True),
        T.StructField("Type", T.StringType(), nullable=True),
    ]
)

#: The reference's only row type (DNSQuery, app/app.py:107-124): 14 fields.
#: srcport is a *string* in the source format (app/app.py:189).
DNS_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("version", T.StringType()),
        T.StructField("account_id", T.StringType()),
        T.StructField("region", T.StringType()),
        T.StructField("vpc_id", T.StringType()),
        T.StructField("query_timestamp", T.StringType()),
        T.StructField("query_name", T.StringType()),
        T.StructField("query_type", T.StringType()),
        T.StructField("query_class", T.StringType()),
        T.StructField("rcode", T.StringType()),
        T.StructField("answers", T.ArrayType(ANSWER_SCHEMA)),
        T.StructField("srcaddr", T.StringType()),
        T.StructField("srcport", T.StringType()),
        T.StructField("transport", T.StringType()),
        T.StructField(
            "srcids",
            T.StructType([T.StructField("instance", T.StringType())]),
        ),
    ]
)

#: Fields whose presence `is_valid_dns_data` requires (app/app.py:177-192).
DNS_REQUIRED_FIELDS = [f.name for f in DNS_RECORD_SCHEMA.fields]

#: Strict timestamp format the reference parses with strptime
#: (app/app.py:130,149). Java pattern equivalent.
QUERY_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss'Z'"
