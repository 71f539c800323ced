"""Pure DataFrame -> DataFrame transforms for the DNS log pipeline.

Each stage of the reference's record-at-a-time loop
(/root/reference/app/app.py:219-263) becomes a declarative, null-safe
transform: no exceptions in the data path, invalid rows are *routed* (to a
quarantine split) instead of thrown, so a poison record can never fail a
task or batch.
"""

from dns_log_transformer_spark.transforms.envelope import (
    parse_envelope,
    explode_records,
)
from dns_log_transformer_spark.transforms.decode import decode_records
from dns_log_transformer_spark.transforms.validate import (
    dns_validity_predicate,
    reject_reason,
    split_valid_invalid,
    with_validity,
)
from dns_log_transformer_spark.transforms.bind9 import (
    bind9_lines,
    line_kind,
    to_bind9_lines,
    to_microsoft_dns_lines,
    with_client_hex,
)

__all__ = [
    "parse_envelope",
    "explode_records",
    "decode_records",
    "dns_validity_predicate",
    "reject_reason",
    "split_valid_invalid",
    "with_validity",
    "bind9_lines",
    "line_kind",
    "to_bind9_lines",
    "to_microsoft_dns_lines",
    "with_client_hex",
]
