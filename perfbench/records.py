"""Seeded Route53 Resolver records, Firehose request bodies and the
expected outputs of the DNS pipeline.

Everything here is a pure function of (seed, stream, post number), so the
load generator process and the benchmark's output checks rebuild the same
records independently. The expected BIND9 lines come from a plain Python
formatter written from the reference templates, not from the package, so a
formatting bug in the pipeline cannot cancel out.
"""

from __future__ import annotations

import base64
import datetime as dt
import json
import random
import re

#: One record in this many is poisoned; the poison kind cycles through
#: POISON_KINDS, each naming the ``reject_reason`` the pipeline must give it.
POISON_EVERY = 20
POISON_KINDS = (
    "decode_error",
    "json_parse_error",
    "missing_or_invalid:vpc_id",
    "missing_or_invalid:srcport",
    "missing_or_invalid:answers",
    "answer_missing_rdata_or_type",
    "srcids_missing_instance",
    "bad_query_timestamp",
)

_EPOCH = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
_QTYPES = ("A", "AAAA", "CNAME", "TXT", "MX")
_HEX_RE = re.compile(r" client @0x[0-9a-f]{12} ")
#: query_name carries the record's identity: q<post>r<idx>.<stream>.bench.
_KEY_RE = re.compile(r"\(q(\d+)r(\d+)\.([a-z0-9]+)\.bench\.\): ")
MASKED_HEX = " client @0x<hex> "


def request_id(seed: int, stream: str, post: int) -> str:
    return f"s{seed}-{stream}-{post}"


def _record(rng: random.Random, stream: str, post: int, idx: int) -> dict:
    n_answers = rng.randrange(4)
    answers = []
    for _ in range(n_answers):
        t = rng.choice(_QTYPES)
        if t == "AAAA":
            rdata = f"2001:db8::{rng.randrange(65536):x}"
        elif t in ("A", "MX"):
            rdata = f"93.184.{rng.randrange(256)}.{rng.randrange(256)}"
        else:
            rdata = f"alias{rng.randrange(1000)}.example.net."
        answers.append({"Rdata": rdata, "Type": t})
    ts = _EPOCH + dt.timedelta(seconds=rng.randrange(365 * 86400))
    return {
        "version": "1.100000",
        "account_id": "123456789012",
        "region": "us-east-1",
        "vpc_id": f"vpc-{rng.randrange(16**8):08x}",
        "query_timestamp": ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
        "query_name": f"q{post}r{idx}.{stream}.bench.",
        "query_type": rng.choice(_QTYPES),
        "query_class": "IN",
        "rcode": rng.choice(("NOERROR", "NOERROR", "NOERROR", "NXDOMAIN")),
        "answers": answers,
        "srcaddr": f"10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(256)}",
        "srcport": str(rng.randrange(1024, 65536)),
        "transport": rng.choice(("UDP", "TCP")),
        "srcids": {"instance": f"i-{rng.randrange(16**17):017x}"},
    }


def _b64(text: str) -> str:
    return base64.b64encode(text.encode("utf-8")).decode("ascii")


def _poison(rec: dict, kind: str) -> str:
    """The record's ``data`` field, broken in exactly one way."""
    if kind == "decode_error":
        return "!!!not-base64!!!"
    if kind == "json_parse_error":
        return _b64('{"version": "1.100000", not json')
    rec = dict(rec)
    if kind.startswith("missing_or_invalid:"):
        del rec[kind.split(":", 1)[1]]
    elif kind == "answer_missing_rdata_or_type":
        rec["answers"] = [{"Rdata": "192.0.2.1"}]
    elif kind == "srcids_missing_instance":
        rec["srcids"] = {}
    elif kind == "bad_query_timestamp":
        rec["query_timestamp"] = rec["query_timestamp"].replace("T", " ")
    return _b64(json.dumps(rec, separators=(",", ":")))


class Post:
    """One Firehose delivery request and what the pipeline must make of it."""

    __slots__ = ("rid", "body", "n_records", "lines", "rejects")

    def __init__(self, seed: int, stream: str, post: int, n_records: int):
        rng = random.Random(f"{seed}:{stream}:{post}")
        self.rid = request_id(seed, stream, post)
        self.n_records = n_records
        #: (record_idx, line_no, kind, masked line) per expected BIND9 line
        self.lines: list[tuple[int, int, str, str]] = []
        #: record_idx -> expected reject_reason
        self.rejects: dict[int, str] = {}
        data = []
        for idx in range(n_records):
            rec = _record(rng, stream, post, idx)
            g = post * n_records + idx
            if g % POISON_EVERY == POISON_EVERY - 1:
                kind = POISON_KINDS[(g // POISON_EVERY) % len(POISON_KINDS)]
                self.rejects[idx] = kind
                data.append(_poison(rec, kind))
            else:
                for line_no, line in enumerate(bind9_lines(rec)):
                    self.lines.append((idx, line_no, "query" if line_no == 0 else "reply", line))
                data.append(_b64(json.dumps(rec, separators=(",", ":"))))
        self.body = json.dumps(
            {
                "requestId": self.rid,
                "timestamp": int(_EPOCH.timestamp() * 1000) + post,
                "records": [{"data": d} for d in data],
            },
            separators=(",", ":"),
        ).encode("utf-8")


def bind9_lines(rec: dict) -> list[str]:
    """The reference's BIND9 query line then one reply line per answer,
    with the random client id masked (see ``mask``)."""
    ts = dt.datetime.strptime(rec["query_timestamp"], "%Y-%m-%dT%H:%M:%SZ")
    prefix = (
        f"{ts.strftime('%b %d %H:%M:%S')} {rec['vpc_id']} route53resolver: "
        f"{ts.strftime('%d-%b-%Y %H:%M:%S')}.000{MASKED_HEX}"
        f"{rec['srcaddr']}#{rec['srcport']} ({rec['query_name']}): "
    )
    answers = rec["answers"]
    qtype = answers[0]["Type"] if answers else "A"
    out = [f"{prefix}query: {rec['query_name']} IN {qtype} + (127.0.0.1)"]
    out += [f"{prefix}reply: {rec['query_name']} is {a['Rdata']}" for a in answers]
    return out


def mask(line: str) -> tuple[str, str | None]:
    """(line with the client id masked, the client id) — the pipeline runs
    with random ids, as in production, so only their sharing is checkable."""
    m = _HEX_RE.search(line)
    if m is None:
        return line, None
    return line[: m.start()] + MASKED_HEX + line[m.end():], m.group(0)


def line_key(line: str) -> tuple[str, int, int] | None:
    """(stream, post, record_idx) encoded in a line's query name."""
    m = _KEY_RE.search(line)
    if m is None:
        return None
    return m.group(3), int(m.group(1)), int(m.group(2))
