"""String-format detector cascade.

Re-implements the semantics of the reference's detector chain
(/root/reference/src/infer_string.rs:14-72): first-match-wins in the
fixed order ``[uuid, email, url, hostname, iso-date, iso8601, rfc2822]``
(uuid/email/url_host/dates grouping in the reference), falling back to an
evidence-carrying ``unknown`` string.

Two call surfaces:

* :func:`detect` — scalar, used by the pure-Python inference fold;
* :func:`detect_series` — vectorized over an Arrow string array (RE2
  match masks, first match by ``argmax``), used by the distributed
  profiler; and
* :data:`FORMAT_SQL_PREDICATES` — the same detectors as Spark-SQL /
  ANSI-SQL boolean expressions so constraint checks stay JVM-side and
  are DuckDB-oracle-checkable.
"""

from __future__ import annotations

import re
from datetime import datetime
from email.utils import parsedate_to_datetime
from typing import Optional

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from ..arrow_np import bool_mask, from_numpy, values
from .node import (
    STR_DATETIME_ISO8601,
    STR_DATETIME_RFC2822,
    STR_EMAIL,
    STR_HOSTNAME,
    STR_ISO_DATE,
    STR_UNKNOWN,
    STR_URL,
    STR_UUID,
)

# regexes follow the reference's patterns (infer_string.rs:3-12); the
# RFC3339/RFC2822 ones approximate chrono's parsers, with a Python
# validity check behind the regex for the scalar path.
ISO_DATE_RE = re.compile(r"^\d{4}-\d{2}-\d{2}$")
UUID_RE = re.compile(r"^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$")
HOSTNAME_RE = re.compile(r"^[a-zA-Z0-9\-]+\.[a-zA-Z]{2,}$")
EMAIL_RE = re.compile(r"[a-zA-Z0-9]+@[a-zA-Z0-9]+\.[a-zA-Z]{2,}$")
# scheme://rest — mirrors url::Url::parse accepting absolute URLs only
URL_RE = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.\-]*://\S+$")
RFC3339_RE = re.compile(
    r"^\d{4}-\d{2}-\d{2}[Tt]\d{2}:\d{2}:\d{2}(\.\d+)?([Zz]|[+-]\d{2}:\d{2})$"
)
RFC2822_RE = re.compile(
    r"^(?:(?:Mon|Tue|Wed|Thu|Fri|Sat|Sun),\s*)?\d{1,2}\s+"
    r"(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)\s+\d{2,4}\s+"
    r"\d{2}:\d{2}(?::\d{2})?\s+(?:[+-]\d{4}|[A-Z]{1,5})$"
)

# detector precedence — MUST stay in this order (infer_string.rs:60)
FORMAT_ORDER = [
    STR_UUID,
    STR_EMAIL,
    STR_URL,
    STR_HOSTNAME,
    STR_ISO_DATE,
    STR_DATETIME_ISO8601,
    STR_DATETIME_RFC2822,
]


def _valid_rfc3339(s: str) -> bool:
    return bool(RFC3339_RE.match(s)) and _parses_rfc3339(s)


def _parses_rfc3339(s: str) -> bool:
    try:
        datetime.fromisoformat(s.replace("Z", "+00:00").replace("z", "+00:00"))
        return True
    except ValueError:
        return False


def _valid_rfc2822(s: str) -> bool:
    if not RFC2822_RE.match(s):
        return False
    try:
        parsedate_to_datetime(s)
        return True
    except (ValueError, TypeError):
        return False


def detect(s: str) -> str:
    """Scalar detector: first-match-wins, reference order.

    Returns one of the ``STR_*`` format tags, ``STR_UNKNOWN`` if no
    detector fires.  Semantics per infer_string.rs:
    uuid needs len==36; email needs '@'; url/hostname need '.';
    iso-date/iso8601 need a numeric first char; rfc2822 is tried
    unconditionally.
    """
    if len(s) == 36 and UUID_RE.match(s):
        return STR_UUID
    if "@" in s and EMAIL_RE.search(s):
        return STR_EMAIL
    if "." in s:
        if URL_RE.match(s):
            return STR_URL
        if HOSTNAME_RE.match(s):
            return STR_HOSTNAME
    if s[:1].isnumeric():
        if ISO_DATE_RE.match(s):
            return STR_ISO_DATE
        if _valid_rfc3339(s):
            return STR_DATETIME_ISO8601
    if _valid_rfc2822(s):
        return STR_DATETIME_RFC2822
    return STR_UNKNOWN


def _re2(pattern: re.Pattern) -> str:
    """``pattern`` for RE2 (Arrow's regex engine), matching exactly what
    Python's ``re`` matches on ASCII strings: ``\\d`` / ``\\s`` spelled
    out as Python's ASCII classes (RE2's ``\\s`` lacks ``\\v`` and
    ``\\x1c``-``\\x1f``), and ``$`` also matching before a final newline."""
    ws = r"\t\n\x0b\x0c\r\x1c-\x1f "
    return (
        pattern.pattern.replace(r"\d", "[0-9]")
        .replace(r"\s", f"[{ws}]")
        .replace(r"\S", f"[^{ws}]")
        .replace("$", r"\n?$")
    )


# the detectors in FORMAT_ORDER, as RE2 patterns (all but the email
# search start with ^, so they anchor as re.match does)
_ASCII_PATTERNS = [
    _re2(p)
    for p in (UUID_RE, EMAIL_RE, URL_RE, HOSTNAME_RE, ISO_DATE_RE, RFC3339_RE, RFC2822_RE)
]
# parse-validation of regex survivors, as the scalar path does it
_PARSES = {STR_DATETIME_ISO8601: _parses_rfc3339, STR_DATETIME_RFC2822: _valid_rfc2822}


def detect_series(arr: pa.Array) -> np.ndarray:
    """Vectorized first-match detector over an Arrow string array: one
    format tag per value, ``None`` for NULL; equal to :func:`detect` on
    every value.

    ASCII values run the detectors as RE2 regexes over the whole array
    (``pc.match_substring_regex``, C++), then ``np.argmax`` over the
    stacked masks picks the first match.  The shape survivors of the
    two datetime detectors are parse-validated with the scalar path's
    own checks (chrono parity: a shape-valid ``2024-02-30T00:00:00Z``
    is not a datetime).  Values
    with a non-ASCII character, where Python's Unicode ``\\d`` / ``\\s``
    and ``str.isnumeric`` differ from RE2's, go through :func:`detect`.
    """
    valid = ~bool_mask(pc.is_null(arr))
    # detect()'s gates that its patterns do not imply
    gates = {
        STR_UUID: values(pc.cast(pc.binary_length(arr), pa.int64()), np.int64) == 36,
        STR_URL: bool_mask(pc.match_substring(arr, ".")),
    }
    masks = []
    for fmt, pattern in zip(FORMAT_ORDER, _ASCII_PATTERNS):
        m = bool_mask(pc.match_substring_regex(arr, pattern))
        if fmt in gates:
            m &= gates[fmt]
        if fmt in _PARSES and m.any():
            at = np.flatnonzero(m)
            m[at] = [_PARSES[fmt](v) for v in pc.take(arr, from_numpy(at)).to_pylist()]
        masks.append(m)
    masks.append(valid)  # matched nothing: unknown
    out = np.array(FORMAT_ORDER + [STR_UNKNOWN, None], dtype=object)[
        np.argmax(np.vstack(masks + [~valid]), axis=0)
    ]
    other = np.flatnonzero(valid & ~bool_mask(pc.string_is_ascii(arr)))
    if len(other):
        out[other] = [detect(v) for v in pc.take(arr, from_numpy(other)).to_pylist()]
    return out
