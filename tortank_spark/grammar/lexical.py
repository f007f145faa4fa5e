"""Lexical-form canonicalization for RDF literals.

Reproduces the observable value semantics of the reference engine
(nbittich/tortank) for numbers, booleans and temporal literals:

* numbers: bare Turtle numeric tokens are classified integer (i64) ->
  decimal (f32) -> double (f64), in that order
  (reference: src/triple_common_parser.rs:154-164), and re-rendered the
  way Rust's ``Display`` renders the native type (shortest round-trip
  representation, positional notation, no trailing ``.0``), e.g.
  ``3E1`` -> ``30``, ``1.663E-4`` -> ``0.0001663``
  (reference: src/tests/turtle_parser_test_misc.rs:63,716).
* typed coercion of quoted literals (reference:
  src/turtle/turtle_doc.rs:600-710): xsd:boolean/integer/decimal/double
  are hard errors when unparseable; xsd:date/dateTime fall back to the
  plain quoted literal when unparseable; xsd:time never coerces with the
  reference's format ladder (all TIME_FORMATS lack a date component, so
  chrono's ``DateTime::parse_from_str`` can never complete — observable
  in fixture examples/turtle_doc/output/0010.ttl which keeps the input
  lexical verbatim).
* canonical temporal rendering preserves the reference's equality
  classes (chrono ``DateTime`` equality compares instants): dateTime ->
  UTC RFC3339 with milliseconds and ``Z``; date -> ``%Y-%m-%d`` in the
  value's own offset (reference: src/turtle/turtle_doc.rs:1225-1238).
"""

from __future__ import annotations

import re
from datetime import datetime, timedelta, timezone

import numpy as np

XSD = "http://www.w3.org/2001/XMLSchema#"
XSD_STRING = XSD + "string"
XSD_BOOLEAN = XSD + "boolean"
XSD_INTEGER = XSD + "integer"
XSD_DECIMAL = XSD + "decimal"
XSD_DOUBLE = XSD + "double"
XSD_DATE = XSD + "date"
XSD_DATE_TIME = XSD + "dateTime"
XSD_TIME = XSD + "time"

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDF_TYPE = RDF_NS + "type"
RDF_NIL = RDF_NS + "nil"
RDF_FIRST = RDF_NS + "first"
RDF_REST = RDF_NS + "rest"

I64_MIN = -(2**63)
I64_MAX = 2**63 - 1

_INT_RE = re.compile(r"[+-]?\d+\Z")


class CoercionError(ValueError):
    """Raised when a typed literal cannot be coerced (doc-level error in
    the reference: src/turtle/turtle_doc.rs:600-628)."""


def rust_f32_str(v: float) -> str:
    """Render a value the way Rust ``Display`` renders ``f32``."""
    f = np.float32(v)
    if np.isinf(f):
        return "-inf" if f < 0 else "inf"
    if np.isnan(f):
        return "NaN"
    return np.format_float_positional(f, unique=True, trim="-")


def rust_f64_str(v: float) -> str:
    """Render a value the way Rust ``Display`` renders ``f64``."""
    f = np.float64(v)
    if np.isinf(f):
        return "-inf" if f < 0 else "inf"
    if np.isnan(f):
        return "NaN"
    return np.format_float_positional(f, unique=True, trim="-")


def parse_i64_strict(s: str) -> int:
    """Rust ``str::parse::<i64>``: optional sign + digits, no spaces."""
    if not _INT_RE.match(s):
        raise CoercionError(f"invalid digit found in string: {s!r}")
    v = int(s)
    if not (I64_MIN <= v <= I64_MAX):
        raise CoercionError(f"number too large to fit in target type: {s!r}")
    return v


def parse_bool_strict(s: str) -> bool:
    """Rust ``str::parse::<bool>``: exactly 'true' or 'false'."""
    if s == "true":
        return True
    if s == "false":
        return False
    raise CoercionError(f"provided string was not `true` or `false`: {s!r}")


def parse_f32_strict(s: str) -> float:
    try:
        return float(np.float32(s))
    except ValueError as e:  # Rust f32 parse is strict about garbage
        raise CoercionError(str(e)) from None


def parse_f64_strict(s: str) -> float:
    try:
        return float(np.float64(s))
    except ValueError as e:
        raise CoercionError(str(e)) from None


# Full instant: date 'T'/' ' time, optional fraction, optional offset.
# The reference's chrono ladder only ever completes when the value carries
# a date AND a time (DATE_FORMATS in src/shared.rs:15-28 via
# DateTime/NaiveDateTime::parse_from_str + the RFC3339 fallback,
# src/turtle/turtle_doc.rs:629-704); date-only or offset-only values fall
# back to the plain quoted literal (fixtures 0017, 0022-0025).
_INSTANT_RE = re.compile(
    r"(\d{4})-(\d{2})-(\d{2})[T ]"
    r"(\d{2}):(\d{2}):(\d{2})(\.\d+)?"
    r"(Z|z|[+-]\d{2}(?::?\d{2})?)?\Z"
)


def parse_instant(value: str, local_utc_offset_seconds: int = 0):
    """Parse a date+time instant like the reference ladder; None if not
    parseable. Naive values get the machine timezone
    (src/turtle/turtle_doc.rs:641-645); we pin it via
    ``local_utc_offset_seconds`` (tests run with TZ=UTC)."""
    m = _INSTANT_RE.match(value)
    if not m:
        return None
    y, mo, d, h, mi, s, frac, off = m.groups()
    try:
        micro = int(float(frac) * 1_000_000) if frac else 0
        if off is None:
            tz = timezone(timedelta(seconds=local_utc_offset_seconds))
        elif off in ("Z", "z"):
            tz = timezone.utc
        else:
            sign = 1 if off[0] == "+" else -1
            rest = off[1:].replace(":", "")
            oh = int(rest[:2])
            om = int(rest[2:4]) if len(rest) >= 4 else 0
            tz = timezone(sign * timedelta(hours=oh, minutes=om))
        return datetime(int(y), int(mo), int(d), int(h), int(mi), int(s), micro, tz)
    except ValueError:
        return None


_FAST_DTZ_RE = re.compile(
    r"(\d{4})-(\d{2})-(\d{2})T(\d{2}):(\d{2}):(\d{2})(\.\d+)?[Zz]\Z"
)
_DAYS_IN_MONTH = (31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31)
_DIM_STR = {
    f"{i + 1:02d}": str(n) for i, n in enumerate(_DAYS_IN_MONTH)
}


def _is_leap(y: int) -> bool:
    return y % 4 == 0 and (y % 100 != 0 or y % 400 == 0)


def fast_canonical_datetime_z(value: str):
    """``canonical_datetime(parse_instant(v), preserve_offset=False)``
    for the dominant web-timestamp shape ``YYYY-MM-DDTHH:MM:SS(.f)Z``
    without constructing a ``datetime`` (hot in extraction: one
    datetime + tzinfo + astimezone per temporal literal). Returns None
    when the shape or calendar validation doesn't apply — the caller
    falls back to the full ``parse_instant`` ladder, so behavior is
    byte-identical by construction: the canonical body is the input's
    own digits (the slow path re-renders exactly them), milliseconds
    use the identical ``int(float(frac) * 1e6) // 1000`` truncation,
    and every range the ``datetime`` constructor enforces (month 1-12,
    real calendar day incl. leap years, h<=23, m/s<=59, year>=1) is
    checked here so invalid values keep flowing to the slow path and
    from there to the reference's quoted-literal fallback."""
    m = _FAST_DTZ_RE.match(value)
    if m is None:
        return None
    # field positions are fixed for this shape; 2-char numeric strings
    # compare like their values, so validation needs no int() parses
    mo = value[5:7]
    d = value[8:10]
    if not (
        "01" <= mo <= "12"
        and value[11:13] <= "23"          # hour
        and value[14:16] <= "59"          # minute
        and value[17:19] <= "59"          # second
        and "01" <= d
        and value[:4] != "0000"           # datetime MINYEAR is 1
    ):
        return None
    dim = _DIM_STR[mo]
    if d > dim and not (
        mo == "02" and d == "29" and _is_leap(int(value[:4]))
    ):
        return None
    frac = m.group(7)
    if not frac:
        return value[:19] + ".000Z"
    if len(frac) == 4:
        # exactly 3 fractional digits (the dominant millisecond shape):
        # int(float('.'+ddd) * 1e6) // 1000 == int(ddd) for every ddd in
        # 000..999 (verified exhaustively), so the canonical millis are
        # the input digits verbatim — no float round trip
        return value[:19] + frac + "Z"
    micro = int(float(frac) * 1_000_000)
    return f"{value[:19]}.{micro // 1000:03d}Z"


def canonical_datetime(dt: datetime, preserve_offset: bool = False) -> str:
    """RFC3339 with milliseconds — preserves chrono DateTime
    instant-equality classes (reference Display uses
    to_rfc3339_opts(Millis, true), src/turtle/turtle_doc.rs:1228-1235).

    Default renders the UTC instant with ``Z``. ``preserve_offset``
    matches chrono's to_rfc3339 byte-exactly on non-UTC values too:
    the value keeps its OWN offset (``+02:00``), with ``Z`` only when
    the offset is zero (chrono's use_z=true)."""
    if not preserve_offset and dt.tzinfo is not timezone.utc:
        # (already-UTC values skip the astimezone arithmetic — the
        # common case: Z-suffixed web timestamps; hot in extraction)
        dt = dt.astimezone(timezone.utc)
    ms = dt.microsecond // 1000
    body = (f"{dt.year:04d}-{dt.month:02d}-{dt.day:02d}"
            f"T{dt.hour:02d}:{dt.minute:02d}:{dt.second:02d}.{ms:03d}")
    total = int((dt.utcoffset() or timedelta(0)).total_seconds())
    if total == 0:
        return body + "Z"
    sign = "+" if total >= 0 else "-"
    total = abs(total)
    return f"{body}{sign}{total // 3600:02d}:{total % 3600 // 60:02d}"


def canonical_date(dt: datetime) -> str:
    """%Y-%m-%d in the value's own offset (src/turtle/turtle_doc.rs:1226)."""
    return f"{dt.year:04d}-{dt.month:02d}-{dt.day:02d}"


def has_scheme(iri: str) -> bool:
    """Reference IRI::has_scheme (src/iri.rs:113-119, scheme grammar
    src/iri.rs:410-419): a leading alphabetic char, then
    alphanumeric/./-/+, terminated by ':'. Unicode-aware like Rust's
    char::is_alphanumeric."""
    if not iri or not iri[0].isalpha():
        return False
    for i, c in enumerate(iri):
        if c == ":":
            return i > 0
        if not (c.isalnum() or c in ".-+"):
            return False
    return False
