"""Canonical extraction + field-parse contract (the single source of truth).

The SAME compiled regexes back both the pure-Python oracle
(:mod:`access_log_aggregator_spark.oracle`) and the Spark-side parse stage
(:mod:`access_log_aggregator_spark.operators.parse`), so byte-identical
extraction per url holds by construction.

Reference semantics being re-expressed (citations into /root/reference/):
- record grammar: one JSON object per line with fields
  time/host/status_code/duration; extra fields ignored
  (internal/accesslog/model.go:9-14, model_test.go:19)
- validity: zero time OR empty host OR zero status_code OR zero duration
  => reject (internal/accesslog/model.go:24-26)
- an incomplete/unmatchable payload is never emitted as a record
  (internal/tailer/tailer_test.go:79-85) — here it routes to ``unparsed``.
"""

from __future__ import annotations

import json
import math
import re
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from typing import Optional

# ---------------------------------------------------------------------------
# The canonical regexes. Spark uses the *pattern strings* (Java regex) for
# regexp_extract/rlike; Python uses the compiled objects. The patterns are
# restricted to the syntax subset where Java and Python regex agree.
# ---------------------------------------------------------------------------

#: A page's embedded access-log payload is the FIRST newline-delimited line
#: that looks like a JSON object (starts with ``{"`` and ends with ``}``).
#: Byte-parity between engines is defined on this exact line.
LINE_PATTERN = r'^\{".*\}$'
LINE_RE = re.compile(LINE_PATTERN, re.MULTILINE)
LINE_RE_BYTES = re.compile(LINE_PATTERN.encode("ascii"), re.MULTILINE)

#: Strict JSON number grammar (RFC 8259 — exactly what Go's json package
#: accepts: no leading zeros, no bare '.5', optional fraction + exponent).
JSON_NUMBER = r"-?(?:0|[1-9]\d*)(?:\.\d+)?(?:[eE][+-]?\d+)?"

#: FAST-PATH-safe number: integer part <= 18 digits, exponent <= 2 digits
#: => magnitude < 1e117, comfortably inside float64. Values beyond this
#: (e.g. 1e300, or 1e400 which Go REJECTS with a strconv range error) miss
#: the fast path and take the json fallback, which applies Go's exact
#: overflow rule — so the fast path can never fabricate an Infinity record.
_FAST_NUMBER = r"-?(?:0|[1-9]\d{0,17})(?:\.\d+)?(?:[eE][+-]?\d{1,2})?"

#: FAST-PATH string char: no quote, no backslash (escape sequences), and no
#: raw control chars — Go's json.Unmarshal ERRORS on unescaped control
#: chars in strings, and \x01 is the pack separator in the Spark capture
#: path, so excluding them keeps the fast path Go-exact AND split-safe.
_FAST_STR = r'[^"\\\x00-\x1f]*'

#: Grok-style FAST-PATH field regex over the extracted line: the reference
#: corpus key order time,host,status_code,duration (test/testdata/log.log),
#: escape-free control-char-free strings, an int64-safe status (<= 18
#: digits), a float64-safe duration, and a tail of well-formed FLAT extra
#: key/value pairs (model_test.go:19). Everything the fast path matches,
#: Go's json.Unmarshal accepts with identical values (captures are
#: escape-free so raw == unescaped). Lines that MISS this pattern fall
#: through to the wide-grammar fallback (:func:`go_unmarshal_fields` / its
#: Spark twins), which implements the full json.Unmarshal grammar —
#: reordered keys, whitespace, escapes, overflow rules.
FIELD_PATTERN = (
    r'^\{"time":"(' + _FAST_STR + r')","host":"(' + _FAST_STR + r')",'
    r'"status_code":(-?(?:0|[1-9]\d{0,17})),'
    r'"duration":(' + _FAST_NUMBER + r')'
    r'(?:,"' + _FAST_STR + r'":(?:"' + _FAST_STR + r'"|' + JSON_NUMBER
    + r'|true|false|null))*\}$'
)
#: re.ASCII: Python \d matches Unicode digits by default, while the SAME
#: pattern string under Java regex / RE2 is ASCII-only — without the flag a
#: status_code written with e.g. Arabic-Indic digits would parse on the
#: Python oracle but not on Spark (cross-engine parity break).
FIELD_RE = re.compile(FIELD_PATTERN, re.ASCII)

#: Fast-path eligibility gate #2 (the dup-primary-key guard). FIELD_PATTERN's
#: extras tail accepts a RE-SPECIFIED primary key (e.g. a second
#: ``"status_code":0`` after the head), and the fast path would then take the
#: FIRST values while Go json.Unmarshal is last-wins. A line is fast-path
#: eligible only when each primary key occurs exactly once — i.e. this
#: pattern occurs exactly :data:`PRIMARY_KEY_COUNT` times. Counting is exact
#: on FIELD_PATTERN-matching lines: fast-path strings exclude quotes and
#: escapes, so ``"<key>":`` can only appear at a key position. Lines that
#: fail the gate fall through to the wide-grammar fallback (last-wins).
PRIMARY_KEY_PATTERN = r'"(?:time|host|status_code|duration)":'
PRIMARY_KEY_RE = re.compile(PRIMARY_KEY_PATTERN)
PRIMARY_KEY_COUNT = 4


def unique_primary_keys(line: str) -> bool:
    """True iff each primary key occurs exactly once (fast-path gate #2)."""
    return len(PRIMARY_KEY_RE.findall(line)) == PRIMARY_KEY_COUNT

#: RFC3339 timestamps as produced by Go time.Time.MarshalJSON
#: (UTC 'Z' or numeric offset, optional 1-9 digit fraction).
TIME_PATTERN = (
    r"^(\d{4})-(\d{2})-(\d{2})T(\d{2}):(\d{2}):(\d{2})"
    r"(?:\.(\d{1,9}))?(Z|[+-]\d{2}:\d{2})$"
)
TIME_RE = re.compile(TIME_PATTERN, re.ASCII)  # \d = ASCII, like Java/RE2

#: Go's zero time.Time marshals to this (time.Time.IsZero,
#: internal/accesslog/model.go:24 rejects it).
GO_ZERO_TIME = "0001-01-01T00:00:00Z"

#: the parsed zero instant (what parse_rfc3339(GO_ZERO_TIME) returns)
_GO_ZERO_DT = datetime(1, 1, 1, tzinfo=timezone.utc)

#: Router classes (north_star match classes).
CLASS_PARSED = "parsed"
CLASS_UNPARSED = "unparsed"
CLASS_BOT = "bot"
CLASS_ERROR = "error"

#: every router class, in sink order — THE list for per-class metric/count
#: loops (defined once so modes cannot drift if a class is ever added)
ALL_CLASSES = (CLASS_PARSED, CLASS_UNPARSED, CLASS_BOT, CLASS_ERROR)

#: reject_reason values for the unparsed/error sinks.
REASON_INVALID_UTF8 = "invalid_utf8"   # html bytes are not valid UTF-8
REASON_NO_PAYLOAD = "no_payload"       # no line matches LINE_RE
REASON_BAD_RECORD = "bad_record"       # extracted line fails FIELD_RE
REASON_INVALID_FIELD = "invalid_field" # model.go:24 validation failure


@dataclass(frozen=True)
class ParsedFields:
    """Raw string captures from FIELD_RE (pre-validation)."""

    time_str: str
    host: str
    status_str: str
    duration_str: str


def extract_line(text: str) -> Optional[str]:
    """Return the first JSON-object-looking line of ``text``, or None.

    This is THE extraction rule: both the oracle and the Spark pandas UDF
    evaluate exactly ``LINE_RE.search(text)``.
    """
    m = LINE_RE.search(text)
    return m.group(0) if m else None


def extract_line_bytes(data: bytes) -> Optional[bytes]:
    """Byte-level twin of :func:`extract_line` (parity is defined on bytes)."""
    m = LINE_RE_BYTES.search(data)
    return m.group(0) if m else None


def parse_fields(line: str) -> Optional[ParsedFields]:
    """Apply FIELD_RE to an extracted line; None when it doesn't match OR
    when a primary key is re-specified in the extras tail (the fast path's
    first-wins captures would diverge from Go's last-wins — such lines must
    take the wide-grammar fallback)."""
    m = FIELD_RE.match(line)
    if m is None or not unique_primary_keys(line):
        return None
    return ParsedFields(m.group(1), m.group(2), m.group(3), m.group(4))


def parse_rfc3339(time_str: str) -> Optional[datetime]:
    """Parse an RFC3339 string to a tz-aware datetime (microsecond truncation).

    Returns None when the string does not parse (bad shape or an impossible
    calendar date — Go ``time.Parse`` rejects e.g. Feb 30). The zone offset
    is bounded like Go's strict RFC3339 decoder (``parseRFC3339``, the path
    ``time.Time.UnmarshalJSON`` takes since Go 1.20): hours 00-23 and
    minutes 00-59 — ``+24:00`` or ``+05:99`` are unmarshal ERRORS, not
    offsets (the bound also keeps ``timezone()`` from raising: Python
    rejects offsets >= 24h with an uncaught ValueError otherwise).
    Fractional seconds beyond 6 digits are truncated toward zero, matching
    Spark's microsecond TimestampType (SURVEY.md §7.3: aggregation never
    uses sub-second precision, windows are hourly, so truncation is safe;
    :func:`is_zero_time` re-reads the full digits where the truncation
    would matter).
    """
    m = TIME_RE.match(time_str)
    if m is None:
        return None
    year, month, day, hh, mm, ss = (int(m.group(i)) for i in range(1, 7))
    frac = m.group(7) or ""
    micros = int(frac[:6].ljust(6, "0")) if frac else 0
    off = m.group(8)
    if off == "Z":
        tz = timezone.utc
    else:
        oh, om = int(off[1:3]), int(off[4:6])
        if oh > 23 or om > 59:  # Go parseRFC3339 offset bounds
            return None
        sign = 1 if off[0] == "+" else -1
        tz = timezone(sign * timedelta(hours=oh, minutes=om))
    try:
        return datetime(year, month, day, hh, mm, ss, micros, tzinfo=tz)
    except ValueError:
        return None


def is_zero_time(time_str: str, dt: Optional[datetime] = None) -> bool:
    """Go ``time.Time.IsZero`` analog for RFC3339 strings.

    The zero instant is 0001-01-01T00:00:00 UTC (model.go:24). Offset
    variants of the same instant would underflow datetime; the reference
    corpus only emits 'Z', and any string that *parses* to year 1 Jan 1
    00:00:00.000000000 UTC counts as zero. Go's IsZero is NANOSECOND
    precision, so a nonzero fractional digit anywhere — including beyond
    the microseconds :func:`parse_rfc3339` keeps — means NOT zero
    (``...T00:00:00.0000001Z`` is a valid instant to the reference).

    ``dt``, when given, MUST be ``parse_rfc3339(time_str)`` — callers that
    already parsed the string pass it to skip the re-parse; the instant
    comparison then settles the common (nonzero) case before the fraction
    digits are ever re-read.
    """
    if time_str == GO_ZERO_TIME:
        return True
    if dt is None:
        dt = parse_rfc3339(time_str)
        if dt is None:
            return False
    try:
        if dt.astimezone(timezone.utc) != datetime(1, 1, 1, tzinfo=timezone.utc):
            return False
    except (OverflowError, ValueError):
        return False
    # Instant is zero at microsecond precision; only now do the sub-micro
    # fraction digits (which parse_rfc3339 truncated) decide.
    m = TIME_RE.match(time_str)
    return not (m is not None and (m.group(7) or "").strip("0"))


def _reject_constant(_name: str):
    # Go's json package rejects NaN/Infinity/-Infinity literals.
    raise ValueError("non-standard JSON constant")


class _JsonPairs(list):
    """Top-level (key, value) pairs in document order — installed as
    json.loads' object_pairs_hook so duplicate keys stay visible (a plain
    dict silently keeps only the last, hiding earlier occurrences whose
    DECODE failures Go reports). Nested objects also become _JsonPairs,
    which is fine: they only ever appear as VALUES, where a list subclass
    fails the same isinstance type checks a dict would."""


#: Lone UTF-16 surrogates (Python's json keeps unpaired \\uD800-\\uDFFF
#: escapes as-is; Go's decoder substitutes U+FFFD per RFC 8259 — and a
#: lone surrogate would crash the Arrow serialization of the UDF output).
#: Valid surrogate PAIRS are untouched: json.loads already combined them
#: into a single astral-plane character outside this range.
_LONE_SURROGATE_RE = re.compile("[\ud800-\udfff]")


def _go_string(s: str) -> str:
    """Decode a JSON string value the way Go does: lone surrogates from
    unpaired escapes become U+FFFD."""
    return _LONE_SURROGATE_RE.sub("�", s)


def go_unmarshal_fields(
    line: str,
) -> Optional[tuple[str, str, int, float, datetime]]:
    """Emulate Go ``json.Unmarshal`` of one line into the Record struct
    (internal/accesslog/model.go:9-18) — the WIDE-grammar fallback behind
    :data:`FIELD_PATTERN`'s fast path.

    Returns ``(time_str, host, status_code, duration, ts)`` with Go zero
    values for missing/null fields — ``ts`` is the already-parsed datetime
    of the surviving ``time_str`` (the decode loop must parse it to
    validate anyway, so callers never re-parse) — or ``None`` exactly
    where Unmarshal errors:

    - JSON syntax error, non-object top level, or trailing content
      (model_test.go:30) — ``json.loads`` matches Go on all three;
    - ``NaN``/``Infinity`` literals (rejected via ``parse_constant``);
    - type mismatches: non-string time/host, bool anywhere, non-integer or
      int64-overflowing status_code, non-number duration;
    - a time string that is not RFC3339 (``time.Time.UnmarshalJSON`` error);
    - float64 range overflow of duration (Go strconv ERANGE).

    Duplicate keys decode like Go's streaming object loop, not like a dict:
    EVERY occurrence of a primary key decodes into the field in document
    order, so an occurrence that fails (wrong type, bad RFC3339, overflow)
    errors the whole record even when a later duplicate would have
    succeeded; the surviving value is the last occurrence. A JSON ``null``
    is a NO-OP (Go leaves the field's previous value — its zero value when
    null is the only occurrence), and string values substitute U+FFFD for
    unpaired surrogate escapes exactly like Go's decoder.
    """
    try:
        obj = json.loads(line, parse_constant=_reject_constant,
                         object_pairs_hook=_JsonPairs)
    except ValueError:
        return None
    if not isinstance(obj, _JsonPairs):
        return None

    time_str = GO_ZERO_TIME
    ts = _GO_ZERO_DT
    host = ""
    status = 0
    duration = 0.0
    for key, val in obj:
        if key == "time":
            if val is None:
                continue  # Go: null leaves the field unchanged
            if not isinstance(val, str):
                return None
            val = _go_string(val)
            parsed = parse_rfc3339(val)
            if parsed is None:
                return None
            time_str, ts = val, parsed
        elif key == "host":
            if val is None:
                continue
            if not isinstance(val, str):
                return None
            host = _go_string(val)
        elif key == "status_code":
            if val is None:
                continue
            if isinstance(val, bool) or not isinstance(val, int):
                return None
            if not (-(2**63) <= val < 2**63):
                return None
            status = val
        elif key == "duration":
            if val is None:
                continue
            if isinstance(val, bool) or not isinstance(val, (int, float)):
                return None
            try:
                d = float(val)
            except OverflowError:  # huge JSON int: float() raises, Go ERANGEs
                return None
            if math.isinf(d):
                return None  # Go: strconv.ParseFloat range error
            duration = d

    return (time_str, host, status, duration, ts)


def validate_and_parse(
    f: ParsedFields,
) -> tuple[Optional[str], Optional[datetime]]:
    """Reference validation (model.go:24-26) returning (reject_reason, ts).

    ``reason`` is None when the record is valid, in which case ``ts`` is the
    parsed timestamp — callers build their Record from it instead of
    re-parsing the RFC3339 string a second (or third) time.

    Rules, exactly: zero time, empty host, status_code == 0, duration == 0.0.
    A time string that fails to parse is equivalent to Go's json unmarshal
    error on the field — the record is rejected either way; we classify both
    as REASON_INVALID_FIELD (the reference folds every failure into one
    malformRecord counter, internal/app/aggregate.go:38-41).
    """
    ts = parse_rfc3339(f.time_str)
    if ts is None or is_zero_time(f.time_str, ts):
        return REASON_INVALID_FIELD, None
    if f.host == "":
        return REASON_INVALID_FIELD, None
    try:
        status = int(f.status_str)
    except ValueError:  # pragma: no cover - regex guarantees digits
        return REASON_INVALID_FIELD, None
    if status == 0 or not (-(2**63) <= status < 2**63):
        # Go int is 64-bit; overflow is an unmarshal error => rejected.
        return REASON_INVALID_FIELD, None
    duration = float(f.duration_str)
    if duration == 0.0:
        return REASON_INVALID_FIELD, None
    return None, ts
