"""``format`` keyword checkers as Spark Column expressions.

Reference: /root/reference/src/formats.lisp (dispatcher
src/validators.lisp:360-373; per-draft tables src/formats.lisp:137-204).

Each checker takes a string Column and returns a boolean Column that is
TRUE when the value conforms. Reference parity notes:

* ``email`` is deliberately loose — "contains @" only
  (src/formats.lisp:43-45); we keep that, NOT RFC 5322.
* ``hostname`` = precompiled regex + per-label length < 64 + no
  trailing '-' (src/formats.lisp:11-12,48-53).
* ``idn-email`` aliases the loose email check, exactly as every
  reference table does (src/formats.lisp:143,156,172,184,197) — which
  is why the reference skips the official suite's idn-email vectors
  (t/draft7.lisp:92-96: they expect real IDN handling).
* idn-hostname / iri / iri-reference / uri-template are NOT
  implemented, matching the reference's skip list
  (t/draft7.lisp:103-106,121-122) — unknown formats pass vacuously,
  mirroring the dispatcher's behavior for missing table entries
  (src/validators.lisp:364-366: only formats present in the table are
  checked).

All of these are pure ``pyspark.sql.functions`` expressions: they run
JVM-side under whole-stage codegen; regexes are compiled once per task.
"""

from __future__ import annotations

import operator
from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def char_length_cmp(s: Column, op: Callable, n: int) -> Column:
    """``op(char_length(s), n)`` for ``op`` ``operator.ge`` or
    ``operator.le``, decided from the byte length where it can.

    ``octet_length`` is O(1); ``char_length`` walks every byte. Spark
    counts one code point per UTF-8 lead byte and a code point takes 1-4
    bytes, also in invalid UTF-8, so ``ceil(bytes/4) <= chars <= bytes``
    and only a byte length in ``[n, 4n)`` (for ``>=``) or ``(n, 4n]``
    (for ``<=``) leaves the answer open. ``char_length`` sits in the
    last branch of a ``CASE``, so generated code evaluates it only
    there: subexpression elimination looks into a ``CASE``'s first
    condition only, where it would hoist a ``char_length`` found in
    both operands of an ``And``/``Or`` out of every row's evaluation
    (as when one column has both bounds). NULL in, NULL out, as
    ``char_length``.
    """
    b = F.octet_length(s)
    if op is operator.ge:
        return (F.when(b < F.lit(n), F.lit(False)).when(b >= F.lit(4 * n), F.lit(True))
                .otherwise(F.char_length(s) >= F.lit(n)))
    return (F.when(b <= F.lit(n), F.lit(True)).when(b > F.lit(4 * n), F.lit(False))
            .otherwise(F.char_length(s) <= F.lit(n)))


# RFC-3339-ish component regexes (anchored; rlike is search, so anchor
# explicitly — the *pattern* keyword stays unanchored, formats do not).
_DATE_RE = r"^\d{4}-\d{2}-\d{2}$"
_TIME_RE = r"^\d{2}:\d{2}:\d{2}(\.\d+)?([Zz]|[+-]\d{2}:\d{2})$"
_DATETIME_RE = (
    r"^\d{4}-\d{2}-\d{2}[Tt ]\d{2}:\d{2}:\d{2}(\.\d+)?([Zz]|[+-]\d{2}:\d{2})$"
)
# ISO-8601 duration (src/formats.lisp:35-40): P…(T…)?, at least one part
_DURATION_RE = (
    r"^P(?!$)(\d+Y)?(\d+M)?(\d+W)?(\d+D)?(T(?=\d)(\d+H)?(\d+M)?(\d+(\.\d+)?S)?)?$"
)
_HOSTNAME_RE = r"^[A-Za-z0-9][A-Za-z0-9.\-]{0,254}$"  # src/formats.lisp:11-12
_IPV4_OCTET = r"(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)"
_IPV4_RE = rf"^({_IPV4_OCTET}\.){{3}}{_IPV4_OCTET}$"
_IPV6_RE = (
    r"^(([0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}"
    r"|([0-9A-Fa-f]{1,4}:){1,7}:"
    r"|([0-9A-Fa-f]{1,4}:){1,6}:[0-9A-Fa-f]{1,4}"
    r"|([0-9A-Fa-f]{1,4}:){1,5}(:[0-9A-Fa-f]{1,4}){1,2}"
    r"|([0-9A-Fa-f]{1,4}:){1,4}(:[0-9A-Fa-f]{1,4}){1,3}"
    r"|([0-9A-Fa-f]{1,4}:){1,3}(:[0-9A-Fa-f]{1,4}){1,4}"
    r"|([0-9A-Fa-f]{1,4}:){1,2}(:[0-9A-Fa-f]{1,4}){1,5}"
    r"|[0-9A-Fa-f]{1,4}:((:[0-9A-Fa-f]{1,4}){1,6})"
    r"|:((:[0-9A-Fa-f]{1,4}){1,7}|:))$"
)
# unreserved + reserved + pct-escapes (src/formats.lisp:15-16,116-125)
_URI_REF_RE = r"^[A-Za-z0-9\-._~:/?#\[\]@!$&'()*+,;=%]*$"


def fmt_date(col: Column) -> Column:
    """RFC-3339 full-date (src/formats.lisp:19-24). Regex guard + real
    calendar parse (rejects 2020-02-31)."""
    return col.rlike(_DATE_RE) & F.try_to_timestamp(col, F.lit("yyyy-MM-dd")).isNotNull()


def fmt_date_time(col: Column) -> Column:
    """RFC-3339 date-time (src/formats.lisp:27-32): regex shape + real
    calendar date + component ranges with the LEAP SECOND allowed
    (second <= 60) — parsing the whole string through Spark's
    timestamp patterns would reject ':60' (caught by the round-3
    differential format corpus; the pyvalidator twin and the reference
    both accept leap seconds, so this path must too). The regex pins
    2-digit fields, so the component positions are fixed."""
    date_ok = F.try_to_timestamp(
        F.substring(col, 1, 10), F.lit("yyyy-MM-dd")).isNotNull()
    in_range = (
        (F.substring(col, 12, 2).cast("int") <= 23)
        & (F.substring(col, 15, 2).cast("int") <= 59)
        & (F.substring(col, 18, 2).cast("int") <= 60)  # leap second
    )
    return col.rlike(_DATETIME_RE) & date_ok & in_range & _offset_ok(col)


# ADVICE r4: the numeric UTC offset is a time-of-day too — RFC 3339
# time-numoffset is hour<=23 / minute<=59 and the reference's
# local-time parse rejects '+99:99' (the old try_to_timestamp path
# rejected out-of-range offsets; the regex alone admits any \d{2})
def _offset_ok(col: Column) -> Column:
    off_h = F.regexp_extract(col, r"[+-](\d{2}):(\d{2})$", 1)
    off_m = F.regexp_extract(col, r"[+-](\d{2}):(\d{2})$", 2)
    return (off_h == "") | (
        (off_h.cast("int") <= 23) & (off_m.cast("int") <= 59))


def fmt_time(col: Column) -> Column:
    """RFC-3339 time-of-day; fractional separator '.' only
    (src/formats.lisp:75-84)."""
    in_range = (
        (F.substring(col, 1, 2).cast("int") <= 23)
        & (F.substring(col, 4, 2).cast("int") <= 59)
        & (F.substring(col, 7, 2).cast("int") <= 60)  # leap second
    )
    return col.rlike(_TIME_RE) & in_range & _offset_ok(col)


def fmt_duration(col: Column) -> Column:
    """ISO-8601 duration (src/formats.lisp:35-40). Pure regex — Spark's
    INTERVAL cast is laxer than ISO-8601, so do not use it."""
    return col.rlike(_DURATION_RE)


def fmt_email(col: Column) -> Column:
    """Deliberately loose: merely contains '@' (src/formats.lisp:43-45)."""
    return col.contains("@")


def fmt_hostname(col: Column) -> Column:
    """Regex + every dot-label < 64 chars + no trailing '-'
    (src/formats.lisp:48-53)."""
    labels_ok = F.forall(
        F.split(col, r"\."), lambda s: char_length_cmp(s, operator.le, 63)
    )
    return col.rlike(_HOSTNAME_RE) & labels_ok & ~col.endswith("-")


def fmt_ipv4(col: Column) -> Column:
    """Dotted-quad with 0-255 octets (src/formats.lisp:56-58)."""
    return col.rlike(_IPV4_RE)


def fmt_ipv6(col: Column) -> Column:
    """IPv6 per reference semantics (src/formats.lisp:61-65): quri-
    style parse — which ACCEPTS RFC-4291 IPv4-embedded tails like
    ::ffff:1.2.3.4 (the official suite the reference runs unskipped
    labels them valid) and rejects zone ids — plus the reference's
    split(':')-parts <= 8 guard (quri PR#34 workaround). The
    IPv4-embedded tail is handled by normalizing a ':'-preceded valid
    dotted quad to '0:0' before the group regex; an invalid tail
    (999.x) is left alone and fails the regex."""
    norm = F.regexp_replace(
        col, rf"(?<=:)({_IPV4_OCTET}\.){{3}}{_IPV4_OCTET}$", "0:0")
    return norm.rlike(_IPV6_RE) & (F.size(F.split(col, ":")) <= F.lit(8))


def fmt_json_pointer(col: Column) -> Column:
    """No dangling/invalid '~' escape; empty or starts with '/'
    (src/formats.lisp:68-72)."""
    bad_escape = col.rlike(r"~(?![01])")
    return ~bad_escape & ((col == F.lit("")) | col.startswith("/"))


def fmt_uri(col: Column) -> Column:
    """Parses as URI with a non-empty scheme (src/formats.lisp:108-113).

    quri (and Python's urlsplit) accept ANY scheme-prefixed URI —
    `mailto:a@b`, `urn:x`, even `fe80::1%eth0` (scheme 'fe80') —
    while Spark's parse_url only handles `proto://` URLs, so the
    check is the scheme grammar plus urlsplit's single parse failure
    (mismatched [ ] in the authority). Stays fully codegen'd; the
    authority is extracted only from a value holding a bracket (a
    ``CASE`` branch, out of subexpression elimination's reach)."""
    scheme_ok = col.rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*:")
    auth = F.regexp_extract(col, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1)
    bad_bracket = F.when(col.contains("[") | col.contains("]"),
                         auth.contains("[") != auth.contains("]")  # XOR
                         ).otherwise(F.lit(False))
    return scheme_ok & ~bad_bracket


def fmt_uri_reference(col: Column) -> Column:
    """Characters restricted to the reference's allowed set
    (src/formats.lisp:15-16,116-125)."""
    return col.rlike(_URI_REF_RE) & ~col.rlike(r"\\")


def fmt_regex(col: Column) -> Column:
    """Value compiles as a regex (src/formats.lisp:101-105).

    No SQL builtin exists; ``try(rlike)`` is not expressible, so this
    is the one format that needs a vectorized fallback. For *literal*
    spec values the compiler checks at compile time and this column
    path is never hit; for data-driven checks we use an Arrow-batched
    pandas UDF (see pyvalidator.format_regex_udf) — never per-row
    Python in the JVM pipeline.
    """
    from json_schema_spark.pyvalidator import regex_compiles_udf

    return regex_compiles_udf(col)


# format name -> checker, per draft (src/formats.lisp:137-204).
def fmt_time_draft3(col: Column) -> Column:
    """Loose draft3 time (src/formats.lisp:87-98): unanchored hh:mm:ss
    with hour <= 24."""
    hh = F.regexp_extract(col, r"([0-2]?\d):([0-5]\d):([0-5]\d)", 1)
    return (hh != F.lit("")) & (hh.cast("int") <= F.lit(24))


_COMMON = {
    "date-time": fmt_date_time,
    "email": fmt_email,
    "idn-email": fmt_email,  # alias of emailp in every reference table
    "hostname": fmt_hostname,
    "ipv4": fmt_ipv4,
    "ipv6": fmt_ipv6,
    "uri": fmt_uri,
    "regex": fmt_regex,
}

FORMAT_TABLES: dict[str, dict] = {
    "draft2019-09": {
        **_COMMON,
        "date": fmt_date,
        "time": fmt_time,
        "duration": fmt_duration,
        "json-pointer": fmt_json_pointer,
        "uri-reference": fmt_uri_reference,
    },
    "draft7": {
        **_COMMON,
        "date": fmt_date,
        "time": fmt_time,
        "json-pointer": fmt_json_pointer,
        "uri-reference": fmt_uri_reference,
    },
    "draft6": {
        **_COMMON,
        "json-pointer": fmt_json_pointer,
        "uri-reference": fmt_uri_reference,
    },
    "draft4": {
        **_COMMON,
        "json-pointer": fmt_json_pointer,  # formats.lisp:180-189
    },
    # draft3 (formats.lisp:192-204): host-name spelling, loose time,
    # json-pointer + idn-email aliases
    "draft3": {
        "date-time": fmt_date_time,
        "date": fmt_date,
        "email": fmt_email,
        "idn-email": fmt_email,
        "host-name": fmt_hostname,
        "ipv4": fmt_ipv4,
        "ipv6": fmt_ipv6,
        "json-pointer": fmt_json_pointer,
        "regex": fmt_regex,
        "time": fmt_time_draft3,
        "uri": fmt_uri,
    },
}


def format_check(name: str, col: Column, draft: str = "draft7") -> Column:
    """Return the pass/fail Column for a format, or vacuous TRUE for
    formats absent from the draft's table (dispatcher behavior,
    src/validators.lisp:360-373)."""
    table = FORMAT_TABLES.get(draft, FORMAT_TABLES["draft7"])
    checker = table.get(name)
    if checker is None:
        return F.lit(True)
    return checker(col)
