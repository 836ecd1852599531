"""Schema -> JVM-side predicate compiler over Spark's native VARIANT.

Third validation path, between the typed-column compiler
(``compiler.py`` — fastest, needs a known column shape) and the
Arrow-batched pandas-UDF interpreter (``pyvalidator.py`` — full
reference semantics on any shape, but Python-side):

    dynamic-shape JSON, validated entirely inside the JVM.

``parse_json`` turns a JSON string column into an open-schema VARIANT.
The keyword rules are ``compiler.py``'s — one table for both paths;
this module supplies :class:`VariantAccess`, the value accessor they
run against: ``schema_of_variant`` and strict container casts for type
gates, ``try_variant_get`` casts for value extraction,
``map<string,variant>`` / ``array<variant>`` casts for the higher-order
functions of the applicators, and canonical deep equality. Recursion
over subschemas happens at compile time (the schema is driver-side
data), so arbitrary nesting costs zero executor Python.

Reference-parity semantics preserved (SURVEY.md §2):

* **Type-gating** (require-type, src/validators.lisp:35-37): every
  keyword passes vacuously on data outside its type. Casts on VARIANT
  are lenient (a BIGINT casts to "1", a BOOLEAN to 1.0), so scalar
  gates are built from ``schema_of_variant``, never from cast success.
* **JSON null vs absent** — unlike the typed-column path (SURVEY.md
  §1.1 caveat), VARIANT keeps them distinct: an absent property is a
  NULL variant, a present ``null`` is a non-NULL variant with
  ``is_variant_null`` true. ``required`` + ``type: "null"`` therefore
  carry full reference semantics here (utils:object-get second return
  value, src/utils.lisp:57-62).
* **Exact numbers** (json-equal-p, src/utils.lisp:69-96): equality and
  the min/max bounds compare exactly — decimal(38,15), then
  decimal(38,0) for integral bignums, double beyond that; booleans only
  equal booleans, objects by key-set + recursive values, arrays
  element-wise.
* ``propertyNames`` compiles its key schema with the typed accessor
  over ``StringType``: object keys are plain strings.

Schemas outside the JVM-expressible subset (untranslatable PCRE
patterns, cyclic ``$ref`` under strict-unevaluated tracking) raise
:class:`VariantUnsupported` at compile time; callers fall back to
``pyvalidator.validate_json_udf`` — never silently approximate. A
cyclic ``$ref`` is unrolled 3 levels at compile time; data nesting
deeper than that refuses loudly at runtime.

Known limit vs the interpreter (documented, conformance-gated):
``uniqueItems`` deep equality is reference-exact (recursively
key-sorted object canonicalization — ``{"a":1,"b":2}`` equals
``{"b":2,"a":1}``; numbers numerically normalized so ``[1, 1.0]`` has a
duplicate while ``["1", 1]`` does not) for containers nested up to
``_UNIQ_DEPTH`` levels inside an element. Deeper containers RAISE at
runtime (``raise_error`` names the pandas-UDF fallback) — loud refusal,
never a silent approximation.
"""

from __future__ import annotations

import decimal
import json
import operator
import threading
import weakref
from collections import OrderedDict
from dataclasses import dataclass
from typing import Any, Callable, ClassVar

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.utils import get_active_spark_context

from json_schema_spark.compiler import (
    _MAX_DEPTH, _PCRE_FALLBACK, _REF_UNROLL, Access, CompiledSpec, KeywordCheck,
    TypedAccess, _compile_keyword, _compile_schema, _message, _or,
    translate_regex,
)
from json_schema_spark.functions.formats import char_length_cmp
from json_schema_spark.spec import SpecError, SpecRegistry

VPred = Callable[[Column], Column]  # variant Column -> TRUE-pass boolean


class VariantUnsupported(SpecError):
    """Schema needs a construct the variant path cannot express
    JVM-side; caller should fall back to the pandas-UDF interpreter."""


def _java_rx(pattern: str) -> str:
    """Java-safe regex or VariantUnsupported — the JVM-only path must
    decline PCRE-only constructs rather than silently mismatching."""
    if _PCRE_FALLBACK.search(pattern):
        raise VariantUnsupported(f"PCRE-only pattern {pattern!r}")
    return translate_regex(pattern)


# ---------------------------------------------------------------------------
# type gates (src/types.lisp:54-102) via schema_of_variant
# ---------------------------------------------------------------------------

def _vt(v: Column) -> Column:
    return F.schema_of_variant(v)


def _is_string(v: Column) -> Column:
    return _vt(v) == F.lit("STRING")


def _is_bool(v: Column) -> Column:
    return _vt(v) == F.lit("BOOLEAN")


def _is_number(v: Column) -> Column:
    t = _vt(v)
    return (
        (t == "BIGINT") | (t == "DOUBLE") | (t == "FLOAT")
        | t.startswith("DECIMAL")
    )


def _is_object(v: Column) -> Column:
    # container casts are STRICT (unlike scalar casts, which are
    # lenient — a BIGINT happily casts to string): only a real JSON
    # object casts to map<string,variant>, so try-cast success is a
    # correct object test. Crucially it is also ~2.4x cheaper than
    # schema_of_variant on a whole document (which stringifies the
    # full nested schema: measured 1.74s vs a 0.96s parse floor on 4M
    # docs, /tmp micro-profile -> BENCH/json_paths.json history) AND
    # it is the exact subtree the properties/additionalProperties
    # machinery casts anyway, so codegen subexpression elimination
    # shares one cast across the gate and every object applicator.
    return F.try_variant_get(v, "$", "map<string,variant>").isNotNull()


def _is_array(v: Column) -> Column:
    # same strict-container-cast argument as _is_object
    return F.try_variant_get(v, "$", "array<variant>").isNotNull()


def _dbl(v: Column) -> Column:
    return F.try_variant_get(v, "$", "double")


def _dec(v: Column) -> Column:
    return F.try_variant_get(v, "$", "decimal(38,15)")


def _dec0(v: Column) -> Column:
    """Integer-exact tier for bignums that overflow decimal(38,15)'s
    23 integral digits (e.g. a 29-digit int is DECIMAL(29,0) in the
    variant — exact, but only reachable at scale 0). Callers must gate
    on integral data: the decimal cast ROUNDS fractions."""
    return F.try_variant_get(v, "$", "decimal(38,0)")


def _str(v: Column) -> Column:
    return F.try_variant_get(v, "$", "string")


def _obj(v: Column) -> Column:
    return F.try_variant_get(v, "$", "map<string,variant>")


def _arr(v: Column) -> Column:
    return F.try_variant_get(v, "$", "array<variant>")


def _is_integer(v: Column) -> Column:
    """'anything without a fractional part' — 1.0 IS an integer
    (src/types.lisp:41-44)."""
    return (_vt(v) == "BIGINT") | (
        _is_number(v) & (F.pmod(_dbl(v), F.lit(1.0)) == F.lit(0.0))
    )


# ---------------------------------------------------------------------------
# deep equality (json-equal-p, src/utils.lisp:69-96)
# ---------------------------------------------------------------------------

def _dec_lit(val: Any) -> decimal.Decimal | None:
    """``val`` as an exact decimal(38,15) literal, or None."""
    try:
        d = decimal.Decimal(str(val))
    except decimal.InvalidOperation:
        return None
    t = d.as_tuple()
    return d if abs(t.exponent) <= 15 and len(t.digits) <= 38 else None


def _num_cmp(v: Column, op: Callable, val: Any) -> Column:
    """``v <op> val`` with the reference's exact rational semantics:
    in decimal when the data fits decimal(38,15), integer-exact for
    bignums, double otherwise."""
    d = _dec_lit(val)
    dbl = op(_dbl(v), F.lit(float(val)))
    if d is None:
        return dbl
    dec = _dec(v)
    out = F.when(dec.isNotNull(), op(dec, F.lit(d)))
    if d == d.to_integral_value():
        d0 = d.quantize(decimal.Decimal(1))
        out = out.when(_dec0(v).isNotNull() & _is_integer(v),
                       op(_dec0(v), F.lit(d0)))
    return out.otherwise(dbl)


def _deep_eq(v: Column, val: Any, depth: int = 0) -> Column:
    if depth > _MAX_DEPTH:
        raise VariantUnsupported("const/enum nesting too deep")
    if val is None:
        return F.is_variant_null(v)
    if isinstance(val, bool):  # bools only equal bools (utils.lisp:79-82)
        return _is_bool(v) & (F.try_variant_get(v, "$", "boolean") == F.lit(val))
    if isinstance(val, (int, float)):
        return _is_number(v) & _num_cmp(v, operator.eq, val)
    if isinstance(val, str):
        return _is_string(v) & (_str(v) == F.lit(val))
    if isinstance(val, list):
        arr = _arr(v)
        pred = _is_array(v) & (F.size(arr) == F.lit(len(val)))
        for i, item in enumerate(val):
            pred = pred & _deep_eq(F.try_element_at(arr, F.lit(i + 1)), item, depth + 1)
        return pred
    if isinstance(val, dict):  # object-equal-p (utils.lisp:99-112)
        m = _obj(v)
        pred = _is_object(v) & (
            F.sort_array(F.map_keys(m))
            == F.array(*[F.lit(k) for k in sorted(val)])
        )
        for k, sub in val.items():
            pred = pred & _deep_eq(F.try_element_at(m, F.lit(k)), sub, depth + 1)
        return pred
    raise VariantUnsupported(f"enum/const member of type {type(val)!r}")


# Containers nested deeper than this inside a uniqueItems element are
# refused at RUNTIME (raise_error), never silently approximated: the
# canonicalization below is a compile-time-unrolled recursion, so its
# depth must be fixed before seeing the data.  Plan size (and Catalyst
# planning time, measured ~2x per level) grows O(2^depth) per
# uniqueItems occurrence — 4 covers the conformance corpus (max
# container depth 3 inside an element) with one level of headroom.
_UNIQ_DEPTH = 4


def _esc(s: Column) -> Column:
    """Backslash-escape the canonical grammar's structural characters
    inside raw string content (element strings and object keys), so
    canonical texts parse unambiguously — '{' in a string can never be
    confused with an object opener, and the '!' deep-cutoff sentinel
    can never be forged by data (it only ever appears unescaped)."""
    return F.regexp_replace(s, r"([\\,\[\]{}:!])", r"\\$1")


# a too-deep container canonicalizes to a bare "!": unforgeable (every
# "!" and every structural char in raw string content is
# backslash-escaped by _esc), so in a legit canonical text "!" is
# always preceded by "\" — the detector below matches only the real
# sentinel. Matched texts trip a loud raise_error in uniqueItems.
_DEEP_SENTINEL_RX = r"(^|[,:\[{])!"


def _canon(x: Column, depth: int) -> Column:
    """Canonical text of a variant value for deep-equality grouping
    (json-equal-p, src/utils.lisp:69-96): objects are recursively
    KEY-SORTED (key-set + values semantics — ``{"a":1,"b":2}`` and
    ``{"b":2,"a":1}`` collide), numbers numerically normalized so 1 and
    1.0 collide while 1 / "1" / true / [1] stay distinct.  The
    recursion is unrolled at COMPILE time, so containers nested past
    ``_UNIQ_DEPTH`` canonicalize to the "!" sentinel
    (``_DEEP_SENTINEL_RX``), which the uniqueItems predicate turns
    into a loud ``raise_error`` rather than a silent approximation.
    Each child subtree is referenced exactly ONCE (the sentinel is
    inline text, not a NULL needing a second exists() pass), keeping
    plan size O(2^depth), measured ~5x smaller per level than the
    NULL-propagating formulation."""
    t = _vt(x)
    scalars = (
        F.when(F.is_variant_null(x), F.lit("Z"))
        .when(t == "STRING", F.concat(F.lit("S"), _esc(_str(x))))
        .when(t == "BOOLEAN", F.concat(F.lit("B"), _str(x)))
        .when(_is_number(x), F.concat(
            F.lit("N"),
            F.coalesce(_dec(x).cast("string"), _dec0(x).cast("string"),
                       F.lit("?")),
            F.lit("|"), _dbl(x).cast("string"),
        ))
    )
    if depth >= _UNIQ_DEPTH:
        return scalars.otherwise(F.lit("!"))  # container too deep

    m, a = _obj(x), _arr(x)
    obj_txt = F.concat(
        F.lit("{"),
        F.array_join(
            F.transform(
                F.array_sort(F.map_keys(m)),
                lambda k: F.concat(_esc(k), F.lit(":"),
                                   _canon(F.try_element_at(m, k), depth + 1)),
            ), ","),
        F.lit("}"))
    arr_txt = F.concat(
        F.lit("A["),
        F.array_join(F.transform(a, lambda e: _canon(e, depth + 1)), ","),
        F.lit("]"))
    return (scalars
            .when(m.isNotNull(), obj_txt)
            .otherwise(arr_txt))


def _elem_norm(x: Column) -> Column:
    """uniqueItems normalization entry point (depth-0 canonical text)."""
    return _canon(x, 0)


# ---------------------------------------------------------------------------
# the VARIANT value accessor
# ---------------------------------------------------------------------------

@dataclass(frozen=True, kw_only=True)
class VariantAccess(Access):
    """A VARIANT value: gates are Columns, so every keyword compiles to
    the branch-free ``~gate | pred``; a NULL variant is an absent value
    and JSON null a present one."""

    error: type = VariantUnsupported

    null_is_absent: ClassVar[bool] = False

    def gate(self, kind: str) -> VPred:
        return {"string": _is_string, "sized": _is_string, "number": _is_number,
                "array": _is_array, "object": _is_object, "map": _is_object}[kind]

    def type_is(self, name: str, v: Column) -> Column:
        if name == "any":  # draft3 relic; accepted by the reference's table
            return F.lit(True)
        test = {"string": _is_string, "number": _is_number, "integer": _is_integer,
                "boolean": _is_bool, "null": F.is_variant_null,
                "object": _is_object, "array": _is_array}.get(name)
        if test is None:
            raise VariantUnsupported(f"unknown type name {name!r}")
        return test(v)

    def equals_any(self, members: list) -> VPred:
        return lambda v: _or([_deep_eq(v, m, self.depth) for m in members])

    def string(self, v: Column) -> Column:
        return _str(v)

    def length_cmp(self, v: Column, op: Callable, n: int) -> Column:
        return char_length_cmp(_str(v), op, n)

    def regex(self, pattern: str) -> str:
        return _java_rx(pattern)

    def search(self, pattern: str) -> VPred:
        # PCRE-only constructs raise: rlike would silently mismatch —
        # the typed/UDF paths route those through the Arrow PCRE UDF.
        rx = _java_rx(pattern)
        return lambda v: _str(v).rlike(rx)

    def compare(self, op: Callable, val: Any) -> VPred:
        # Rounding to double keeps order, so a strict difference in
        # double is already the exact answer: only rows that tie in
        # double pay for the decimal casts.
        def bound(v: Column) -> Column:
            d, b = _dbl(v), F.lit(float(val))
            if _dec_lit(val) is None:
                return op(d, b)
            return F.when(d != b, op(d, b)).otherwise(_num_cmp(v, op, val))

        return bound

    def multiple_of(self, val: Any) -> VPred:
        # reference: int divisor on int data via mod, else exact
        # rational check (validators.lisp:501-516 / pyvalidator's
        # Fraction twin) — decimal pmod is the JVM-exact equivalent,
        # double pmod the fallback beyond decimal range.
        d = decimal.Decimal(str(val))

        def mult(v: Column) -> Column:
            dec = _dec(v)
            out = F.when(dec.isNotNull(),
                         F.pmod(dec, F.lit(d)) == F.lit(decimal.Decimal(0)))
            if d == d.to_integral_value():
                # bignum data with an int divisor: reference computes
                # int mod exactly (validators.lisp:501-516)
                d0 = d.quantize(decimal.Decimal(1))
                out = out.when(
                    _dec0(v).isNotNull() & _is_integer(v),
                    F.pmod(_dec0(v), F.lit(d0)) == F.lit(decimal.Decimal(0)))
            return out.otherwise(F.pmod(_dbl(v), F.lit(float(d))) == F.lit(0.0))

        return mult

    def array(self, v: Column) -> Column:
        return _arr(v)

    def element(self, in_lambda: bool = True) -> "VariantAccess":
        return self

    def unique(self) -> VPred:
        def unique(v: Column) -> Column:
            norms = F.transform(_arr(v), _elem_norm)
            # sentinel norm = container nested past _UNIQ_DEPTH:
            # refuse LOUDLY (fall-back-or-agree, never approximate).
            too_deep = F.exists(norms,
                                lambda s: s.rlike(_DEEP_SENTINEL_RX))
            ok = F.size(F.array_distinct(norms)) == F.size(_arr(v))
            return F.when(
                too_deep,
                F.raise_error(F.lit(
                    "variant uniqueItems: element container nesting "
                    f"exceeds depth {_UNIQ_DEPTH}; revalidate this "
                    "column with pyvalidator.validate_json_udf")),
            ).otherwise(ok)

        return unique

    def member(self, key: str) -> tuple[VPred, "VariantAccess"]:
        return (lambda v: F.try_element_at(_obj(v), F.lit(key))), self

    def has(self, v: Column, key: str) -> Column:
        return F.try_element_at(_obj(v), F.lit(key)).isNotNull()

    def as_map(self, v: Column) -> Column:
        return _obj(v)

    def values(self) -> "VariantAccess":
        return self

    def keys(self) -> TypedAccess:
        return TypedAccess(dt=T.StringType(), in_lambda=True, **self.context())

    def prop_count(self, v: Column) -> Column:
        return F.size(_obj(v))

    def ref_key(self, target: Any) -> int:
        return id(target)

    def ref_cut(self, ref: str) -> VPred:
        # Data shallower than the unroll never consults this leaf (its
        # input variant is NULL past the data's own depth), so finite
        # instances of a self-referential schema validate entirely
        # JVM-side; deeper data refuses loudly at runtime.
        msg = (f"variant $ref {ref!r}: data nests deeper than the "
               f"{_REF_UNROLL}-level compile-time unroll; "
               "revalidate with pyvalidator.validate_json_udf")
        return lambda v: F.when(v.isNull(), F.lit(True)) \
                          .otherwise(F.raise_error(F.lit(msg)))


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------

def compile_variant(schema: Any, draft: str = "draft7",
                    registry: SpecRegistry | None = None,
                    strict: bool = False) -> VPred:
    """Compile a JSON-Schema dict into ``variant Column -> boolean
    Column`` (TRUE = valid). Raises :class:`VariantUnsupported` when
    any reachable keyword cannot be expressed JVM-side. ``strict``
    enables full 2019-09 unevaluated* annotation tracking — the
    engine's documented extension, same opt-in flag as the other two
    paths (``{"strict_unevaluated": true}`` on the root schema, or
    ``strict=True`` here)."""
    strict = strict or (isinstance(schema, dict)
                        and bool(schema.get("strict_unevaluated")))
    return _compile_schema(schema, VariantAccess(draft=draft, registry=registry,
                                                 strict=strict))


def validate_variant_column(json_col: Column, schema: Any,
                            draft: str = "draft7",
                            registry: SpecRegistry | None = None,
                            malformed_valid: bool = False) -> Column:
    """TRUE-pass boolean for a JSON *string* column.

    Malformed JSON yields ``malformed_valid`` (the reference raises at
    parse time, before validation — a table engine must instead decide
    per row; default counts malformed rows as violations).
    """
    pred = compile_variant(schema, draft, registry)
    v = F.try_parse_json(json_col)
    # branch-free on purpose: wrapping the whole predicate in
    # when().otherwise() put every subexpression inside a conditional
    # branch, where Spark's subexpression elimination does not reach —
    # the repeated try_parse_json / map-cast subtrees were re-evaluated
    # per keyword (measured 3.3x on a 4M-doc pass; BENCH/json_paths.py).
    # Three-valued logic keeps the semantics: NULL/malformed rows
    # short out through the boolean algebra, never through a branch.
    if malformed_valid:
        return json_col.isNull() | v.isNull() | pred(v)
    return v.isNotNull() & pred(v)


def variant_checks(schema: dict, draft: str = "draft7",
                   registry: SpecRegistry | None = None,
                   ) -> list[tuple[str, VPred]]:
    """Per-top-level-keyword predicates for error accumulation
    (validators.lisp:105-108): every keyword verdict surfaces
    independently, mirroring ``compiler.CompiledSpec.checks``."""
    a = VariantAccess(draft=draft, registry=registry)
    return [(kw, p) for kw, val in schema.items()
            if (p := _compile_keyword(kw, val, schema, a)) is not None]


# ---------------------------------------------------------------------------
# verdict / violation materialization on the VARIANT path
# ---------------------------------------------------------------------------
#
# The north rule asks for per-partition pass/fail AND structured
# violation rows; the typed-column path has both (compiler.verdict_df /
# violations_df). These wrappers give the VARIANT path the SAME output
# shapes by compiling each top-level keyword into a KeywordCheck whose
# predicate reads a single shared parsed-variant column — so the JSON
# string is parsed ONCE per row regardless of keyword count, and the
# downstream machinery (one-agg verdicts, array-collect+explode
# violations, ValidationRunner, errors.render_verdict_report) is reused
# verbatim instead of reimplemented.

_PARSED = "__variant_parsed"


def with_parsed_variant(df, json_col: str):
    """Add the shared parsed-variant column the compiled checks read."""
    return df.withColumn(_PARSED, F.try_parse_json(F.col(json_col)))


def variant_compiled_spec(json_col: str, schema: dict,
                          draft: str = "draft7",
                          registry: SpecRegistry | None = None,
                          malformed_valid: bool = False) -> CompiledSpec:
    """Per-top-level-keyword :class:`CompiledSpec` over a JSON string
    column, predicates expressed against :data:`_PARSED` (add it with
    :func:`with_parsed_variant`).

    Check set mirrors the error-accumulation granularity of the
    reference (every keyword verdict surfaces independently,
    src/validators.lisp:105-108) and of ``compiler.compile_spec``:
    one check per top-level keyword, plus a synthetic ``(parse)``
    check — the reference raises at parse time (before validation);
    a table engine instead marks the ROW, and only the parse check
    fails for a malformed document (keyword checks pass vacuously,
    exactly as typed-path keyword checks pass on NULL columns).

    Compile once, validate many (src/reference.lisp:103-119): the spec
    is kept, per Spark context, for the last :data:`_MEMO_SIZE`
    distinct arguments, so the verdict and violation wrappers compile
    a schema once and then reuse its Columns. A schema equal as JSON
    is the same schema; a registry is the same one only while no
    document was added to it. A schema that raises is not kept.
    """
    key = (json_col, json.dumps(schema, sort_keys=True, default=repr), draft,
           malformed_valid, registry, None if registry is None else registry.version)
    scope = _jvm_scope()
    with _memo_lock:
        memo = _memo.setdefault(scope, OrderedDict())
        if key in memo:
            memo.move_to_end(key)
            return memo[key]
    out = _variant_compiled_spec(json_col, schema, draft, registry, malformed_valid)
    with _memo_lock:
        memo[key] = out
        if len(memo) > _MEMO_SIZE:
            memo.popitem(last=False)
    return out


# variant_compiled_spec's memo: Spark context -> arguments -> spec
_MEMO_SIZE = 16
_memo: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_memo_lock = threading.Lock()


def _jvm_scope():
    """What a compiled spec's Columns belong to: the active Spark
    context. A new JVM always comes with a new context, and a Python
    UDF Column (``format: regex``) is bound to the context that built
    it, so a stopped context's Columns are never handed out again."""
    return get_active_spark_context()


def _variant_compiled_spec(json_col: str, schema: dict, draft: str,
                           registry: SpecRegistry | None,
                           malformed_valid: bool) -> CompiledSpec:
    v = F.col(_PARSED)
    raw = F.col(json_col)
    checks: list[KeywordCheck] = [KeywordCheck(
        json_col, "(parse)",
        F.lit(True) if malformed_valid else (raw.isNull() | v.isNotNull()),
        f"{json_col!r} is not well-formed JSON",
        path="/",
    )]
    for kw, pred in variant_checks(schema, draft, registry):
        checks.append(KeywordCheck(
            json_col, kw,
            # branch-free vacuous pass (see validate_variant_column)
            v.isNull() | pred(v),
            _message(json_col, kw, schema[kw]),
            path=f"/{kw}",
        ))
    return CompiledSpec(None, checks)


def variant_verdict_df(df, json_col: str, schema: dict,
                       draft: str = "draft7",
                       registry: SpecRegistry | None = None,
                       partition_col=None, malformed_valid: bool = False):
    """Per-keyword verdict rows (same shape as ``compiler.verdict_df``)
    for a dynamic JSON column — one aggregation pass, zero executor
    Python."""
    from json_schema_spark.compiler import verdict_df
    compiled = variant_compiled_spec(json_col, schema, draft, registry,
                                     malformed_valid)
    return verdict_df(with_parsed_variant(df, json_col), compiled,
                      partition_col)


def variant_violations_df(df, json_col: str, schema: dict,
                          id_cols: list[str], draft: str = "draft7",
                          registry: SpecRegistry | None = None,
                          partition_col=None, run_id: str = "",
                          malformed_valid: bool = False):
    """Violation rows (same schema as ``compiler.violations_df``):
    one row per (document, failed top-level keyword)."""
    from json_schema_spark.compiler import violations_df
    compiled = variant_compiled_spec(json_col, schema, draft, registry,
                                     malformed_valid)
    return violations_df(with_parsed_variant(df, json_col), compiled,
                         id_cols, partition_col, run_id)
