"""Constraint-spec -> Spark ``Column`` predicate compiler.

This is the engine analogue of the reference's validator dispatch
(src/validators.lisp:79-138): instead of recursively interpreting a
schema per document, we compile every keyword ONCE on the driver into
a boolean Column (TRUE = pass) and let Catalyst fold, push down, and
whole-stage-codegen the result.

Each keyword's rule is written once, in :func:`_keyword_rule`, against
a small value-access object with two implementations:

* :class:`TypedAccess` (here): a typed column of static Spark
  ``DataType``. Type gates are Python bools folded at compile time;
  struct vs map access, per-dtype exact literal equality and
  ``multipleOf`` live here. A SQL NULL is treated as *absent*
  (SURVEY.md §1.1 caveat): every keyword except ``required`` passes
  vacuously on NULL, and ``required`` is the presence check
  (src/validators.lisp:594-603).
* ``compiler_variant.VariantAccess``: an open-schema VARIANT, which
  keeps JSON null distinct from absent.

Two cross-cutting semantics preserved (SURVEY.md §2):

1. **Type-gating** (``require-type``, src/validators.lisp:35-37): a
   keyword inapplicable to the value's type passes vacuously. A gate
   that is statically False drops the keyword (cheaper than a runtime
   branch), a statically True one emits the bare predicate, and a
   Column gate emits the branch-free ``~gate | pred``.
2. **Error accumulation** (src/validators.lisp:105-108): every keyword
   compiles to its OWN predicate; violation rows are collected per
   keyword via an array of structs, never one fused boolean.

``$ref`` resolves at compile time against the nearest enclosing
``$id``; a cyclic target is inlined ``_REF_UNROLL`` times, then the
accessor cuts it (see ``ref_cut``).
"""

from __future__ import annotations

import decimal
import functools
import operator
import re
import urllib.parse
from dataclasses import dataclass, fields, replace
from typing import Any, Callable, ClassVar

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from json_schema_spark.functions.formats import char_length_cmp, format_check
from json_schema_spark.spec import ConstraintSpec, SpecError, SpecRegistry, _id_key

PredFn = Callable[[Column], Column]

_NUMERIC_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)
_INTEGRAL_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)

# compile-time cap on subschema nesting plus $ref hops
_MAX_DEPTH = 32

# compile-time unroll budget for CYCLIC $ref targets (each cycle
# occurrence inlines the target once). Plan size grows
# ~(ref-sites-per-cycle)^_REF_UNROLL, so keep it small.
_REF_UNROLL = 3


@dataclass(frozen=True, eq=False)
class KeywordCheck:
    """One compiled keyword: TRUE-pass predicate + provenance.

    Mirrors a ``validation-failed-error``'s identity fields
    (src/validators.lisp:15-22): keyword + property path + message.
    """

    column: str
    keyword: str
    predicate: Column
    message: str
    path: str = ""


@dataclass(frozen=True, eq=False)
class CompiledSpec:
    """The compiled checks, plus the Spark expressions that
    :func:`verdict_df`, :func:`violations_df` and the runner build from
    them (compile once, validate many: src/reference.lisp:103-119).

    Each derived expression is built on first use and kept, so a
    repeated call builds none of them again: building a Column is a
    chain of py4j round trips, thousands for a spec of a dozen checks.
    The spec is frozen, so what it keeps always matches ``checks``; a
    different check list is a new spec,
    ``dataclasses.replace(compiled, checks=...)``. Like the predicates,
    the kept Columns belong to the JVM they were built in.
    """

    spec: ConstraintSpec | None
    checks: tuple[KeywordCheck, ...] = ()

    def __post_init__(self) -> None:
        object.__setattr__(self, "checks", tuple(self.checks))

    def check_names(self) -> list[tuple[str, str]]:
        return [(c.column, c.keyword) for c in self.checks]

    @functools.cached_property
    def _failing(self) -> tuple[Column, ...]:
        """Per check, TRUE where a row fails it (NULL where its
        predicate is NULL, which is no failure)."""
        return tuple(~c.predicate for c in self.checks)

    @functools.cached_property
    def failure_flags(self) -> tuple[Column, ...]:
        """The flag projection of :func:`_failed`: check ``i``'s failure
        flag, named :func:`_flag` ``(i)``."""
        return tuple(f.alias(_flag(i)) for i, f in enumerate(self._failing))

    @functools.cached_property
    def flag_sums(self) -> tuple[Column, ...]:
        """Per check ``i``, the sum of its flag in a :func:`_failed`
        frame, named ``v{i}``."""
        return tuple(F.sum(F.col(f"`{_flag(i)}`").cast("long")).alias(f"v{i}")
                     for i in range(len(self.checks)))

    @functools.cached_property
    def verdict_parts(self) -> tuple[tuple[Column, ...], ...]:
        """:func:`verdict_df`'s aggregates, its unpivot and its tail
        projection."""
        # positional agg aliases: (column, keyword) pairs are NOT unique —
        # a $ref target can share a keyword with a sibling, which made
        # name-derived aliases ambiguous (AnalysisException at resolve time)
        aggs = (*[F.sum(f.cast("long")).alias(f"chk{i}")
                  for i, f in enumerate(self._failing)],
                F.count(F.lit(1)).alias("\x00rows"))
        pairs = [F.struct(F.lit(c.column).alias("column"),
                          F.lit(c.keyword).alias("keyword"),
                          F.col(f"chk{i}").alias("n_violations"))
                 for i, c in enumerate(self.checks)]
        # typed when empty, as in violation_parts
        arr = F.array(*pairs) if pairs else F.array().cast(
            "array<struct<column:string,keyword:string,n_violations:bigint>>")
        unpivot = (F.col("`\x00rows`").alias("n_rows"), F.explode(arr).alias("s"))
        tail = (
            F.col("s.column").alias("column"),
            F.col("s.keyword").alias("keyword"),
            F.col("s.n_violations").alias("n_violations"),
            F.col("n_rows").alias("n_rows"),
            (F.col("s.n_violations") == 0).alias("pass"),
        )
        return aggs, unpivot, tail

    @functools.cached_property
    def violation_parts(self) -> tuple[Column, Column, tuple[Column, ...]]:
        """:func:`_violation_rows`' explode of the failed checks, its
        filter and its tail projection (``run_id`` excepted)."""
        entries = [
            F.when(F.col(f"`{_flag(i)}`"), F.struct(
                F.lit(c.keyword).alias("keyword"),
                F.lit(c.column).alias("column"),
                F.lit(c.path).alias("path"),
                F.lit(c.message).alias("message"),
            ))
            for i, c in enumerate(self.checks)
        ]
        # a lambda-free array, so the Generate joins the codegen stage;
        # typed when empty (a spec with no checks has no violations)
        arr = F.array(*entries) if entries else F.array().cast(
            "array<struct<keyword:string,column:string,path:string,message:string>>")
        # sub_errors (FIXTURES.md §5): compiled Column checks are keyword-
        # granular (combinator internals fuse), so the column path emits an
        # empty nest; the dynamic-JSON path (pyvalidator UDF) fills it.
        sub_errors = F.lit([]).cast(
            "array<struct<keyword:string,path:string,message:string>>"
        )
        tail = (
            F.col("v.keyword").alias("keyword"),
            F.col("v.column").alias("column"),
            F.col("v.path").alias("path"),
            F.col("v.message").alias("message"),
            sub_errors.alias("sub_errors"),
        )
        return F.explode(arr).alias("v"), F.col("v").isNotNull(), tail


# ---------------------------------------------------------------------------
# literal construction for enum/const deep equality (src/utils.lisp:69-112)
# ---------------------------------------------------------------------------

def _lit_compatible(value: Any, dt: T.DataType) -> bool:
    """Can `value` ever deep-equal a cell of dtype `dt` under JSON
    equality (src/utils.lisp:69-112: numbers cross-compare, booleans
    and strings do not)?  Folding incompatible members to a static
    False at compile time keeps ANSI-mode Spark from inserting lossy
    runtime casts (e.g. STRING -> BOOLEAN) for enum/const."""
    if value is None:
        return True
    if isinstance(value, bool):
        return isinstance(dt, T.BooleanType)
    if isinstance(value, (int, float)):
        return isinstance(dt, _NUMERIC_TYPES)
    if isinstance(value, str):
        return isinstance(dt, (T.StringType, T.BinaryType))
    if isinstance(value, list):
        return isinstance(dt, T.ArrayType) and all(
            _lit_compatible(v, dt.elementType) for v in value)
    if isinstance(value, dict):
        if isinstance(dt, T.StructType):
            names = {f.name: f.dataType for f in dt.fields}
            return all(k in names and _lit_compatible(v, names[k])
                       for k, v in value.items())
        return isinstance(dt, T.MapType)  # _lit_value raises -> caller skips
    return False


def _lit_value(value: Any, dt: T.DataType) -> Column:
    if isinstance(value, list):
        if isinstance(dt, T.ArrayType):
            return F.array(*[_lit_value(v, dt.elementType) for v in value])
        return F.array(*[F.lit(v) for v in value])
    if isinstance(value, dict):
        if isinstance(dt, T.StructType):
            return F.struct(*[_lit_value(value.get(f.name), f.dataType).alias(f.name)
                              for f in dt.fields])
        raise SpecError("object const/enum member requires a struct column")
    if value is None:
        return F.lit(None).cast(dt)
    return F.lit(value)


# sizes and lengths are Spark ints: every count lies in [0, _MAX_COUNT]
_MAX_COUNT = 2 ** 31 - 1


def _count_rule(op: Callable, val: Any, test: Callable[[Column, int], Column]) -> PredFn:
    """A bound ``n = int(val)`` on a count (``op`` is ``operator.ge`` for
    a minimum, ``operator.le`` for a maximum) as ``test(c, n)``. A bound
    outside the count range decides every in-type value alone, so it
    folds to a literal; that also keeps ``F.lit`` from raising on a
    bound beyond a long."""
    n = int(val)
    if not 0 <= n <= _MAX_COUNT:
        return lambda c: F.lit(op(0, n))
    return lambda c: test(c, n)


def _fits_long(n: int) -> bool:
    return -(2 ** 63) <= n < 2 ** 63


def _num_lit(val: Any) -> Column:
    """A numeric keyword's literal. F.lit of a Python int raises for
    |v| >= 2^63, so such ints become decimal(38,0) literals."""
    if isinstance(val, int) and not isinstance(val, bool) and not _fits_long(val):
        return F.lit(str(val)).cast(T.DecimalType(38, 0))
    return F.lit(val)


# ---------------------------------------------------------------------------
# value access: one keyword table, two accessors
# ---------------------------------------------------------------------------

@dataclass(frozen=True, kw_only=True)
class Access:
    """Compile context both accessors share: the draft, the ``$ref``
    registry, the strict-unevaluated opt-in, the base URI of the
    nearest enclosing ``$id`` (relative refs and anchors resolve
    against it, as pyvalidator's _base_stack does), the in-flight
    ``$ref`` targets for cycle unrolling, and the nesting depth.
    ``error`` is what a schema outside the path's expressible subset
    raises."""

    draft: str
    registry: SpecRegistry | None = None
    strict: bool = False
    base: str = ""
    stack: tuple = ()
    depth: int = 0
    error: type = SpecError

    def context(self) -> dict:
        return {f.name: getattr(self, f.name) for f in fields(Access)}


@dataclass(frozen=True, kw_only=True)
class TypedAccess(Access):
    """A typed column of static type ``dt`` (gates fold at compile
    time; NULL = absent). ``in_lambda`` marks values reached through a
    higher-order function's lambda."""

    dt: T.DataType
    spec: ConstraintSpec | None = None  # handed to custom keywords
    column: str = ""
    in_lambda: bool = False

    null_is_absent: ClassVar[bool] = True

    def at(self, dt: T.DataType, in_lambda: bool = False) -> "TypedAccess":
        return replace(self, dt=dt, in_lambda=self.in_lambda or in_lambda)

    def gate(self, kind: str) -> bool:
        return isinstance(self.dt, {
            "string": T.StringType,
            # min/maxLength: string chars (Lisp ``length`` on strings,
            # src/validators.lisp:432-437) and — an engine extension
            # for web tables — binary byte length
            "sized": (T.StringType, T.BinaryType),
            "number": _NUMERIC_TYPES,
            "array": T.ArrayType,
            "object": (T.StructType, T.MapType),
            "map": T.MapType,  # keyword needs the key set; a struct's is closed
        }[kind])

    def type_is(self, name: str, c: Column) -> Column | bool:
        """JSON type name vs physical Spark type (src/types.lisp:54-102):
        a static bool when decidable at compile time, else a Column.
        ``integer`` on a float column is the runtime case: "anything
        without a fractional part is an integer" — 1.0 IS an integer
        (src/types.lisp:41-44)."""
        dt = self.dt
        if name == "integer":
            if isinstance(dt, _INTEGRAL_TYPES):
                return True
            if isinstance(dt, T.DecimalType):
                return F.pmod(c, F.lit(1)) == F.lit(0)
            if isinstance(dt, (T.FloatType, T.DoubleType)):
                # fmod, not floor-compare: floor() returns BIGINT and
                # overflows for |x| > 2^63 where every double IS integral
                return F.pmod(c, F.lit(1.0)) == F.lit(0.0)
            return False
        if name == "null":
            # typed columns conflate null/absent; a present NULL satisfies
            # type:"null" vacuously under our absence convention.
            return c.isNull()
        if name == "any":  # draft3 relic; accepted by the reference's table
            return True
        types = {"string": T.StringType, "number": _NUMERIC_TYPES,
                 "boolean": T.BooleanType, "array": T.ArrayType,
                 "object": (T.StructType, T.MapType)}.get(name)
        return types is not None and isinstance(dt, types)

    def equals_any(self, members: list) -> PredFn:
        """enum/const deep equality (src/validators.lisp:293-296,339-341)
        against literals built in the column's own type."""
        dt = self.dt
        lits = [v for v in members if v is not None and _lit_compatible(v, dt)]
        has_null = any(v is None for v in members)

        def pred(c: Column) -> Column:
            if not lits:
                return c.isNull() if has_null else F.lit(False)
            if all(isinstance(v, (str, int, float, bool)) for v in lits):
                p = c.isin(lits)
            else:
                p = F.exists(F.array(*[_lit_value(v, dt) for v in lits]),
                             lambda m: m.eqNullSafe(c))
            return (p | c.isNull()) if has_null else p

        return pred

    def string(self, c: Column) -> Column:
        return c

    def length_cmp(self, c: Column, op: Callable, n: int) -> Column:
        if isinstance(self.dt, T.StringType):
            return char_length_cmp(c, op, n)
        return op(F.length(c), F.lit(n))  # binary: the byte count, O(1)

    def regex(self, pattern: str) -> str:
        return translate_regex(pattern)

    def search(self, pattern: str) -> PredFn:
        if _PCRE_FALLBACK.search(pattern) and _pcre_module() is not None:
            # PCRE-only construct: Java rlike would silently mismatch
            # (POSIX [[:alpha:]] parses as a literal char class) or
            # throw at RUNTIME in an executor ((?P<..> named groups,
            # \K) — route this one keyword through the Arrow-batched
            # PCRE UDF (the reference runs cl-ppcre,
            # src/validators.lisp:586-591, so PCRE semantics ARE the
            # parity target). Spark cannot run a Python UDF inside a
            # higher-order function's lambda, so under an array/map
            # applicator the compile fails here, not in the first job.
            if self.in_lambda:
                raise self.error(
                    f"column {self.column!r}: PCRE-only pattern {pattern!r} "
                    "under an array/map applicator cannot run as a Spark "
                    "lambda; validate the column with "
                    "pyvalidator.validate_json_udf")
            return _pcre_search_udf(pattern)
        java_pattern = translate_regex(pattern)
        return lambda c: c.rlike(java_pattern)  # unanchored search, :586-591

    def compare(self, op: Callable, val: Any) -> PredFn:
        lit_val = _num_lit(val)
        return lambda c: op(c, lit_val)

    def multiple_of(self, val: Any) -> PredFn:
        """src/validators.lisp:501-516."""
        dt = self.dt
        if isinstance(val, int) and not isinstance(val, bool):
            lit_val = _num_lit(val)
            if isinstance(dt, (*_INTEGRAL_TYPES, T.DecimalType)):
                return lambda c: F.pmod(c, lit_val) == F.lit(0)
            # double data, int divisor: exact via decimal cast while the
            # value fits Decimal(38,12); binary-exact fmod beyond that
            # (ANSI mode would otherwise raise on the cast).
            def int_div_pred(c: Column) -> Column:
                dec = c.try_cast(T.DecimalType(38, 12))
                return F.when(
                    dec.isNotNull(),
                    dec % lit_val == F.lit(0).cast("decimal(38,12)"),
                ).otherwise(F.pmod(c, F.lit(float(val))) == F.lit(0.0))
            return int_div_pred
        # real divisor: the reference parses JSON numbers to CL rationals,
        # so 4.5 % 1.5 == 0 exactly (its suite still skips the float
        # variant, t/draft7.lisp:54-55).  For integral/decimal columns we
        # reproduce rational exactness with integer arithmetic:
        # val = p/10^s  =>  x multiple of val  <=>  x*10^s ≡ 0 (mod p).
        dval_dec = decimal.Decimal(str(val))
        s = max(0, -dval_dec.as_tuple().exponent)
        p = int(dval_dec.scaleb(s))
        if (isinstance(dt, (*_INTEGRAL_TYPES, T.DecimalType))
                and _fits_long(p) and _fits_long(10 ** s)):
            # multiply FIRST — decimal arithmetic keeps the fraction
            # (0.25 * 10 = 2.5, pmod 5 != 0 -> correctly rejected);
            # casting to decimal(38,0) before scaling rounded it away.
            # Integral columns cast to decimal(38,0) (int64 always
            # fits, and would otherwise overflow int64 on *10^s under
            # ANSI); decimal columns multiply as-is (product keeps
            # their scale exactly).
            def exact_pred(c: Column) -> Column:
                base = (c.cast(T.DecimalType(38, 0))
                        if isinstance(dt, _INTEGRAL_TYPES) else c)
                return F.pmod(base * F.lit(10 ** s), F.lit(p)) == F.lit(0)
            return exact_pred

        def real_div_pred(c: Column) -> Column:
            dec = c.try_cast(T.DecimalType(38, 12))
            # try_cast ROUNDS tiny divisors (1e-25) to exactly 0 rather
            # than NULL — guard both, else the modulo raises
            dval = F.lit(str(val)).try_cast(T.DecimalType(38, 12))
            return F.when(
                dec.isNotNull() & dval.isNotNull() & (dval != F.lit(0)),
                (dec % dval) == F.lit(0).cast(T.DecimalType(38, 12)),
            ).otherwise(F.pmod(c, F.lit(float(val))) == F.lit(0.0))
        return real_div_pred

    def array(self, c: Column) -> Column:
        return c

    def element(self, in_lambda: bool = True) -> "TypedAccess":
        return self.at(self.dt.elementType, in_lambda)

    def unique(self) -> PredFn:
        return lambda c: F.size(c) == F.size(F.array_distinct(c))

    def member(self, key: str) -> tuple[PredFn, "TypedAccess"] | None:
        """(getter, accessor) of property ``key``; None when the column
        can never hold it (a struct without that field)."""
        if isinstance(self.dt, T.MapType):
            return (lambda c: F.try_element_at(c, F.lit(key))), self.at(self.dt.valueType)
        fdt = {f.name: f.dataType for f in self.dt.fields}.get(key)
        return None if fdt is None else ((lambda c: c.getField(key)), self.at(fdt))

    def has(self, c: Column, key: str) -> Column:
        """Presence: a non-NULL struct field (SURVEY.md §1.1), a map key."""
        if isinstance(self.dt, T.MapType):
            return F.map_contains_key(c, F.lit(key))
        return c.getField(key).isNotNull() if key in self.dt.fieldNames() else F.lit(False)

    def as_map(self, c: Column) -> Column:
        return c

    def values(self) -> "TypedAccess":
        return self.at(self.dt.valueType, True)

    def keys(self) -> "TypedAccess":
        return self.at(T.StringType(), True)

    def prop_count(self, c: Column) -> Column:
        if isinstance(self.dt, T.MapType):
            return F.size(c)
        return sum((c.getField(n).isNotNull().cast("int")
                    for n in self.dt.fieldNames()), F.lit(0))

    def ref_key(self, target: Any) -> tuple:
        return id(target), self.dt

    def ref_cut(self, ref: str) -> PredFn:
        # same target at the same static type again: compiling on would
        # repeat the same subtree forever
        raise self.error(f"$ref {ref!r} recurses without descending into "
                         f"column {self.column!r}")


# ---------------------------------------------------------------------------
# the keyword table (dispatch tables, src/validators.lisp:657-808)
# ---------------------------------------------------------------------------

# per-draft keyword availability: a keyword absent from a draft's table
# is UNKNOWN there and skipped (:132-135) — e.g. `const` predates
# draft6, `if` predates draft7. Annotations and the keywords another
# keyword's rule reads (then/else, minContains/maxContains) are absent
# from every table.
_CORE_KEYWORDS = frozenset({
    "type", "enum", "pattern", "minLength", "maxLength", "multipleOf",
    "format", "required", "properties", "patternProperties",
    "additionalProperties", "minProperties", "maxProperties", "items",
    "additionalItems", "minItems", "maxItems", "uniqueItems", "allOf",
    "anyOf", "oneOf", "not", "$ref", "dependencies", "minimum", "maximum",
    "exclusiveMinimum", "exclusiveMaximum",
})
_DRAFT6_PLUS = frozenset({"const", "contains", "propertyNames"})
DRAFT_KEYWORDS: dict[str, frozenset] = {
    "draft4": _CORE_KEYWORDS,
    "draft6": _CORE_KEYWORDS | _DRAFT6_PLUS,
    "draft7": _CORE_KEYWORDS | _DRAFT6_PLUS | {"if"},
    # "dependencies" was split into dependentRequired/dependentSchemas in
    # 2019-09; the reference's table (:657-695) drops it, so we do too.
    "draft2019-09": (_CORE_KEYWORDS - {"dependencies"}) | _DRAFT6_PLUS | {
        "if", "dependentRequired", "dependentSchemas", "unevaluatedProperties",
        "unevaluatedItems",  # strict-mode only; parity default = no-op
    },
}
DRAFT_KEYWORDS["draft3"] = _CORE_KEYWORDS

# type gate per keyword (require-type, src/validators.lisp:35-37)
_GATES = {
    "pattern": "string", "format": "string",
    "minLength": "sized", "maxLength": "sized",
    "minimum": "number", "maximum": "number", "exclusiveMinimum": "number",
    "exclusiveMaximum": "number", "multipleOf": "number",
    "items": "array", "additionalItems": "array", "contains": "array",
    "minItems": "array", "maxItems": "array", "uniqueItems": "array",
    "unevaluatedItems": "array",
    "required": "object", "properties": "object", "minProperties": "object",
    "maxProperties": "object", "dependencies": "object",
    "dependentRequired": "object", "dependentSchemas": "object",
    "patternProperties": "map", "additionalProperties": "map",
    "propertyNames": "map", "unevaluatedProperties": "map",
}

_BOUNDS = {"minimum": operator.ge, "maximum": operator.le,
           "exclusiveMinimum": operator.gt, "exclusiveMaximum": operator.lt}


# user-extension registry: the engine twin of the reference's
# def-validator surface (src/validators.lisp:645-654) — register a
# custom keyword compiler per draft ("*" = all drafts). The function
# receives (value, schema, dtype, draft, spec) and returns a PredFn;
# it applies to typed columns.
_CUSTOM_KEYWORDS: dict[tuple[str, str], Callable] = {}


def register_keyword(name: str, fn: Callable, draft: str = "*") -> None:
    _CUSTOM_KEYWORDS[(draft, name)] = fn


def unregister_keyword(name: str, draft: str = "*") -> None:
    _CUSTOM_KEYWORDS.pop((draft, name), None)


def _and(cols: list[Column]) -> Column:
    return functools.reduce(operator.and_, cols) if cols else F.lit(True)


def _or(cols: list[Column]) -> Column:
    return functools.reduce(operator.or_, cols) if cols else F.lit(False)


def _sum_one(cols: list[Column]) -> Column:
    if not cols:
        return F.lit(False)
    return functools.reduce(operator.add, [c.cast("int") for c in cols]) == F.lit(1)


def _key_match(rx: str):
    # exact 2-arity lambda: PySpark introspects HOF signatures
    return lambda k, _v: k.rlike(rx)


def _compile_keyword(kw: str, val: Any, schema: dict, a: Access) -> PredFn | None:
    """One keyword under its type gate, or None when it compiles to
    nothing (unknown in the draft, statically off-type, or a no-op)."""
    if isinstance(a, TypedAccess):
        custom = _CUSTOM_KEYWORDS.get((a.draft, kw)) or _CUSTOM_KEYWORDS.get(("*", kw))
        if custom is not None:
            return custom(val, schema, a.dt, a.draft, a.spec)
    if kw not in DRAFT_KEYWORDS.get(a.draft, DRAFT_KEYWORDS["draft7"]):
        return None  # unknown in this draft: warn-skip (:132-135)
    gate = a.gate(_GATES[kw]) if kw in _GATES else True
    if gate is False:
        return None
    pred = _keyword_rule(kw, val, schema, a)
    if pred is None or gate is True:
        return pred
    # branch-free (| not when): subexpression elimination does not reach
    # inside when() branches
    return lambda c: ~gate(c) | pred(c)


def _keyword_rule(kw: str, val: Any, schema: dict, a: Access) -> PredFn | None:
    """Map a keyword to its rule on an in-type value (the caller
    applies the type gate)."""

    def sub(s: Any, at: Access = a) -> PredFn:
        return _compile_schema(s, replace(at, depth=a.depth + 1))

    # ---- universal keywords -------------------------------------------
    if kw == "type":
        names = val if isinstance(val, list) else [val]

        def type_pred(c: Column) -> Column:
            ms = [a.type_is(n, c) for n in names]
            if any(m is True for m in ms):
                return F.lit(True)
            return _or([m for m in ms if m is not False])

        return type_pred

    if kw in ("enum", "const"):  # deep equality, :293-296, :339-341
        return a.equals_any(val if kw == "enum" else [val])

    # ---- string keywords ------------------------------------------------
    if kw == "pattern":
        return a.search(val)

    if kw in ("minLength", "maxLength"):
        op = operator.ge if kw == "minLength" else operator.le
        return _count_rule(op, val, lambda c, n: a.length_cmp(c, op, n))

    if kw == "format":
        return lambda c: format_check(val, a.string(c), a.draft)

    # ---- numeric keywords -----------------------------------------------
    if kw in _BOUNDS:
        if kw.startswith("exclusive"):
            if a.draft == "draft4" or isinstance(val, bool):
                return None  # draft4 handles it inside minimum/maximum
            return a.compare(_BOUNDS[kw], val)  # :345-358
        # draft4 boolean-modifier form (src/validators.lisp:419-429,
        # 457-467). NB: the reference has a bug — minimum-draft4 reads
        # "exclusiveMaximum" (:460); we implement the spec-correct
        # sibling and document the divergence.
        excl = "exclusive" + kw[0].upper() + kw[1:]
        if a.draft == "draft4" and bool(schema.get(excl, False)):
            return a.compare(_BOUNDS[excl], val)
        return a.compare(_BOUNDS[kw], val)  # :411-416, :449-454

    if kw == "multipleOf":
        return a.multiple_of(val)

    # ---- array keywords -------------------------------------------------
    if kw == "items":
        if isinstance(val, list):  # tuple form (:389-394)
            preds = [sub(s, a.element(in_lambda=False)) for s in val]

            def tuple_items(c: Column) -> Column:
                arr = a.array(c)
                # branch-free: try_element_at yields NULL past the end,
                # where the size test already passes
                return _and([(F.size(arr) <= i) | p(F.try_element_at(arr, F.lit(i + 1)))
                             for i, p in enumerate(preds)])

            return tuple_items
        p = sub(val, a.element())  # :395-399
        return lambda c: F.forall(a.array(c), p)

    if kw == "additionalItems":  # src/validators.lisp:205-218
        items = schema.get("items")
        if not isinstance(items, list):
            return None  # no-op unless items is the tuple form
        n = len(items)
        if val is False:
            return lambda c: F.size(a.array(c)) <= n
        p = sub(val, a.element())
        return lambda c: F.forall(
            F.slice(a.array(c), n + 1, F.greatest(F.size(a.array(c)) - n, F.lit(0))), p)

    if kw == "contains":  # :299-304
        p = sub(val, a.element())
        if a.draft == "draft2019-09" and (
                "minContains" in schema or "maxContains" in schema):
            # 2019-09 count semantics (ENGINE EXTENSION — the
            # reference's table has no min/maxContains; see
            # pyvalidator._k_contains_2019). minContains=0 makes
            # contains vacuous, per spec.
            bounds = [_count_rule(operator.ge, schema.get("minContains", 1),
                                  lambda cnt, n: cnt >= F.lit(n))]
            if schema.get("maxContains") is not None:
                bounds.append(_count_rule(operator.le, schema["maxContains"],
                                          lambda cnt, n: cnt <= F.lit(n)))

            def counted(c: Column) -> Column:
                cnt = F.size(F.filter(a.array(c), p))
                return _and([b(cnt) for b in bounds])

            return counted
        return lambda c: F.exists(a.array(c), p)

    if kw in ("minItems", "maxItems"):
        op = operator.ge if kw == "minItems" else operator.le
        return _count_rule(op, val, lambda c, n: op(F.size(a.array(c)), F.lit(n)))

    if kw == "uniqueItems":  # deep-distinct, :632-639
        return a.unique() if val is True else None

    if kw == "unevaluatedItems":
        # 2019-09 unevaluatedItems — the reference SKIPS the keyword
        # (t/draft2019-09.lisp:83-87), so parity default is a no-op;
        # strict mode applies `val` to every item past the evaluated
        # prefix, mirror of pyvalidator._k_unevaluated_items.
        if not a.strict or val is True:
            return None
        prefix = _evaluated(schema, a, items=True)
        if val is False:
            return lambda c: F.size(a.array(c)) <= prefix(c)
        p = sub(val, a.element())
        return lambda c: F.forall(
            F.slice(a.array(c), prefix(c) + F.lit(1),
                    F.greatest(F.size(a.array(c)) - prefix(c), F.lit(0))), p)

    # ---- object keywords ------------------------------------------------
    if kw == "required":  # :594-603
        if isinstance(val, bool):
            raise a.error("draft3 boolean `required`")
        return lambda c: _and([a.has(c, k) for k in val])

    if kw == "properties":  # :564-575, presence-gated recursion
        props = []
        for k, s in val.items():
            m = a.member(k)
            if m is not None:  # never present -> vacuous (found-p gate :569-571)
                props.append((k, m[0], sub(s, m[1])))
        return lambda c: _and([~a.has(c, k) | p(get(c)) for k, get, p in props])

    if kw == "patternProperties":  # :544-561
        pats = [(a.regex(rx), sub(s, a.values())) for rx, s in val.items()]
        return lambda c: _and([
            F.forall(F.map_values(F.map_filter(a.as_map(c), _key_match(rx))), p)
            for rx, p in pats])

    if kw == "additionalProperties":  # :221-264
        if val is True:
            return None
        names = list(schema.get("properties", {}) or {})
        pats = [a.regex(r) for r in (schema.get("patternProperties", {}) or {})]

        def is_extra(k: Column, _v: Column) -> Column:
            cond = F.lit(True)
            if names:
                cond = cond & ~k.isin(names)
            for rx in pats:
                cond = cond & ~k.rlike(rx)
            return cond

        if val is False:  # false form :233-248
            return lambda c: F.size(F.map_filter(a.as_map(c), is_extra)) == 0
        p = sub(val, a.values())  # schema form :250-264
        return lambda c: F.forall(F.map_values(F.map_filter(a.as_map(c), is_extra)), p)

    if kw == "propertyNames":  # :578-583 — keys are plain strings
        p = sub(val, a.keys())
        return lambda c: F.forall(F.map_keys(a.as_map(c)), p)

    if kw in ("minProperties", "maxProperties"):  # :485-498
        op = operator.ge if kw == "minProperties" else operator.le
        return _count_rule(op, val, lambda c, n: op(a.prop_count(c), F.lit(n)))

    if kw in ("dependencies", "dependentRequired", "dependentSchemas"):
        # :313-337 + check-dependencies :142-186; array form needs the
        # listed keys, schema form the whole object to satisfy the schema
        deps = [(k, d if isinstance(d, list) else sub(d)) for k, d in val.items()]
        return lambda c: _and([
            ~a.has(c, k) | (_and([a.has(c, r) for r in d]) if isinstance(d, list) else d(c))
            for k, d in deps])

    if kw == "unevaluatedProperties":
        # 2019-09, PARTIAL in the reference — only diffs against direct
        # `properties` (src/validators.lisp:606-629; suite skipped
        # t/draft2019-09.lisp:83-87). We match that partial behavior by
        # default; with spec-level `"strict_unevaluated": true` (a
        # DOCUMENTED ENGINE EXTENSION, mirror of
        # pyvalidator._k_unevaluated_properties) the evaluated-key set
        # is computed with full in-place-applicator annotation
        # tracking, entirely as Column expressions — still one codegen
        # pass, no UDF.
        if val is True:
            return None
        if a.strict:
            evaluated = _evaluated(schema, a, items=False)
        else:
            known = list(schema.get("properties", {}) or {})
            evaluated = lambda c: F.array(*[F.lit(k) for k in known])  # noqa: E731
        p = None if val is False else sub(val, a.values())

        def unevaluated(c: Column) -> Column:
            m = a.as_map(c)
            ks = F.array_except(F.map_keys(m), evaluated(c))
            if p is None:
                return F.size(ks) == F.lit(0)
            return F.forall(ks, lambda k: p(F.try_element_at(m, k)))

        return unevaluated

    # ---- combinators ----------------------------------------------------
    if kw in ("allOf", "anyOf", "oneOf"):  # :267-290, exactly one :525-541
        fold = {"allOf": _and, "anyOf": _or, "oneOf": _sum_one}[kw]
        preds = [sub(s) for s in val]
        return lambda c: fold([p(c) for p in preds])

    if kw == "not":  # :519-522
        p = sub(val)
        return lambda c: ~p(c)

    if kw == "if":  # :376-383; then/else driven from here
        cond = sub(val)
        then_p = sub(schema["then"]) if "then" in schema else None
        else_p = sub(schema["else"]) if "else" in schema else None
        return lambda c: F.when(
            cond(c), then_p(c) if then_p else F.lit(True)
        ).otherwise(else_p(c) if else_p else F.lit(True))

    if kw == "$ref":  # compile-time resolution (§2.3)
        # reference parity: siblings conjoin with the target
        # (validators.lisp:524-530). A cyclic target is unrolled
        # _REF_UNROLL times, then cut by the accessor. The reference
        # itself errors past its own depth cap (src/reference.lisp:
        # 35-36,59-66 — *max-depth* 100).
        target, at = _resolve(val, a)
        if target is None:
            return a.ref_cut(val)
        return sub(target, at)

    return None


def _resolve(ref: str, a: Access) -> tuple[Any, Access]:
    """The ``$ref`` target and the accessor to compile it with, or
    ``(None, a)`` once the target has been unrolled _REF_UNROLL times."""
    if a.registry is None:
        raise a.error("$ref without a registry")
    target = a.registry.resolve(ref, base=a.base)
    key = a.ref_key(target)
    if a.stack.count(key) >= _REF_UNROLL:
        return None, a
    return target, replace(a, stack=a.stack + (key,))


def _rebase(a: Access, schema: Any) -> Access:
    """Advance the base URI across an embedded $id (as the reference's
    add-id-to-table walk does, src/reference.lisp:193-238)."""
    sid = _id_key(schema, a.draft) if isinstance(schema, dict) else None
    if isinstance(sid, str) and sid:
        return replace(a, base=urllib.parse.urldefrag(urllib.parse.urljoin(a.base, sid))[0])
    return a


def _compile_schema(schema: Any, a: Access) -> PredFn:
    """Compile a whole (sub)schema to one fused TRUE-pass PredFn.

    Boolean-schema short circuit (src/validators.lisp:86-91) and
    empty-schema-is-valid (:93-94) included.
    """
    if a.depth > _MAX_DEPTH:
        raise a.error("$ref recursion / nesting depth cap")
    if schema is True or schema == {}:
        return lambda c: F.lit(True)
    if schema is False:
        return lambda c: F.lit(False)
    if not isinstance(schema, dict):
        raise a.error(f"schema must be object or boolean, got {schema!r}")
    a = _rebase(a, schema)
    parts = [p for kw, val in schema.items()
             if (p := _compile_keyword(kw, val, schema, a)) is not None]
    if not parts:
        return lambda c: F.lit(True)
    if a.null_is_absent:
        # NULL = absent: all keywords vacuous on NULL at this level.
        # Branch-free (| not when): subexpression elimination does not
        # reach inside when() branches, so shared subtrees (length(),
        # regex machinery) would re-evaluate per keyword otherwise.
        return lambda c: c.isNull() | _and([p(c) for p in parts])
    return lambda c: _and([p(c) for p in parts])


def _evaluated(schema: Any, a: Access, items: bool) -> PredFn:
    """2019-09 annotation tracking (strict mode), the Column twin of
    pyvalidator._evaluated_prop_keys / _evaluated_item_prefix.

    ``items=False``: an array<string> of the keys 'evaluated' by direct
    properties / patternProperties / additionalProperties plus keys
    evaluated by SUCCESSFUL in-place applicator branches (allOf always,
    anyOf/oneOf only where the branch validates for THIS row,
    if/then/else as applied, dependentSchemas for present keys, $ref
    targets). ``items=True``: the largest evaluated array prefix (an int
    Column) — uniform `items` evaluates everything, tuple `items` its
    length (everything with `additionalItems` present), merged as max
    across the same branches; `contains` does NOT evaluate items in
    2019-09 (that arrived in 2020-12). Branch success is itself a
    compiled predicate, so the whole set stays one codegen'd expression.
    """
    empty = F.lit(0) if items else F.array().cast("array<string>")
    merge = F.greatest if items else F.concat
    if a.depth > _MAX_DEPTH or not isinstance(schema, dict):
        return lambda c: empty
    a = _rebase(a, schema)
    down = replace(a, depth=a.depth + 1)

    def rec(s: Any, at: Access = down) -> PredFn:
        return _evaluated(s, at, items)

    parts: list[PredFn] = []
    if items and "items" in schema:
        tup = schema["items"]
        if isinstance(tup, list) and "additionalItems" not in schema:
            parts.append(lambda c: F.least(F.lit(len(tup)), F.size(a.array(c))))
        else:
            parts.append(lambda c: F.size(a.array(c)))
    if not items:
        statics = list(schema.get("properties", {}) or {})
        if statics:
            parts.append(lambda c: F.array(*[F.lit(k) for k in statics]))
        for pat in (schema.get("patternProperties", {}) or {}):
            rx = a.regex(pat)
            parts.append(lambda c, rx=rx: F.filter(
                F.map_keys(a.as_map(c)), lambda k: k.rlike(rx)))
        if "additionalProperties" in schema:
            parts.append(lambda c: F.map_keys(a.as_map(c)))
    parts += [rec(s) for s in schema.get("allOf", [])]
    for s in schema.get("anyOf", []) + schema.get("oneOf", []):
        ok, ev = _compile_schema(s, down), rec(s)
        parts.append(lambda c, ok=ok, ev=ev: F.when(ok(c), ev(c)).otherwise(empty))
    if "if" in schema:
        ok, ev = _compile_schema(schema["if"], down), rec(schema["if"])
        then_ev = rec(schema["then"]) if "then" in schema else None
        else_ev = rec(schema["else"]) if "else" in schema else None
        parts.append(lambda c: F.when(
            ok(c), merge(ev(c), then_ev(c)) if then_ev else ev(c),
        ).otherwise(else_ev(c) if else_ev else empty))
    if not items:
        for k, s in (schema.get("dependentSchemas", {}) or {}).items():
            ev = rec(s)
            parts.append(lambda c, k=k, ev=ev: F.when(a.has(c, k), ev(c)).otherwise(empty))
    if "$ref" in schema:
        target, at = _resolve(schema["$ref"], down)
        if target is None:
            # cyclic $ref: refuse rather than silently truncating the set
            raise a.error("cyclic $ref under strict unevaluated tracking")
        parts.append(rec(target, at))
    if not parts:
        return lambda c: empty
    if len(parts) == 1:
        return parts[0]
    return lambda c: merge(*[p(c) for p in parts])


def _schema_pred(schema: Any, dt: T.DataType, draft: str, spec: ConstraintSpec) -> PredFn:
    """Compile a whole (sub)schema against a typed column of type ``dt``."""
    return _compile_schema(schema, _typed_access(spec, dt, draft))


def _typed_access(spec: ConstraintSpec, dt: T.DataType, draft: str,
                  column: str = "") -> TypedAccess:
    # spec-level opt-in for full 2019-09 annotation tracking
    # (`{"strict_unevaluated": true, ...}`) — the compiler-path twin of
    # ``Validator(strict_unevaluated=True)``. Default off = reference
    # parity (partial unevaluatedProperties, unevaluatedItems skipped).
    return TypedAccess(dt=dt, draft=draft, registry=spec.registry, spec=spec,
                       strict=bool(spec.raw.get("strict_unevaluated")),
                       column=column)


# ---------------------------------------------------------------------------
# regex dialect shim: PCRE (ppcre) -> Java regex
# ---------------------------------------------------------------------------

# constructs where Java regex diverges from the reference's cl-ppcre:
# \p{..}/\h/\v/possessive fail Python re validation (can't be checked
# driver-side), POSIX [[:alpha:]] silently parses as a literal char
# class in Java, (?P<..>/(?P= and \K throw PatternSyntaxException at
# executor runtime. Any of these routes the keyword to the PCRE UDF.
_PCRE_FALLBACK = re.compile(
    r"\\[pPhHvVK]"           # property classes, horiz/vert space, \K
    r"|\[\[:\^?\w+:\]\]"     # POSIX bracket expressions
    r"|\(\?P[<=]"            # PCRE/Python named-group syntax
    r"|[*+?}]\+"             # possessive quantifiers
)


def _pcre_module():
    """The PCRE-compatible `regex` module, or None (import-gated: the
    rlike tolerance path remains the fallback without it)."""
    try:
        import regex
        return regex
    except ImportError:  # pragma: no cover - regex ships in this env
        return None


def _pcre_search_udf(pattern: str):
    """Arrow-batched unanchored PCRE search (the `pattern` keyword's
    semantics, src/validators.lisp:586-591) for patterns Java regex
    can't express. Compiles driver-side first so a bad spec fails at
    compile time, not in an executor task."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    globals()["pd"] = pd  # type-hint resolution under PEP 563
    _pcre_module().compile(pattern)  # driver-side validation

    @pandas_udf("boolean")
    def _search(col: pd.Series) -> pd.Series:
        import regex as _rx
        rx = _rx.compile(pattern)
        return col.map(lambda s: bool(rx.search(s)) if s is not None else None)

    return _search


def translate_regex(pattern: str) -> str:
    """Translate the common PCRE constructs the reference's `pattern`
    keyword sees into Java-regex-safe equivalents.

    ppcre and java.util.regex agree on the core syntax; the gaps that
    matter for web-page constraints are ``\\Z``/``\\z`` anchors and
    possessive quantifier differences. We validate the pattern compiles
    under Python's `re` (a PCRE-alike) at compile time so bad specs
    fail on the driver, not in an executor task
    (cf. precompiled-regex posture, src/formats.lisp:11-12).
    """
    try:
        re.compile(pattern)  # driver-side validation; raises on bad spec
    except re.error:
        # tolerate Java/PCRE-only constructs Python's re lacks
        # (\p{..} property classes, \h/\v horizontal/vertical space,
        # possessive quantifiers); everything else is a real spec bug.
        if not re.search(r"\\[pPhHvV]|[*+?}]\+", pattern):
            raise
    return pattern.replace(r"\Z", r"\z")


# ---------------------------------------------------------------------------
# top-level spec compilation
# ---------------------------------------------------------------------------

def _flatten_ref_items(schema: dict, spec: "ConstraintSpec", depth: int = 0):
    """Yield (keyword, value, parent_schema) for a top-level column schema,
    expanding ``$ref`` chains conjunctively (target keywords AND siblings —
    reference parity: src/validators.lisp:524-530 does not suppress
    siblings in draft<=7)."""
    if depth > 32:
        raise SpecError("$ref expansion depth cap exceeded")
    if schema is False:
        # false schema: no value can satisfy it
        yield "false-schema", False, {}
        return
    if schema is True:
        return
    for kw, val in schema.items():
        if kw == "$ref":
            yield from _flatten_ref_items(spec.registry.resolve(val), spec, depth + 1)
        else:
            yield kw, val, schema


def compile_spec(spec: ConstraintSpec | dict, df: DataFrame) -> CompiledSpec:
    """Compile a constraint spec against a DataFrame's schema.

    Produces one KeywordCheck per (column, top-level keyword) so error
    accumulation matches the reference (src/validators.lisp:105-108):
    all keywords evaluated, failures collected individually.
    """
    if isinstance(spec, dict):
        spec = ConstraintSpec(spec)
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    checks: list[KeywordCheck] = []

    for colname, schema in spec.columns.items():
        if colname not in dtypes:
            raise SpecError(f"spec references unknown column {colname!r}")
        # A top-level {"$ref": ..., <siblings>} keeps its siblings — the
        # ref target's keywords are flattened into individual checks
        # alongside them, matching pyvalidator._k_ref (reference parity:
        # siblings not suppressed, src/validators.lisp:524-530) while
        # preserving per-keyword error granularity.
        a = _typed_access(spec, dtypes[colname], spec.draft, colname)
        for kw, val, parent in _flatten_ref_items(schema, spec):
            if kw == "false-schema":  # the column schema or a $ref target
                checks.append(KeywordCheck(
                    colname, kw, F.col(colname).isNull(),
                    f"{colname}: schema is false",
                ))
                continue
            fn = _compile_keyword(kw, val, parent, a)
            if fn is None:
                continue
            col = F.col(colname)
            # branch-free NULL gate — keeps every check's subtree
            # visible to whole-stage-codegen subexpression elimination
            # (the verdict aggregation evaluates ALL checks in one
            # projection; see the variant-path 5x for the countercase)
            pred = col.isNull() | fn(col)
            checks.append(KeywordCheck(
                colname, kw, pred,
                _message(colname, kw, val),
                path=f"/columns/{colname}/{kw}",
            ))

    # top-level required: presence across the row (src/validators.lisp:594-603)
    for colname in spec.required:
        if colname not in dtypes:
            raise SpecError(f"required references unknown column {colname!r}")
        checks.append(KeywordCheck(
            colname, "required", F.col(colname).isNotNull(),
            f"required column {colname} is missing (NULL)",
            path=f"/required/{colname}",
        ))
    return CompiledSpec(spec, checks)


def _message(column: str, keyword: str, val: Any) -> str:
    """Human-readable message in the reference's error style
    (README.rst:70-79)."""
    if isinstance(val, (dict, list)) and keyword not in ("enum",):
        return f"{column!r} failed keyword {keyword}"
    return f"{column!r} failed keyword {keyword} ({val!r})"


# ---------------------------------------------------------------------------
# violation / verdict materialization (error model, SURVEY.md §2.7)
# ---------------------------------------------------------------------------

def _flag(i: int) -> str:
    """Reserved name of check ``i``'s failure flag in :func:`_failed`."""
    return f"\x00f{i}"


def _failed(df: DataFrame, compiled: CompiledSpec, keep: list[Column]) -> DataFrame:
    """``keep`` plus one boolean column per check, TRUE where the row
    fails it (NULL where its predicate is NULL, which is no failure).

    Every predicate sits in this one projection, so Spark evaluates
    them in generated code with subexpression elimination: inside a
    whole-stage-codegen stage, or, when a predicate holds a
    higher-order function, as a generated unsafe projection. Inside a
    ``filter(array(...), x -> ...)`` lambda they would run interpreted,
    each one on its own. Consumers read only the flags:
    :func:`violations_df` explodes them, the runner sums them.
    """
    return df.select(*keep, *compiled.failure_flags)


def _violation_rows(flags: DataFrame, compiled: CompiledSpec, keep: list[str],
                    run_id: str) -> DataFrame:
    """Explode a :func:`_failed` frame into violation rows: the
    ``keep`` columns of ``flags``, then the failed checks' fields in
    check order."""
    explode, failed, tail = compiled.violation_parts
    ids = [F.col(f"`{k}`") for k in keep]
    return (flags.select(*ids, explode).where(failed)
            .select(*ids, *tail, F.lit(run_id).alias("run_id")))


def violations_df(
    df: DataFrame,
    compiled: CompiledSpec,
    id_cols: list[str],
    partition_col: Column | None = None,
    run_id: str = "",
) -> DataFrame:
    """Violation rows: one row per (document, failed keyword).

    Schema mirrors FIXTURES.md §5 / the reference's error objects
    (src/validators.lisp:15-22): identity + keyword + column + path +
    message. Every check's predicate is evaluated once per row, in one
    projection of failure flags (error ACCUMULATION: all keywords
    evaluated, src/validators.lisp:105-108); each flag selects its
    check's literal violation struct in a lambda-free array, which is
    exploded. One narrow stage, no shuffle, and no predicate inside a
    higher-order function's lambda.
    """
    keep = [F.col(k) for k in id_cols]
    if partition_col is not None:
        keep.append(partition_col.alias("partition"))
    flags = _failed(df, compiled, keep)
    return _violation_rows(flags, compiled, flags.columns[:len(keep)], run_id)


def verdict_df(
    df: DataFrame, compiled: CompiledSpec,
    partition_col: Column | str | None = None,
) -> DataFrame:
    """Per-check verdict summary in ONE aggregation pass (no explode,
    no shuffle beyond the final agg): for every check, the violation
    count; pass == zero violations ("valid iff errors nil",
    src/json-schema.lisp:33-38).

    With ``partition_col`` the same single pass emits one verdict row
    per (partition, check) — the north-rule "per-partition pass/fail"
    shape; the shuffle carries |partitions| pre-aggregated rows, never
    the table.
    """
    aggs, unpivot, tail = compiled.verdict_parts
    keep: list[Column] = []
    if partition_col is not None:
        part = F.col(partition_col) if isinstance(partition_col, str) else partition_col
        row = df.groupBy(part.alias("partition")).agg(*aggs)
        keep = [F.col("partition")]
    else:
        row = df.agg(*aggs)
    # unpivot to (column, keyword, n_violations, n_rows, pass)
    return row.select(*keep, *unpivot).select(*keep, *tail)
