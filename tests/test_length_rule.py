"""String-length keywords are decided from the byte length and count
code points only where the byte length leaves the answer open. On both
compiled paths, for valid and invalid UTF-8, NULL included, every
``minLength``/``maxLength`` must equal ``char_length(s) >= n`` /
``char_length(s) <= n``; a binary column's ``minLength`` counts bytes."""

from __future__ import annotations

import operator

from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from json_schema_spark.compiler import TypedAccess, _compile_keyword
from json_schema_spark.compiler_variant import VariantAccess
from json_schema_spark.session import local_frame

NS = (0, 1, 2, 3, 4, 5, 7, 63, 64)
_OPS = {"minLength": operator.ge, "maxLength": operator.le}

# code points of each UTF-8 width (no surrogates: they do not encode)
_WIDTHS = [st.characters(min_codepoint=lo, max_codepoint=hi, exclude_categories=("Cs",))
           for lo, hi in ((0, 0x7F), (0x80, 0x7FF), (0x800, 0xFFFF), (0x10000, 0x10FFFF))]
_piece = st.one_of(
    *[st.text(w, max_size=70).map(str.encode) for w in _WIDTHS],  # one width
    st.text(st.one_of(*_WIDTHS), max_size=70).map(str.encode),  # mixed widths
    st.binary(max_size=70),  # mostly invalid UTF-8: stray and truncated bytes
)
_value = st.one_of(st.none(), st.lists(_piece, max_size=4).map(b"".join))

# strings of n-1, n and n+1 code points of each width, for every n
_BOUNDARY = [(c * k).encode() for c in ("a", "é", "€", "😀")
             for n in NS for k in {max(n - 1, 0), n, n + 1}]


@settings(max_examples=40, deadline=None, derandomize=True)
@given(values=st.lists(_value, min_size=1, max_size=12))
@example(values=_BOUNDARY + [None, b"\xff" * 64, b"\xf0" * 70, b"\xc3" * 63,
                             b"\x80" * 65, "😀".encode()[:3] * 20])
def test_length_keywords_equal_char_length(spark, values):
    df = local_frame(spark, list(enumerate(values)), "i int, b binary")
    s = F.col("b").cast("string")
    v = s.cast("variant")
    typed = TypedAccess(dt=T.StringType(), draft="draft7")
    variant = VariantAccess(draft="draft7")
    binary = TypedAccess(dt=T.BinaryType(), draft="draft7")
    vstr = F.try_variant_get(v, "$", "string")
    cols, names = [F.col("i")], []
    for n in NS:
        for kw, op in _OPS.items():
            for path, access, x, want in (
                    ("typed", typed, s, op(F.char_length(s), F.lit(n))),
                    ("variant", variant, v, op(F.char_length(vstr), F.lit(n)))):
                cols += [_compile_keyword(kw, n, {kw: n}, access)(x), want]
                names.append((path, kw, n))
    cols += [_compile_keyword("minLength", n, {"minLength": n}, binary)(F.col("b"))
             for n in NS]
    for row in df.select(*cols).collect():
        b = values[row[0]]
        got = list(row[1:])
        for k, name in enumerate(names):
            assert got[2 * k] == got[2 * k + 1], (name, b)
        bins = got[2 * len(names):]
        assert bins == [None if b is None else len(b) >= n for n in NS], b
