"""Pure-python tests of the format-string / text-protocol layer.

Mirrors the reference's text round-trip test style (tests.rs:284-458,
943-996) with inline literals.
"""

import math

import pytest

from sonnerie_spark import rowformat as rf


def test_validate_format():
    assert rf.validate_format("u") == "u"
    assert rf.validate_format("Ff") == "Ff"
    assert rf.validate_format("suB") == "suB"
    with pytest.raises(rf.FormatError):
        rf.validate_format("x")
    with pytest.raises(rf.FormatError):
        rf.validate_format("")
    assert rf.is_delete_marker("\x7f")


def test_widening_rule():
    assert rf.widens_to("u", "U")
    assert rf.widens_to("i", "I")
    assert rf.widens_to("f", "F")
    assert not rf.widens_to("U", "u")
    assert not rf.widens_to("I", "i")
    assert not rf.widens_to("F", "f")
    assert rf.widens_to("s", "s")


def test_int_ranges():
    assert rf.parse_value("u", "4294967295") == 4294967295
    with pytest.raises(rf.FormatError):
        rf.parse_value("u", "4294967296")
    with pytest.raises(rf.FormatError):
        rf.parse_value("i", "2147483648")
    # u64 beyond i64 range is bit-reinterpreted to a signed long
    stored = rf.parse_value("U", str(2**64 - 1))
    assert stored == -1
    assert rf.print_value("U", stored) == str(2**64 - 1)


def test_float_print_precision():
    # fixed-point 17 fractional digits, Rust {:.17} (row_format.rs:291, 321)
    assert rf.print_value("F", 3.1415) == "3.14150000000000018"
    assert rf.print_value("F", 1.0) == "1.00000000000000000"
    assert rf.print_value("f", float("nan")) == "NaN"  # Rust Display for NaN
    assert rf.parse_value("F", "nan") != rf.parse_value("F", "nan")  # NaN != NaN
    assert math.isnan(rf.parse_value("f", "nan"))


def test_f32_parse_rounds_to_single_precision():
    # 'f' parses as f32 and prints {:.17} of the f32 (row_format.rs:266-294):
    # 0.1 stored as f32 is 0.100000001490116..., not f64's 0.100000000000000006
    v = rf.parse_value("f", "0.1")
    assert rf.print_value("f", v) == "0.10000000149011612"
    assert rf.print_value("F", rf.parse_value("F", "0.1")) == "0.10000000000000001"
    # values_to_columns applies the same rounding
    _, v_double, _, _ = rf.values_to_columns("fF", [0.1, 0.1])
    assert v_double[0] != v_double[1]
    assert v_double[0] == v


def test_escape_roundtrip():
    for s in ["Many words", "It's a cat!", "back\\slash", "tab\there", "a\nb", ""]:
        assert rf.unescape(rf.escape(s)) == s


def test_split_escaped():
    assert rf.split_escaped("a b c") == ["a", "b", "c"]
    assert rf.split_escaped("Many\\ words second") == ["Many\\ words", "second"]
    assert rf.split_escaped("a\tb") == ["a", "b"]


def test_base64_roundtrip():
    tok = rf.print_value("B", b"Hello World")
    assert rf.parse_value("B", tok) == b"Hello World"
    # unpadded input accepted (tests.rs:968-996 behavior)
    assert rf.parse_value("B", tok.rstrip("=")) == b"Hello World"


def test_parse_timestamp():
    assert rf.parse_timestamp("0") == 0
    assert rf.parse_timestamp("1577836800000000000") == 1577836800000000000
    assert rf.parse_timestamp("2020-01-01") == 1577836800000000000
    assert rf.parse_timestamp("2020-01-01T00:00:00") == 1577836800000000000
    assert rf.parse_timestamp("2020-01-01 00:00:01.5") == 1577836801500000000


def test_format_timestamp():
    ns = 1577836800000000000
    assert rf.format_timestamp(ns, "%F %T") == "2020-01-01 00:00:00"
    assert rf.format_timestamp(ns, "nanos") == str(ns)
    assert rf.format_timestamp(ns, "seconds") == "1577836800"


def test_parse_line_with_fmt():
    rec = rf.parse_line("fib\t2020-01-01T00:00:00\tuu\t10 20")
    assert rec.key == "fib"
    assert rec.ts == 1577836800000000000
    assert rec.fmt == "uu"
    assert rec.v_long == [10, 20]


def test_parse_line_default_fmt():
    rec = rf.parse_line("fibonacci 2020-01-01T00:00:00 1", default_fmt="u")
    assert rec.key == "fibonacci"
    assert rec.v_long == [1]


def test_line_roundtrip_multicolumn_string():
    # F5-style: strings with embedded spaces round-trip exactly
    line = "a\t2010-01-01T00:00:00\tss\tMany\\ words It's\\ a\\ cat!"
    rec = rf.parse_line(line)
    assert rec.v_str == ["Many words", "It's a cat!"]
    out = rf.print_record(
        rec.key, rec.ts, rec.fmt,
        rf.columns_to_values(rec.fmt, rec.v_long, rec.v_double, rec.v_str, rec.v_bin),
        show_fmt=True, ts_style="%Y-%m-%dT%H:%M:%S",
    )
    assert out == line


def test_print_record_column_selection():
    # --columns 1,3 on a 3-col record (main.rs:135-139 semantics, 1-based)
    out = rf.print_record("k", 0, "uuu", [1, 2, 3], ts_style="nanos", columns=[1, 3])
    assert out == "k\t0\t1 3"
    assert rf.parse_columns_spec("1,3,5-7") == [1, 3, 5, 6, 7]


def test_heterogeneous_columns_roundtrip():
    # F7: per-record fmt changes
    for fmt, values in [("u", [42]), ("f", [32.5]), ("s", ["Hello"]), ("B", [b"x"])]:
        cols = rf.values_to_columns(fmt, values)
        assert rf.columns_to_values(fmt, *cols) == values


# --- property tests (escape_string round-trip style, lib.rs:183-233) ---

try:
    from hypothesis import given, settings, strategies as st

    @given(st.text(max_size=50))
    @settings(max_examples=200, deadline=None)
    def test_escape_roundtrip_property(s):
        assert rf.unescape(rf.escape(s)) == s

    @given(st.lists(st.text(alphabet=st.characters(blacklist_categories=("Cs",)), min_size=1, max_size=12), min_size=1, max_size=5))
    @settings(max_examples=200, deadline=None)
    def test_split_escaped_roundtrip_property(tokens):
        line = " ".join(rf.escape(t) for t in tokens)
        assert [rf.unescape(t) for t in rf.split_escaped(line)] == tokens

    @given(st.integers(min_value=0, max_value=2**64 - 1))
    @settings(max_examples=200, deadline=None)
    def test_u64_reinterpret_roundtrip(v):
        stored = rf.parse_value("U", str(v))
        assert -(2**63) <= stored <= 2**63 - 1
        assert rf.print_value("U", stored) == str(v)

    @given(st.floats(allow_nan=False, allow_infinity=False, width=64))
    @settings(max_examples=200, deadline=None)
    def test_float_text_roundtrip(v):
        # 17 fractional digits round-trips doubles in [1e-1, 1e17) exactly;
        # the reference has the same bound (fixed-point print)
        import math
        if v != 0 and not (1e-1 <= abs(v) < 1e17):
            return
        assert float(rf.print_value("F", v)) == v
except ImportError:  # pragma: no cover - hypothesis is in the image
    pass


def test_timestamp_range_guard():
    # reference README.md:36: valid times start at 1970; our upper bound
    # is i64-nanos max (2262) rather than the reference's u64 2554
    import pytest

    from sonnerie_spark.rowformat import FormatError, MAX_TS_NS, parse_timestamp

    assert parse_timestamp("0") == 0
    assert parse_timestamp(str(MAX_TS_NS)) == MAX_TS_NS
    with pytest.raises(FormatError):
        parse_timestamp("-1")
    with pytest.raises(FormatError):
        parse_timestamp(str(MAX_TS_NS + 1))
    # the ISO branch enforces the same guard: 9999-01-01 overflows i64
    # nanos and must be a FormatError, not a raw pyarrow/py4j overflow
    with pytest.raises(FormatError):
        parse_timestamp("9999-01-01")
    with pytest.raises(FormatError):
        parse_timestamp("2263-01-01 00:00:00")
    assert parse_timestamp("2262-01-01") == 9214646400000000000


def test_add_record_rejects_out_of_range_ts(spark, tmp_path):
    import pytest

    from sonnerie_spark.db import Database
    from sonnerie_spark.rowformat import FormatError

    tx = Database(spark, str(tmp_path / "db")).create_tx()
    with pytest.raises(FormatError):
        tx.add_record("k", -5, "u", [1])


def test_columns_values_round_trip_is_identity():
    """``add_line`` stores ``parse_line(...).as_row()`` directly; it
    used to push the parsed columns through ``columns_to_values`` and
    back through ``values_to_columns``. That round trip must be the
    identity for every format code, so dropping it changed no stored
    value: integer bounds, f32 rounding and extremes, NaN, signed zeros,
    infinities and escaped strings. Floats compare by bit pattern."""
    import struct

    lines = [
        "k 1 iuIU -2147483648 4294967295 -9223372036854775808 18446744073709551615",
        "k 2 iuIU 2147483647 0 9223372036854775807 9223372036854775808",
        "k 3 fF 0.1 0.1",
        "k 4 fF 340282346638528859811704183484516925440 1.7976931348623157e308",
        "k 5 fF 1.401298464324817e-45 5e-324",
        "k 6 fF nan NaN",
        "k 7 fF -0.0 0.0",
        "k 8 fF inf -inf",
        "k 9 fFf -inf 16777217 16777217",
        "k 10 sB a\\ b\\\\c\\td\\ne YWJj",
        "k 11 ssB \\  é\\\\ AA",
        "k 12 UfsIB 1 2.5 x -1 /w",
    ]

    def bits(cols):
        v_long, v_double, v_str, v_bin = cols
        return (
            v_long,
            [struct.pack("<d", x) for x in v_double],
            v_str,
            v_bin,
        )

    seen = set()
    for ln in lines:
        rec = rf.parse_line(ln)
        seen |= set(rec.fmt)
        cols = (rec.v_long, rec.v_double, rec.v_str, rec.v_bin)
        back = rf.values_to_columns(rec.fmt, rf.columns_to_values(rec.fmt, *cols))
        assert bits(back) == bits(cols), ln
    assert seen == rf.VALID_FORMAT_CHARS


# --- the columnar formatter equals the per-row one ---

_CODE_VALUES = {
    "i": st.integers(-(2**31), 2**31 - 1),
    "u": st.integers(0, 2**32 - 1),
    "I": st.integers(-(2**63), 2**63 - 1),
    "U": st.integers(0, 2**64 - 1),
    "f": st.floats(width=32),  # NaN, +-inf and -0.0 included
    "F": st.floats(),
    "s": st.text(st.sampled_from("ab \t\n\r\\é")) | st.text(st.characters(blacklist_categories=("Cs",))),
    "B": st.binary(max_size=12),
}


@st.composite
def _record(draw):
    fmt = draw(st.text(st.sampled_from("iuIUfFsB"), min_size=1, max_size=4))
    values = [draw(_CODE_VALUES[ch]) for ch in fmt]
    values = [rf.parse_value("U", str(v)) if ch == "U" else v for ch, v in zip(fmt, values)]
    cols = rf.values_to_columns(fmt, values)
    row = {
        "key": draw(st.sampled_from(["k", "a b", "t\tab\\", "n\nr\r", "é"])
                    | st.text(st.characters(blacklist_categories=("Cs",)), max_size=6)),
        "ts": draw(st.integers(0, 2**63 - 1)),
        "fmt": fmt,
    }
    for lane, vals in zip(("v_long", "v_double", "v_str", "v_bin"), cols):
        # a lane the format does not use is empty, or null as Spark writes it
        row[lane] = vals if vals else draw(st.sampled_from([[], None]))
    return row


@given(
    rows=st.lists(_record(), max_size=8),
    ts_style=st.sampled_from(["nanos", "seconds", "%F %T", "%Y/%m/%d %Hh%M"]),
    show_fmt=st.booleans(),
    columns=st.none() | st.lists(st.integers(0, 5), max_size=4),
    chunks=st.integers(1, 3),
)
@settings(max_examples=300, deadline=None, derandomize=True)
def test_format_table_equals_record_to_line(rows, ts_style, show_fmt, columns, chunks):
    """``format_table`` is byte-identical to ``record_to_line`` per row:
    every code ``iuIUfFsB``, mixed formats in one table, integer bounds
    and U >= 2**63, f32 values, NaN, +-inf and -0.0, escapes in keys and
    strings, base64, empty/null unused lanes, the empty table, every ts
    style, column selection and ``show_fmt``, one or several chunks."""
    from types import SimpleNamespace

    import pyarrow as pa

    from sonnerie_spark.cli import record_to_line
    from sonnerie_spark.db import arrow_record_schema

    tbl = pa.Table.from_pylist(rows, schema=arrow_record_schema())
    if chunks > 1 and rows:
        cut = len(rows) // chunks
        tbl = pa.concat_tables([tbl.slice(0, cut), tbl.slice(cut)])
    kw = dict(ts_style=ts_style, show_fmt=show_fmt, columns=columns)
    want = "".join(record_to_line(SimpleNamespace(**r), **kw) + "\n" for r in rows)
    assert rf.format_table(tbl, **kw) == want.encode()
