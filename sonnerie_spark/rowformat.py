"""Format strings and the text protocol.

Behavioral contract from the reference (no code copied; semantics only):

- a row format is a string of one character per column
  (reference: src/row_format.rs:55-122, README.md:114-129):
  ``i``=i32, ``u``=u32, ``I``=i64, ``U``=u64, ``f``=f32, ``F``=f64,
  ``s``=UTF-8 string (backslash-escaped in the text protocol),
  ``B``=byte array (base64 in the text protocol). ``\\x7f`` marks a
  delete-marker transaction, not a value (file_format.md:47-67).
- floats print with 17 significant-digit precision so round-trips are
  lossless (row_format.rs:291, 321); the literal ``nan`` is accepted on
  input (row_format.rs:275-280, 305-310).
- reads are losslessly widening: u->u64, i->i64, f->f64 allowed, the
  reverse is an error (records.rs:75-81, 460-539).
- the text protocol line is ``key\\tts\\t[fmt\\t]v1 v2 ...`` with
  backslash escaping of spaces/backslashes inside strings
  (escape_string/src/lib.rs:39-181 semantics; formatted.rs:108-198).

Spark mapping: values land in union-typed columns ``v_long
array<long>``, ``v_double array<double>``, ``v_str array<string>``,
``v_bin array<binary>`` with the ``fmt`` tag preserving width/signedness
(SURVEY.md §1.4). ``u64`` is stored bit-reinterpreted as a signed long
(exact storage) and rendered unsigned at the text edge.
"""

from __future__ import annotations

import base64
import math
import struct
from dataclasses import dataclass
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

VALID_FORMAT_CHARS = set("iuIUfFsB")
DELETE_MARKER_FMT = "\x7f"

_INT_RANGES = {
    "i": (-(2**31), 2**31 - 1),
    "u": (0, 2**32 - 1),
    "I": (-(2**63), 2**63 - 1),
    "U": (0, 2**64 - 1),
}

LONG_CHARS = set("iuIU")
DOUBLE_CHARS = set("fF")
STRING_CHARS = {"s"}
BINARY_CHARS = {"B"}


class FormatError(ValueError):
    """Invalid format string or value/format mismatch."""


def validate_format(fmt: str) -> str:
    if fmt == DELETE_MARKER_FMT:
        return fmt
    if not fmt:
        raise FormatError("empty format string")
    bad = set(fmt) - VALID_FORMAT_CHARS
    if bad:
        raise FormatError(f"invalid format chars {sorted(bad)!r} in {fmt!r}")
    return fmt


def is_delete_marker(fmt: str) -> bool:
    return fmt == DELETE_MARKER_FMT


def widens_to(src: str, dst: str) -> bool:
    """Lossless-widening read rule for a single column type char.

    ``u`` may be read as u64 (``U``) but not the reverse; ``i``->``I``,
    ``f``->``F`` likewise (records.rs:460-539 semantics).
    """
    if src == dst:
        return True
    return (src, dst) in {("u", "U"), ("i", "I"), ("f", "F")}


# ---------------------------------------------------------------------------
# escaping (escape_string crate semantics: backslash-escape spaces, tabs,
# newlines and backslashes so values can be whitespace-separated)

# backslash first: ``format_table`` replaces in this order, and the
# later replacements insert backslashes
_ESCAPES = {"\\": "\\\\", " ": "\\ ", "\t": "\\t", "\n": "\\n", "\r": "\\r"}
_UNESCAPES = {"t": "\t", "n": "\n", "r": "\r", " ": " ", "\\": "\\"}


def escape(s: str) -> str:
    return "".join(_ESCAPES.get(c, c) for c in s)


def unescape(s: str) -> str:
    out: list[str] = []
    i = 0
    while i < len(s):
        c = s[i]
        if c == "\\" and i + 1 < len(s):
            nxt = s[i + 1]
            out.append(_UNESCAPES.get(nxt, nxt))
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def split_escaped(line: str) -> list[str]:
    """Split on unescaped whitespace, preserving escaped spaces in tokens."""
    tokens: list[str] = []
    cur: list[str] = []
    i = 0
    while i < len(line):
        c = line[i]
        if c == "\\" and i + 1 < len(line):
            cur.append(c)
            cur.append(line[i + 1])
            i += 2
            continue
        if c in (" ", "\t"):
            if cur:
                tokens.append("".join(cur))
                cur = []
        else:
            cur.append(c)
        i += 1
    if cur:
        tokens.append("".join(cur))
    return tokens


# ---------------------------------------------------------------------------
# value parse / print per type char

def _to_f32(v: float) -> float:
    """Round through IEEE-754 single precision.

    The reference parses ``f`` columns as f32 and prints ``{:.17}`` of
    the f32 (row_format.rs:266-294), so storing full f64 precision would
    diverge on text round-trips (0.1 -> '0.10000000000000001' instead of
    the reference's '0.10000000149011612')."""
    return struct.unpack("f", struct.pack("f", v))[0]


def _float_repr(v: float) -> str:
    """Fixed-point, 17 fractional digits — Rust's ``{:.17}`` exactly
    (row_format.rs:291, 321), so text dumps are byte-identical."""
    if math.isnan(v):
        return "NaN"
    if math.isinf(v):
        return "inf" if v > 0 else "-inf"
    return f"{v:.17f}"


def parse_value(ch: str, token: str):
    """Parse one text-protocol token into its Python value."""
    if ch in _INT_RANGES:
        try:
            v = int(token)
        except ValueError as e:
            raise FormatError(f"bad integer {token!r} for {ch!r}") from e
        lo, hi = _INT_RANGES[ch]
        if not (lo <= v <= hi):
            raise FormatError(f"{v} out of range for format {ch!r}")
        if ch == "U" and v > 2**63 - 1:
            v -= 2**64  # bit-reinterpret into signed long for storage
        return v
    if ch in DOUBLE_CHARS:
        if token == "nan":
            return float("nan")
        try:
            v = float(token)
        except ValueError as e:
            raise FormatError(f"bad float {token!r} for {ch!r}") from e
        return _to_f32(v) if ch == "f" else v
    if ch == "s":
        return unescape(token)
    if ch == "B":
        pad = "=" * (-len(token) % 4)  # unpadded base64 accepted on input
        try:
            return base64.b64decode(token + pad)
        except Exception as e:
            raise FormatError(f"bad base64 {token!r}") from e
    raise FormatError(f"unknown format char {ch!r}")


def print_value(ch: str, v) -> str:
    if ch in _INT_RANGES:
        iv = int(v)
        if ch == "U" and iv < 0:
            iv += 2**64  # render stored signed long back as unsigned
        return str(iv)
    if ch in DOUBLE_CHARS:
        return _float_repr(float(v))
    if ch == "s":
        return escape(str(v))
    if ch == "B":
        return base64.b64encode(bytes(v)).decode("ascii")
    raise FormatError(f"unknown format char {ch!r}")


# ---------------------------------------------------------------------------
# record <-> union-typed columns

@dataclass
class ParsedRecord:
    key: str
    ts: int  # nanoseconds since epoch
    fmt: str
    v_long: list[int]
    v_double: list[float]
    v_str: list[str]
    v_bin: list[bytes]

    def as_row(self) -> dict:
        return {
            "key": self.key,
            "ts": self.ts,
            "fmt": self.fmt,
            "v_long": self.v_long,
            "v_double": self.v_double,
            "v_str": self.v_str,
            "v_bin": self.v_bin,
        }


def values_to_columns(fmt: str, values: list) -> tuple[list[int], list[float], list[str], list[bytes]]:
    if len(values) != len(fmt):
        raise FormatError(f"format {fmt!r} expects {len(fmt)} values, got {len(values)}")
    v_long: list[int] = []
    v_double: list[float] = []
    v_str: list[str] = []
    v_bin: list[bytes] = []
    for ch, v in zip(fmt, values):
        if ch in LONG_CHARS:
            v_long.append(int(v))
        elif ch in DOUBLE_CHARS:
            v_double.append(_to_f32(float(v)) if ch == "f" else float(v))
        elif ch == "s":
            v_str.append(str(v))
        elif ch == "B":
            v_bin.append(bytes(v))
        else:
            raise FormatError(f"unknown format char {ch!r}")
    return v_long, v_double, v_str, v_bin


def columns_to_values(fmt: str, v_long, v_double, v_str, v_bin) -> list:
    """Reassemble the ordered value tuple from the union-typed columns."""
    out: list = []
    il = idd = istr = ib = 0
    for ch in fmt:
        if ch in LONG_CHARS:
            out.append(v_long[il]); il += 1
        elif ch in DOUBLE_CHARS:
            out.append(v_double[idd]); idd += 1
        elif ch == "s":
            out.append(v_str[istr]); istr += 1
        elif ch == "B":
            out.append(v_bin[ib]); ib += 1
        else:
            raise FormatError(f"unknown format char {ch!r}")
    return out


def get_typed(fmt: str, v_long, v_double, v_str, v_bin, col: int, want: str):
    """Typed column read with the lossless-widening rule (O22).

    ``want`` is a format char; reading a stored ``u`` as ``U``/u64 is
    allowed, the narrowing direction raises — mirroring the reference's
    ``Record::get::<T>`` conversions (records.rs:75-81, 460-539), where
    Spark's own casts would silently overflow instead.
    """
    if not (0 <= col < len(fmt)):
        raise FormatError(f"column {col} out of range for format {fmt!r}")
    stored = fmt[col]
    if not widens_to(stored, want):
        raise FormatError(f"cannot read stored {stored!r} as {want!r} (narrowing)")
    v = columns_to_values(fmt, v_long, v_double, v_str, v_bin)[col]
    if stored == "U" and isinstance(v, int) and v < 0:
        return v + 2**64  # undo the signed-long bit reinterpretation
    return v


# ---------------------------------------------------------------------------
# timestamps (main.rs:520-543 semantics: ISO-8601 datetime, date, or raw
# integer nanoseconds)

NS_PER_SEC = 1_000_000_000


#: Valid timestamp range in epoch nanoseconds. The reference stores u64
#: nanos and documents "times between 1970 and 2554" (README.md:36); our
#: records live in Spark/Parquet int64, so the upper bound is i64 max —
#: 2262-04-11 — a documented narrowing of the reference's 2554.
MAX_TS_NS = 2**63 - 1


def check_timestamp(ts: int) -> int:
    """Enforce the ingest-time timestamp range guard (README.md:36)."""
    if not (0 <= ts <= MAX_TS_NS):
        raise FormatError(
            f"timestamp {ts} out of range [0, {MAX_TS_NS}] epoch-nanos"
        )
    return ts


def parse_timestamp(text: str) -> int:
    """Parse a CLI timestamp: epoch-nanos integer, ISO date, or datetime."""
    try:
        ts = int(text)
    except ValueError:
        ts = None
    if ts is not None:
        return check_timestamp(ts)
    t = text.strip().replace("T", " ")
    for fmt in ("%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%d %H:%M:%S", "%Y-%m-%d %H:%M", "%Y-%m-%d"):
        try:
            dt = datetime.strptime(t, fmt).replace(tzinfo=timezone.utc)
        except ValueError:
            continue
        # Same range guard as the integer branch, applied OUTSIDE the
        # strptime try (FormatError is a ValueError): a date past 2262
        # overflows int64 nanos and must fail as out-of-range here, not
        # as a raw pyarrow/py4j overflow later.
        return check_timestamp(
            int(dt.timestamp()) * NS_PER_SEC + dt.microsecond * 1000
        )
    raise FormatError(f"unparseable timestamp {text!r}")


def format_timestamp(ts_ns: int, style: str = "%F %T") -> str:
    """Render nanoseconds for the text protocol.

    style: strftime pattern, or the special styles ``nanos`` / ``seconds``
    (CLI --timestamp-format/--nanos/--seconds, main.rs:93-111).
    """
    if style == "nanos":
        return str(ts_ns)
    if style == "seconds":
        return str(ts_ns // NS_PER_SEC)
    dt = datetime.fromtimestamp(ts_ns // NS_PER_SEC, tz=timezone.utc)
    pat = style.replace("%F", "%Y-%m-%d").replace("%T", "%H:%M:%S")
    return dt.strftime(pat)


# ---------------------------------------------------------------------------
# line parse / print (formatted.rs:20-106, 108-198 semantics)

def parse_line(
    line: str, default_fmt: str | None = None, ts_format: str | None = None
) -> ParsedRecord:
    """Parse ``key ts [fmt] v1 v2 ...`` (fmt omitted iff default_fmt given).

    ``ts_format``: an explicit strftime pattern for the timestamp token
    (CLI ``add --timestamp-format``, formatted.rs:39-47). Like the
    reference, the timestamp is ONE whitespace-delimited token — escape
    embedded spaces or use a space-free pattern.
    """
    tokens = split_escaped(line.rstrip("\n"))
    if len(tokens) < 2:
        raise FormatError(f"short line {line!r}")
    key = unescape(tokens[0])
    if ts_format is not None:
        try:
            dt = datetime.strptime(unescape(tokens[1]), ts_format).replace(
                tzinfo=timezone.utc
            )
        except ValueError as e:
            raise FormatError(f"timestamp {tokens[1]!r} != format {ts_format!r}: {e}")
        ts = check_timestamp(
            int(dt.timestamp()) * NS_PER_SEC + dt.microsecond * 1000
        )
    else:
        ts = parse_timestamp(tokens[1])
    if default_fmt is None:
        if len(tokens) < 3:
            raise FormatError(f"line missing format: {line!r}")
        fmt = validate_format(tokens[2])
        value_toks = tokens[3:]
    else:
        fmt = validate_format(default_fmt)
        value_toks = tokens[2:]
    if len(value_toks) != len(fmt):
        raise FormatError(f"format {fmt!r} expects {len(fmt)} values, got {len(value_toks)}")
    values = [parse_value(ch, tok) for ch, tok in zip(fmt, value_toks)]
    cols = values_to_columns(fmt, values)
    return ParsedRecord(key, ts, fmt, *cols)


def print_record(
    key: str,
    ts_ns: int,
    fmt: str,
    values: list,
    *,
    ts_style: str = "%F %T",
    show_fmt: bool = False,
    columns: list[int] | None = None,
) -> str:
    """Render one record as a text-protocol line.

    ``columns`` is a 1-based column selection (CLI --columns, main.rs:135-139).
    """
    parts = [escape(key), format_timestamp(ts_ns, ts_style)]
    if show_fmt:
        parts.append(fmt)
    idxs = range(len(fmt)) if columns is None else [c - 1 for c in columns]
    vals = " ".join(print_value(fmt[i], values[i]) for i in idxs if 0 <= i < len(fmt))
    parts.append(vals)
    return "\t".join(parts)


_LANES = {
    **{c: "v_long" for c in LONG_CHARS},
    **{c: "v_double" for c in DOUBLE_CHARS},
    "s": "v_str",
    "B": "v_bin",
}


def format_table(
    tbl,
    *,
    ts_style: str = "nanos",
    show_fmt: bool = False,
    columns: list[int] | None = None,
) -> bytes:
    """Render a record table (``key``, ``ts``, ``fmt``, ``v_*`` columns)
    as text-protocol lines, each ending in a newline — byte-identical to
    ``print_record`` row by row, but computed per column with Arrow
    kernels and cut straight from the joined string buffer.

    Integer codes and ``nanos`` timestamps cast in Arrow (``U`` through
    a bit-reinterpreting uint64 cast); ``f``/``F`` at 17 fixed digits,
    base64 ``B`` and every other timestamp style map Python over their
    one column. Rows of different ``fmt`` are
    rendered per format and put back in row order."""
    n = tbl.num_rows
    if n == 0:
        return b""
    parts = [_escape_column(tbl.column("key")), _ts_column(tbl.column("ts"), ts_style)]
    fmt = tbl.column("fmt")
    if show_fmt:
        parts.append(fmt)
    fmts = pc.unique(fmt).to_pylist()
    if len(fmts) == 1:
        parts.append(_values_column(tbl, fmts[0], columns))
    else:
        rows, vals = [], []
        for f in fmts:
            idx = pc.indices_nonzero(pc.equal(fmt, f))
            rows.append(idx)
            vals.append(_values_column(tbl.take(idx), f, columns))
        back = pc.sort_indices(pa.chunked_array(rows))
        parts.append(pa.chunked_array(vals, pa.string()).take(back))
    lines = pc.binary_join_element_wise(
        pc.binary_join_element_wise(*parts, "\t"), "\n", ""
    )
    if isinstance(lines, pa.ChunkedArray):
        lines = lines.combine_chunks()
    _, offsets, data = lines.buffers()
    offs = np.frombuffer(offsets, dtype=np.int32)
    return data[int(offs[lines.offset]) : int(offs[lines.offset + n])].to_pybytes()


def _values_column(tbl, fmt: str, columns: list[int] | None):
    """The space-joined value strings of rows that all have format
    ``fmt``."""
    lanes = []  # (code, lane column, index within the lane) per column
    seen: dict[str, int] = {}
    for ch in fmt:
        lane = _LANES[ch]
        lanes.append((ch, lane, seen.get(lane, 0)))
        seen[lane] = seen.get(lane, 0) + 1
    idxs = range(len(fmt)) if columns is None else [c - 1 for c in columns]
    strs = [
        _value_strings(ch, pc.list_element(tbl.column(lane), i))
        for ch, lane, i in (lanes[j] for j in idxs if 0 <= j < len(fmt))
    ]
    if not strs:
        return pa.repeat("", tbl.num_rows)
    return strs[0] if len(strs) == 1 else pc.binary_join_element_wise(*strs, " ")


def _value_strings(ch: str, col):
    if ch == "U":  # stored as the bit-reinterpreted signed long
        return pc.cast(pc.cast(col, pa.uint64(), safe=False), pa.string())
    if ch in LONG_CHARS:
        return pc.cast(col, pa.string())
    if ch == "s":
        return _escape_column(col)
    return pa.array([print_value(ch, v) for v in col.to_pylist()], pa.string())


def _escape_column(col):
    """``escape`` over a string column; a column with nothing to escape
    (the common case) is returned as is after one scan."""
    if not pc.any(pc.match_substring_regex(col, r"[ \\\t\n\r]")).as_py():
        return col
    for c, e in _ESCAPES.items():
        col = pc.replace_substring(col, c, e)
    return col


def _ts_column(ts, style: str):
    """``format_timestamp`` over an int64 nanosecond column."""
    if style == "nanos":
        return pc.cast(ts, pa.string())
    return pa.array([format_timestamp(v, style) for v in ts.to_pylist()], pa.string())


def parse_columns_spec(spec: str) -> list[int]:
    """Parse ``1,3,5-7`` into [1,3,5,6,7] (1-based, CLI --columns)."""
    out: list[int] = []
    for part in spec.split(","):
        part = part.strip()
        if "-" in part:
            a, b = part.split("-", 1)
            out.extend(range(int(a), int(b) + 1))
        elif part:
            out.append(int(part))
    return out
