"""Base-26 bijective codec: fixed-width lowercase string ⇄ int64 ordinal.

Re-expresses the reference's codec (pass_char2num server.c:199-209,
pass_num2char server.c:211-224, pass_increment worker.c:21-39) as pure
Spark SQL column expressions — exact int64 arithmetic (``div``/``%``), no
Python in the hot path, fully inside whole-stage codegen.

The reference stores ordinals in uint32 and silently overflows at width ≥ 7
(26**7 ≈ 8.03e9 > 2**32, SURVEY.md §1.2); we use int64, exact to width 13
(26**13 < 2**63).  That divergence is deliberate and tested.

Decode is spelled as a *packed word*.  For width ≤ 8 the W characters
are the bytes of one bigint, ``0x61…61 + Σ_p shiftleft((id div 26^p) %
26, 8p)`` — the byte p places above the lowest holds ``'a' + digit_p``
— and ``CAST(unhex(hex(word)) AS STRING)`` turns it into the string.
Widths 9-13 ``concat`` two such words: the high W-8 characters, then the
low 8.  ``hex`` writes the bigint most significant byte first, so the
least significant digit lands last; ``unhex`` turns those hex pairs back
into raw bytes.  Both are tight loops inside codegen, and as the top byte
is ≥ 0x61, ``hex`` never drops a leading zero and the word never goes
negative.  The obvious spelling, a ``concat`` of W ``char()`` calls,
builds W one-character strings per candidate and measured ~2× the
decode cost of this one, more than half of decode + SHA-1; a
``conv``/``translate`` spelling is slower still.  There is deliberately no second "hash the bytes, decode only
the survivors" path: the binary → string cast wraps the byte array
without copying, and that path measured equal to the plain spelling
within noise.  The DuckDB oracle spelling (``decode_duckdb``) is
unchanged — the strings are identical, only the Spark spelling moved.

Each helper has two forms:
- ``*_sql(expr, width)`` → a SQL expression *string* (usable verbatim in
  Spark SQL; the matching DuckDB oracle spelling is produced by
  ``*_duckdb``),
- ``*_col(col, width)``  → a pyspark Column (wraps the SQL form so the
  integer ``div`` operator is available — Python ``Column`` has no exact
  integer division).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ALPHA = 26
MAX_WIDTH = 13  # 26**13 = 2_481_152_873_203_736_576 < 2**63


def keyspace_size(width: int) -> int:
    if not 1 <= width <= MAX_WIDTH:
        raise ValueError(f"width must be in [1, {MAX_WIDTH}], got {width}")
    return ALPHA**width


def _packed_word(expr: str, lo: int, hi: int) -> str:
    """BINARY of the characters for base-26 digits ``hi-1 .. lo`` (at most
    8, one bigint): byte ``p - lo`` of the word is ``97 + digit_p``."""
    base = int("61" * (hi - lo), 16)
    terms = [
        f"shiftleft((({expr}) div {ALPHA**p}) % {ALPHA}, {8 * (p - lo)})"
        for p in range(lo, hi)
    ]
    return f"unhex(hex({base}L + " + " + ".join(terms) + "))"


def decode_sql(expr: str, width: int) -> str:
    """Spark SQL: int64 ordinal expression → fixed-width lowercase string.

    Mirrors pass_num2char (server.c:211-224) without the mod-26**len wrap:
    callers must pass ordinals in [0, 26**width).  Packed-word spelling
    (see the module docstring): one 64-bit word through width 8, the high
    ``width - 8`` characters then the low 8 beyond it.
    """
    keyspace_size(width)  # validate
    if width <= 8:
        return f"CAST({_packed_word(expr, 0, width)} AS STRING)"
    return (
        f"CAST(concat({_packed_word(expr, 8, width)}, "
        f"{_packed_word(expr, 0, 8)}) AS STRING)"
    )


def decode_duckdb(expr: str, width: int) -> str:
    """DuckDB spelling of :func:`decode_sql` (``//`` and ``chr``)."""
    keyspace_size(width)
    parts = [
        f"chr(CAST(97 + (({expr}) // {ALPHA**p}) % {ALPHA} AS INTEGER))"
        for p in range(width - 1, -1, -1)
    ]
    return parts[0] if width == 1 else ("concat(" + ", ".join(parts) + ")")


def encode_sql(expr: str, width: int) -> str:
    """Spark SQL: fixed-width lowercase string expression → int64 ordinal.

    Mirrors pass_char2num (server.c:199-209): positional base-26 value
    Σ (c_i - 'a') * 26**(width-1-i).
    """
    keyspace_size(width)
    terms = [
        f"(ascii(substring({expr}, {i + 1}, 1)) - 97) * {ALPHA ** (width - 1 - i)}L"
        for i in range(width)
    ]
    return "(" + " + ".join(terms) + ")"


def encode_duckdb(expr: str, width: int) -> str:
    keyspace_size(width)
    terms = [
        f"(ascii(substring({expr}, {i + 1}, 1)) - 97) * {ALPHA ** (width - 1 - i)}::BIGINT"
        for i in range(width)
    ]
    return "(" + " + ".join(terms) + ")"


def decode_col(col: str | Column, width: int) -> Column:
    expr = col if isinstance(col, str) else None
    if expr is None:
        # Column objects can't be spliced into a SQL string; route through
        # exact integer ops available on Column: pmod + floor-div via expr.
        raise TypeError("decode_col takes a column *name*; use decode_sql for expressions")
    return F.expr(decode_sql(expr, width))


def encode_col(col: str | Column, width: int) -> Column:
    if not isinstance(col, str):
        raise TypeError("encode_col takes a column *name*; use encode_sql for expressions")
    return F.expr(encode_sql(col, width))


def increment_sql(expr: str, width: int) -> str:
    """Lexicographic successor with 'z'→'a' carry (pass_increment,
    worker.c:21-39) — composed as decode(encode(s)+1 mod 26**width)."""
    n = keyspace_size(width)
    return decode_sql(f"(({encode_sql(expr, width)}) + 1) % {n}", width)


# Pure-Python model (test oracle only — never in a Spark plan).
def py_encode(s: str) -> int:
    out = 0
    for ch in s:
        out = out * ALPHA + (ord(ch) - 97)
    return out


def py_decode(n: int, width: int) -> str:
    chars = []
    for _ in range(width):
        chars.append(chr(97 + n % ALPHA))
        n //= ALPHA
    return "".join(reversed(chars))
