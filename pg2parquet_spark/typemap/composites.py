"""PG composite types → struct (postgres_cloner.rs:541-558), and the field
grammar composites share with ranges (ranges.py).

The reference walks the binary record format (oid + length per field,
pg_custom_types.rs:169-213). Over text transport PostgreSQL renders a
composite (``record_out``) as ``(f1,f2,…)`` and a range (``range_out``) as
``[lo,hi)``, quoting each field the same way: a field that is empty or
holds a delimiter, quote, backslash or whitespace is double-quoted; inside
quotes ``""`` is a quote; a backslash escapes the next character anywhere;
an unquoted empty field is NULL (so ``'(,,A)'`` → {None, None, 'A'} —
struct-of-NULLs is NOT a NULL struct, FIXTURES F17).

:func:`split_fields` tokenizes that grammar with Spark's JVM regex
functions, so parsing stays inside whole-stage codegen: one
``regexp_extract_all`` cuts a value into its fields, and only a field
holding a quote or backslash pays the two unescaping ``regexp_replace``
passes.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

# one field: quoted sections, backslash escapes and plain characters, ended
# by a comma (split_fields appends one after the last field)
_FIELD = r'(?s)((?:"(?:[^"\\]|""|\\.)*"|\\.|[^,"\\])*),'
# unescaping, pass 1: drop the quote delimiters, keep every escape pair
_DELIMITERS = r'(?s)(\\.)|"((?:[^"\\]|""|\\.)*)"'
# pass 2: each escape pair ("" inside quotes, \x anywhere) → its character
_ESCAPE = r'(?s)["\\](.)'


def split_fields(body: Column, n: int) -> list[Column]:
    """The text between a record's or range's delimiters → its first ``n``
    field values: unquoted and unescaped, NULL for an unquoted empty field
    and past the last field."""
    tokens = F.regexp_extract_all(F.concat(body, F.lit(",")), F.lit(_FIELD), 1)
    values = []
    for i in range(n):
        tok = F.try_element_at(tokens, F.lit(i + 1))
        plain = F.regexp_replace(F.regexp_replace(tok, _DELIMITERS, "$1$2"), _ESCAPE, "$1")
        escaped = tok.rlike(r'["\\]')
        values.append(F.when(tok == "", F.lit(None)).when(escaped, plain).otherwise(tok))
    return values


def struct_or_null(col: Column, *fields: Column) -> Column:
    """``struct(*fields)``, NULL where ``col`` is NULL. A NULL index picks the
    NULL, not a CASE: Catalyst shares a common subexpression (here the one
    ``regexp_extract_all`` per value) across the fields only outside
    conditional branches."""
    return F.try_element_at(F.array(F.struct(*fields)), F.when(col.isNotNull(), F.lit(1)))


def parse_composite(
    col: Column,
    fields: Sequence[str],
    casts: Sequence[Callable[[Column], Column]] | None = None,
) -> Column:
    """Composite text ``'(a,"b,c",)'`` → struct with one field per name, each
    converted by its ``casts`` entry (text when ``casts`` is omitted).
    Fields missing from the text are NULL; NULL input → NULL struct."""
    casts = casts or [lambda c: c] * len(fields)
    values = split_fields(F.substring(col, 2, F.length(col) - 2), len(fields))
    return struct_or_null(col, *[cast(v).alias(f) for f, cast, v in zip(fields, casts, values)])
