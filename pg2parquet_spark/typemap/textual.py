"""Textual / binary scalar conversions: uuid, macaddr, inet, bit, json(b).

Reference:
- uuid → FLBA(16) + UUID annotation (myfrom.rs:87-91). Spark has no UUID
  type/annotation → canonical string form (or 16-byte binary), documented.
- macaddr → text "aa:bb:cc:dd:ee:ff" / raw FLBA(6) / int64 with the address
  in the low 6 bytes, big-endian (myfrom.rs:99-117, postgres_cloner.rs:620-628).
- inet → text via display form (myfrom.rs:118-123) — COPY delivers text.
- bit/varbit → '0101' text, bit by bit (myfrom.rs:124-130).
- jsonb: binary wire form has a version byte (must be 1) before the UTF-8
  payload; strip it (datatypes/jsonb.rs:11-31). json/jsonb over COPY arrive
  as text already — normalize is for raw binary ingestion paths.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def uuid_to_string(b16: Column) -> Column:
    """16-byte binary → canonical lowercase uuid string 8-4-4-4-12."""
    h = F.lower(F.hex(b16))
    dash = F.lit("-")
    # F.concat (not concat_ws): NULL input must yield NULL, not ""
    return F.concat(
        F.substring(h, 1, 8), dash,
        F.substring(h, 9, 4), dash,
        F.substring(h, 13, 4), dash,
        F.substring(h, 17, 4), dash,
        F.substring(h, 21, 12),
    )


def uuid_string_to_bytes(s: Column) -> Column:
    """uuid string → 16-byte binary (the reference's FLBA(16) value)."""
    return F.unhex(F.replace(s, F.lit("-"), F.lit("")))


def macaddr_to_text(b6: Column) -> Column:
    """6-byte binary → 'aa:bb:cc:dd:ee:ff' (lowercase, myfrom.rs:100-106)."""
    h = F.lower(F.hex(b6))
    parts: list = []
    for i in range(6):
        if i:
            parts.append(F.lit(":"))
        parts.append(F.substring(h, 1 + 2 * i, 2))
    return F.concat(*parts)


def macaddr_to_int64(b6: Column) -> Column:
    """6-byte binary → int64, address in the low 6 bytes BE (myfrom.rs:108-117)."""
    return F.conv(F.hex(b6), 16, 10).cast("long")


def int_to_bitstring(col: Column, width: int) -> Column:
    """Integer → fixed-width '0101…' text (bit(n) rendering, myfrom.rs:124-130)."""
    return F.lpad(F.bin(col.cast("long")), width, "0")


def jsonb_normalize(raw: Column) -> Column:
    """Binary jsonb → text: verify version byte == 1, strip it, decode UTF-8.
    Unknown version → NULL (the reference hard-errors; we null + let the
    caller's error-row accounting surface it)."""
    version_ok = F.substring(raw, 1, 1) == F.lit(bytes([1]))
    payload = raw.substr(F.lit(2), F.length(raw))  # substring keeps binary type
    return F.when(version_ok, F.decode(payload, "UTF-8"))


def oid_to_long(col: Column) -> Column:
    """PG `oid` is uint32; int32 channels deliver it signed. Reinterpret
    the signed value as unsigned into a LongType (the documented stand-in for
    the reference's Integer(32, unsigned) annotation, postgres_cloner.rs:589)."""
    c = col.cast("long")
    return F.when(c < 0, c + F.lit(4294967296)).otherwise(c)


def char_to_uint8(col: Column) -> Column:
    """PG `"char"` is a single byte, written by the reference as Integer(8,
    unsigned) (postgres_cloner.rs:597; read back as UInt8 in
    py-tests/test_basic_types.py:212-216). Text channels deliver it as a
    1-char string → its byte value 0-255."""
    return F.ascii(col).cast("smallint")
