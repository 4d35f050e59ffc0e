"""Hex / topic / ABI column helpers.

Reference equivalents: common/utils.go:42-75 (hex ↔ bytes, 0x-strip,
lowercase), common/utils.go:161-193 (topic unpacking), store/event_erc20.go:
44-46 + contracts/utils.go:53-72 (ABI uint256 decode). All pure JVM Column
expressions. ``conv()`` is 64-bit and DECIMAL(38,0) < 2^256, so the exact
uint256 decode goes through the JVM's arbitrary-precision ``BigInt``
instead.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def normalize_hex(col) -> Column:
    """Lowercase, 0x-stripped hex (utils.go:42-55)."""
    return F.lower(F.regexp_replace(_c(col), "^0x", ""))


def topic_to_address(col) -> Column:
    """A 32-byte topic holding a left-padded address → 40-char address hex
    (event_erc20.go:51-53 uses common.BytesToAddress(topic))."""
    return F.substring(normalize_hex(col), 25, 40)


def bytes_to_hex(col) -> Column:
    return F.lower(F.hex(_c(col)))


def hex_to_bytes(col) -> Column:
    return F.unhex(_c(col))


def abi_uint256(col) -> Column:
    """Exact decode of big-endian ABI data → uint256 decimal string
    (event_erc20.go:44-46), equal to ``str(int.from_bytes(data, "big"))``
    over the full 2^256 range and beyond: ``scala.math.BigInt(hex, 16)``
    through ``reflect``, no Python worker. NULL → NULL; empty data → "0"
    (``BigInt`` rejects an empty string)."""
    data = _c(col)
    return (
        F.when(data.isNull(), F.lit(None).cast("string"))
        .when(F.length(data) == 0, F.lit("0"))
        .otherwise(
            F.reflect(
                F.lit("scala.math.BigInt"), F.lit("apply"), F.hex(data), F.lit(16)
            )
        )
    )
