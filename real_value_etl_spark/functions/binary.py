"""Byte fields of BINARY columns as Catalyst expressions.

The binary-codec queries (queries/feature_ops.py: WAV, MP4, TIFF, PNG, GIF,
ZIP, gzip, ELF, BSON, TFRecord, ...) build and parse their payloads without
a UDF. An unsigned N-byte field is written as fixed-width hex and unhexed,
read back as `conv(hex(substring(...)), 16, 10)`, and checksummed by a
table-driven CRC fold inside `aggregate`. Each of those jobs is defined once
here, so every codec builds the same expression for the same field.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _reverse_bytes(h: Column, nbytes: int) -> Column:
    """Byte-reverse a hex string of exactly `nbytes` bytes."""
    return F.concat(
        *[F.substring(h, 2 * nbytes - 1 - 2 * i, 2) for i in range(nbytes)]
    )


def be_hex(c: Column, nbytes: int) -> Column:
    """Big-endian fixed-width hex of the unsigned `nbytes`-byte field `c`.

    The value is masked to the field width first: `lpad` TRUNCATES to the
    leftmost characters when hex(v) is longer than 2*nbytes, which would
    keep the high-order bytes of an over-width value (e.g. a >32-bit
    duration in an mp4 mvhd v0 field); pmod keeps the low-order ones. A
    long already fills 8 bytes, so width 8 needs no mask."""
    v = c.cast("long")
    if nbytes < 8:
        v = F.pmod(v, F.lit(1 << (8 * nbytes)))
    return F.lpad(F.hex(v), 2 * nbytes, "0")


def le_hex(c: Column, nbytes: int) -> Column:
    """Little-endian fixed-width hex: `be_hex` byte-reversed."""
    return _reverse_bytes(be_hex(c, nbytes), nbytes)


def be_bytes(c: Column, nbytes: int) -> Column:
    """The big-endian `nbytes`-byte encoding of `c` as BINARY."""
    return F.unhex(be_hex(c, nbytes))


def le_bytes(c: Column, nbytes: int) -> Column:
    """The little-endian `nbytes`-byte encoding of `c` as BINARY."""
    return F.unhex(le_hex(c, nbytes))


def read_uint(
    col: Column,
    pos: int | Column,
    nbytes: int,
    little_endian: bool | Column = False,
) -> Column:
    """Unsigned `nbytes`-byte integer at 1-based byte `pos` of BINARY `col`,
    as a long; NULL when `pos` is past the end.

    `little_endian` is a bool, or a boolean Column when the byte order is
    chosen per row (TIFF's "II"/"MM" header)."""
    if isinstance(pos, Column):
        pos = pos.cast("int")
    h = F.hex(F.substring(col, pos, nbytes))
    if isinstance(little_endian, Column):
        h = F.when(little_endian, _reverse_bytes(h, nbytes)).otherwise(h)
    elif little_endian:
        h = _reverse_bytes(h, nbytes)
    return F.conv(h, 16, 10).cast("long")


def crc(
    data: Column,
    table: list[int],
    start: int | Column = 1,
    length: int | Column | None = None,
    hex_string: bool = False,
) -> Column:
    """Table-driven reflected CRC (init and final xor 0xFFFFFFFF) over
    `length` bytes of `data` from 1-based byte `start`; by default over all
    of `data`. `table` is the 256-entry table of the polynomial (CRC-32 for
    PNG/gzip, CRC-32C for TFRecord). `data` is BINARY, or a hex string when
    `hex_string` is set.

    The fold crc = T[(crc ^ b) & 255] ^ (crc >> 8) runs as one `aggregate`
    over byte indices, with the table as plan literals. A region of length
    0 or less folds no byte, so its CRC is 0."""
    tbl = F.array(*[F.lit(v).cast("long") for v in table])
    if length is None:
        length = (F.length(data) / 2).cast("long") if hex_string else F.length(data)
    n = F.lit(length).cast("long")

    def byte_at(i):  # i is the 0-based index from `start`
        if hex_string:
            h = F.substring(data, (2 * (start + i) - 1).cast("int"), 2)
        else:
            h = F.hex(F.substring(data, (start + i).cast("int"), 1))
        return F.conv(h, 16, 10).cast("long")

    # sequence(0, -1) is [0, -1], not empty
    indices = F.when(n <= 0, F.array().cast("array<bigint>")).otherwise(
        F.sequence(F.lit(0).cast("long"), n - 1)
    )
    raw = F.aggregate(
        indices,
        F.lit(0xFFFFFFFF).cast("long"),
        lambda acc, i: F.element_at(
            tbl, (F.pmod(acc.bitwiseXOR(byte_at(i)), 256) + 1).cast("int")
        ).bitwiseXOR(F.shiftright(acc, 8)),
    )
    return raw.bitwiseXOR(F.lit(0xFFFFFFFF).cast("long"))
