"""The shared byte-field expressions (functions/binary.py) against Python:
int.to_bytes / int.from_bytes for the encoders and readers, zlib.crc32 and
operators.multimodal.crc32c for the CRC fold, zero-length regions included.
One in-memory frame, one collect; the inputs are columns, not literals, so
nothing is constant-folded away before the generated code runs."""

from __future__ import annotations

import zlib

from pyspark.sql import functions as F

from real_value_etl_spark.functions import binary as B
from real_value_etl_spark.operators.multimodal import CRC32C_TABLE, crc32c
from real_value_etl_spark.queries.feature_ops import CRC32_TABLE

# width n -> a value whose every byte is >= 0x80 (width 8: the top bit is
# clear, so it fits a signed long)
HIGH = bytes(0x80 + 17 * k for k in range(7))
VALUES = {n: int.from_bytes(HIGH[:n], "big") for n in range(1, 8)}
VALUES[8] = int.from_bytes(b"\x7f" + HIGH, "big")
OVER = 0x12_3456_789A  # wider than 2 and 4 bytes
DATA = b"123456789 the quick brown fox \x00\xff\x80"
PAD = 3  # bytes before each field when it is read at a Column position


def test_binary_helpers_match_python(spark):
    row = {f"v{n}": v for n, v in VALUES.items()}
    row.update(
        over=OVER,
        data=bytearray(DATA),
        hexdata=DATA.hex(),
        pos=PAD + 1,
        little=True,
        empty=bytearray(b""),
        emptyhex="",
        abc=bytearray(b"abc"),
    )
    schema = ", ".join(
        [f"v{n} long" for n in VALUES]
        + ["over long", "data binary", "hexdata string", "pos int", "little boolean"]
        + ["empty binary", "emptyhex string", "abc binary"]
    )
    df = spark.createDataFrame([tuple(row.values())], schema)
    pad = F.unhex(F.lit("00" * PAD))
    pos, little = F.col("pos"), F.col("little")

    cols = []
    for n in VALUES:
        v = F.col(f"v{n}")
        be, le = B.be_bytes(v, n), B.le_bytes(v, n)
        cols += [
            be.alias(f"be{n}"),
            le.alias(f"le{n}"),
            B.be_hex(v, n).alias(f"behex{n}"),
            B.le_hex(v, n).alias(f"lehex{n}"),
            B.read_uint(be, 1, n).alias(f"rbe{n}"),
            B.read_uint(le, 1, n, little_endian=True).alias(f"rle{n}"),
            B.read_uint(F.concat(pad, be), pos, n).alias(f"rbe_at{n}"),
            B.read_uint(F.concat(pad, le), pos, n, little_endian=little).alias(
                f"rle_at{n}"
            ),
        ]
    d, h = F.col("data"), F.col("hexdata")
    cols += [
        B.be_bytes(F.col("over"), 2).alias("over_be2"),
        B.le_bytes(F.col("over"), 4).alias("over_le4"),
        B.read_uint(d, len(DATA) + 1, 2).alias("past_end"),
        B.crc(d, CRC32_TABLE).alias("crc32"),
        B.crc(h, CRC32_TABLE, hex_string=True).alias("crc32_hex"),
        B.crc(d, CRC32_TABLE, pos, 9).alias("crc32_slice"),
        B.crc(d, CRC32C_TABLE).alias("crc32c"),
        B.crc(h, CRC32C_TABLE, pos, F.lit(9).cast("long"), hex_string=True).alias(
            "crc32c_slice"
        ),
        B.crc(F.col("empty"), CRC32_TABLE).alias("crc32_empty"),
        B.crc(F.col("emptyhex"), CRC32_TABLE, hex_string=True).alias("crc32_emptyhex"),
        B.crc(F.col("abc"), CRC32_TABLE, start=2, length=0).alias("crc32_len0"),
    ]
    got = df.select(*cols).collect()[0].asDict()

    for n, v in VALUES.items():
        assert bytes(got[f"be{n}"]) == v.to_bytes(n, "big"), n
        assert bytes(got[f"le{n}"]) == v.to_bytes(n, "little"), n
        assert got[f"behex{n}"] == v.to_bytes(n, "big").hex().upper(), n
        assert got[f"lehex{n}"] == v.to_bytes(n, "little").hex().upper(), n
        for key in ("rbe", "rle", "rbe_at", "rle_at"):
            assert got[f"{key}{n}"] == v, (key, n)
    # masking keeps the low-order bytes of an over-width value
    assert bytes(got["over_be2"]) == (OVER % (1 << 16)).to_bytes(2, "big")
    assert bytes(got["over_le4"]) == (OVER % (1 << 32)).to_bytes(4, "little")
    assert got["past_end"] is None
    sl = DATA[PAD : PAD + 9]
    assert got["crc32"] == got["crc32_hex"] == zlib.crc32(DATA)
    assert got["crc32_slice"] == zlib.crc32(sl)
    assert got["crc32c"] == crc32c(DATA)
    assert got["crc32c_slice"] == crc32c(sl)
    # a zero-length region folds no byte
    assert got["crc32_empty"] == got["crc32_emptyhex"] == zlib.crc32(b"") == 0
    assert got["crc32_len0"] == 0
