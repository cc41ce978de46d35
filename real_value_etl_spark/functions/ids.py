"""Deterministic id generation.

The reference generates `uid = uuid5(NAMESPACE_DNS, f"{listing_id}_{platform_id}")`
row-wise in pandas (src/utils/types_transform.py:76-79) — the single genuine
UDF in its whole surface (SURVEY §2.10/M6). RFC 4122 v5 is just a SHA-1 over
namespace+name with version/variant bits patched in, so we build it from
Catalyst expressions (sha1 + substring + conv) and stay UDF-free: at 100 TB
this keeps uid generation inside whole-stage codegen instead of shipping
every row through a Python worker.
"""

from __future__ import annotations

import uuid

from pyspark.sql import Column
from pyspark.sql import functions as F

# uuid.NAMESPACE_DNS without dashes
_NAMESPACE_DNS_HEX = uuid.NAMESPACE_DNS.hex


def uuid5_expr(name: Column, namespace_hex: str = _NAMESPACE_DNS_HEX) -> Column:
    """uuid5(namespace, name) as a pure column expression.

    sha1(namespace_bytes || utf8(name)) -> 40 hex chars; uuid v5 is the
    first 16 bytes with the version nibble forced to 5 (byte 6 high nibble)
    and the variant's top two bits forced to 10 (byte 8).
    """
    hx = F.sha1(F.concat(F.unhex(F.lit(namespace_hex)), F.encode(name, "UTF-8")))
    time_low = F.substring(hx, 1, 8)
    time_mid = F.substring(hx, 9, 4)
    time_hi = F.concat(F.lit("5"), F.substring(hx, 14, 3))
    # variant: (nibble & 0x3) | 0x8  ==  (n % 4) + 8, rendered back as hex
    variant_nibble = F.lower(
        F.conv(
            (F.pmod(F.conv(F.substring(hx, 17, 1), 16, 10).cast("int"), F.lit(4)) + 8)
            .cast("string"),
            10,
            16,
        )
    )
    clock_seq = F.concat(variant_nibble, F.substring(hx, 18, 3))
    node = F.substring(hx, 21, 12)
    return F.concat_ws("-", time_low, time_mid, time_hi, clock_seq, node)


def listing_uid(listing_id: Column, platform_id: Column) -> Column:
    """uid for the unified record: uuid5(DNS, '<listing_id>_<platform_id>')
    (reference types_transform.py:76-79)."""
    name = F.concat_ws("_", listing_id.cast("string"), platform_id.cast("string"))
    return uuid5_expr(name)
