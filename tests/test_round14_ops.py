"""Targeted invariants for the round-14 additions, beyond the oracle-parity
hash gate: each test recomputes the operator's defining property from the
payload bytes independently (Python stdlib), so a both-engines-wrong
implementation cannot hide behind an agreeing oracle."""

from __future__ import annotations

import zlib

from pyspark.sql import functions as F

from real_value_etl_spark.queries.all_queries import REGISTRY

SF = "/root/testdata/sf0.001"


def _decode_png_gray_py(payload: bytes) -> dict:
    """THIRD-ENGINE PNG decode: stdlib zlib (real inflate + adler check)
    plus a textbook RFC 2083 defilter — no code shared with the Catalyst
    build or parse, so build and parse cannot be wrong together."""
    assert payload[:8] == bytes.fromhex("89504E470D0A1A0A")
    ihdr_len = int.from_bytes(payload[8:12], "big")
    assert ihdr_len == 13 and payload[12:16] == b"IHDR"
    w = int.from_bytes(payload[16:20], "big")
    h = int.from_bytes(payload[20:24], "big")
    bit_depth, color_type = payload[24], payload[25]
    assert zlib.crc32(payload[12:29]) == int.from_bytes(
        payload[29:33], "big"
    ), "IHDR CRC"
    idat_len = int.from_bytes(payload[33:37], "big")
    assert payload[37:41] == b"IDAT"
    zstream = payload[41 : 41 + idat_len]
    assert zlib.crc32(payload[37 : 41 + idat_len]) == int.from_bytes(
        payload[41 + idat_len : 45 + idat_len], "big"
    ), "IDAT CRC"
    # zlib.decompress verifies the adler32 trailer itself — a real
    # inflater accepting the stream IS the stored-block-chain proof
    raw = zlib.decompress(zstream)
    assert len(raw) == h * (w + 1)
    pixels: list[int] = []
    prev = [0] * w
    for r in range(h):
        line = raw[r * (w + 1) : (r + 1) * (w + 1)]
        f, enc = line[0], line[1:]
        cur: list[int] = []
        for i in range(w):
            a = cur[i - 1] if i > 0 else 0  # left
            b = prev[i]  # up
            c = prev[i - 1] if i > 0 else 0  # up-left
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            cur.append((enc[i] + pred) % 256)
        pixels.extend(cur)
        prev = cur
    assert payload[45 + idat_len :] == bytes.fromhex(
        "0000000049454E44AE426082"
    )
    return {
        "width": w,
        "height": h,
        "bit_depth": bit_depth,
        "color_type": color_type,
        "pix_sum": sum(pixels),
        "pix_min": min(pixels),
        "pix_max": max(pixels),
        "pixel_00": pixels[0],
        "pixel_last": pixels[-1],
    }


def test_png_decode_gray_matches_stdlib_zlib(spark):
    """Collect the Catalyst-built payloads for a slice of docs, decode
    them with Python's zlib (third engine), and compare every pixel
    statistic against the Catalyst parse — pins the builder AND the
    parser to the actual PNG spec, not just to each other."""
    fn = REGISTRY["multimodal_png_decode_gray"].fn
    out = {
        r["doc_id"]: r.asDict()
        for r in fn(spark, SF).filter(F.col("doc_id") < 40).collect()
    }
    assert len(out) == 40

    import real_value_etl_spark.queries.feature_ops as FO

    docs = FO.table(spark, SF, "documents").filter(F.col("doc_id") < 40)
    spark_payloads = {
        r["doc_id"]: bytes(r["payload"])
        for r in FO._pngfull_build(docs).collect()
    }
    rows = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()}
    for doc_id, want in out.items():
        text = rows[doc_id]
        w = doc_id % 5 + 3
        h = doc_id % 4 + 2
        cap = doc_id % 5 + 6
        data = text.ljust(40, " ").encode("utf-8")
        grid = [
            [data[r * w + i] for i in range(w)] for r in range(h)
        ]
        raw = bytearray()
        for r in range(h):
            f = (doc_id + r) % 5
            raw.append(f)
            for i in range(w):
                t = grid[r][i]
                a = grid[r][i - 1] if i > 0 else 0
                b = grid[r - 1][i] if r > 0 else 0
                c = grid[r - 1][i - 1] if (r > 0 and i > 0) else 0
                if f == 0:
                    pred = 0
                elif f == 1:
                    pred = a
                elif f == 2:
                    pred = b
                elif f == 3:
                    pred = (a + b) >> 1
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = (
                        a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                    )
                raw.append((t - pred) % 256)
        total = h * (w + 1)
        assert len(raw) == total
        # stored-deflate chain with the query's cap geometry
        z = bytearray(b"\x78\x01")
        off = 0
        while off < total:
            ln = min(cap, total - off)
            bfinal = 1 if off + ln == total else 0
            z.append(bfinal)
            z += ln.to_bytes(2, "little")
            z += (65535 - ln).to_bytes(2, "little")
            z += raw[off : off + ln]
            off += ln
        z += (zlib.adler32(bytes(raw)) & 0xFFFFFFFF).to_bytes(4, "big")
        ihdr = b"IHDR" + w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes(
            [8, 0, 0, 0, 0]
        )
        idat = b"IDAT" + bytes(z)
        payload = (
            bytes.fromhex("89504E470D0A1A0A")
            + (13).to_bytes(4, "big")
            + ihdr
            + (zlib.crc32(ihdr) & 0xFFFFFFFF).to_bytes(4, "big")
            + len(z).to_bytes(4, "big")
            + idat
            + (zlib.crc32(idat) & 0xFFFFFFFF).to_bytes(4, "big")
            + bytes.fromhex("0000000049454E44AE426082")
        )
        # BUILD pin: the Catalyst-built wire bytes must equal the
        # independent pure-Python encoder's, byte for byte
        assert spark_payloads[doc_id] == payload, doc_id
        got = _decode_png_gray_py(payload)
        for k, v in got.items():
            assert want[k] == v, (doc_id, k, want[k], v)
        assert want["n_pixels"] == w * h
        assert want["idat_len"] == len(z)
        assert want["total_len"] == len(payload)
        for flag in (
            "sig_ok", "ihdr_ok", "ihdr_crc_ok", "idat_crc_ok", "nlen_ok",
            "btype_ok", "chain_ok", "adler_ok",
        ):
            assert want[flag] is True, (doc_id, flag)


def test_png_decode_gray_rejects_nothing_silently(spark):
    """Every document decodes: the integrity booleans are all true for
    all rows (a silent False would still hash-match an all-TRUE oracle
    only if zero rows flipped — assert it outright)."""
    fn = REGISTRY["multimodal_png_decode_gray"].fn
    df = fn(spark, SF)
    n = df.count()
    ok = df.filter(
        F.col("sig_ok") & F.col("ihdr_ok") & F.col("ihdr_crc_ok")
        & F.col("idat_crc_ok") & F.col("nlen_ok") & F.col("btype_ok")
        & F.col("chain_ok") & F.col("adler_ok")
    ).count()
    assert n == ok and n > 0
    # all five RFC 2083 filters appear across the corpus
    masks = df.agg(
        F.bit_or("filters_mask").alias("m")
    ).collect()[0]["m"]
    assert masks == 31


# ---------------------------------------------------------------------------
# URL normalization hand cases (VERDICT r10 ask #6): expected outputs are
# WRITTEN BY HAND, so the Spark normalizer and the DuckDB oracle normalizer
# cannot be wrong in the same way without failing here
# ---------------------------------------------------------------------------
_URL_CASES = [
    # scheme+host case, www., :443, trailing slash, utm_*, fragment
    (
        "HTTPS://WWW.News.Example.Com:443/article/7/?utm_source=feed&ref=2#top",
        "https://news.example.com/article/7?ref=2",
    ),
    # param kept, tracking suffix param dropped
    (
        "https://blog.example.org/article/3?ref=1&utm_campaign=x",
        "https://blog.example.org/article/3?ref=1",
    ),
    # http + :80 folds to the https canonical form; params sorted
    (
        "http://docs.example.net:80/a/b/?b=2&a=1&gclid=xyz",
        "https://docs.example.net/a/b?a=1&b=2",
    ),
    # all params tracking -> no query at all
    ("https://shop.example.io/x?fbclid=abc", "https://shop.example.io/x"),
    # already canonical stays fixed (idempotence)
    ("https://news.example.com/article/7?ref=2",
     "https://news.example.com/article/7?ref=2"),
]


def test_url_normalize_hand_cases_spark(spark):
    from real_value_etl_spark.queries.corpus_quality import (
        _normalize_url_spark,
    )

    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(_URL_CASES)], ["doc_id", "url"]
    )
    got = {
        r["doc_id"]: r["norm_url"]
        for r in _normalize_url_spark(df).collect()
    }
    for i, (_, want) in enumerate(_URL_CASES):
        assert got[i] == want, (i, got[i], want)


def test_url_normalize_hand_cases_duckdb():
    import duckdb

    from real_value_etl_spark.queries.corpus_quality import _URL_SQL_NORM

    values = ", ".join(
        f"({i}, '{u}')" for i, (u, _) in enumerate(_URL_CASES)
    )
    sql = f"""
    WITH urls AS (SELECT * FROM (VALUES {values}) AS t(doc_id, url)),
    n AS ({_URL_SQL_NORM})
    SELECT doc_id,
           'https://' || norm_host || norm_path
           || (CASE WHEN norm_q = '' THEN '' ELSE '?' || norm_q END)
           AS norm_url
    FROM n
    """
    got = dict(duckdb.connect().execute(sql).fetchall())
    for i, (_, want) in enumerate(_URL_CASES):
        assert got[i] == want, (i, got[i], want)


def test_domain_caps_invariants(spark):
    """Cap arithmetic recomputed independently: 500 docs, 5 domains of
    100 -> cap = greatest(20, 25) = 25 kept per domain, and the kept-id
    checksum equals the sum of each domain's 25 smallest doc_ids."""
    fn = REGISTRY["docs_domain_caps"].fn
    rows = {r["domain"]: r.asDict() for r in fn(spark, SF).collect()}
    assert len(rows) == 5
    hosts = [
        "news.example.com", "blog.example.org", "docs.example.net",
        "shop.example.io", "forum.example.dev",
    ]
    for site, host in enumerate(hosts):
        ids = sorted(i for i in range(500) if i % 5 == site)
        want_kept = ids[:25]
        r = rows[host]
        assert r["n_docs"] == 100
        assert r["n_kept"] == 25
        assert r["n_dropped"] == 75
        assert r["kept_docid_sum"] == sum(want_kept)
        assert abs(r["share"] - 0.2) < 1e-12


def test_robots_longest_match_semantics(spark):
    """RFC 9309 policy recomputed independently in pure Python for every
    doc (longest matching prefix wins; allow wins length ties), then
    compared against the query's per-domain aggregates."""
    from real_value_etl_spark.queries.corpus_quality import _ROBOTS_RULESETS

    hosts = [
        "news.example.com", "blog.example.org", "docs.example.net",
        "shop.example.io", "forum.example.dev",
    ]
    want = {
        h: {"n_docs": 0, "n_allowed": 0, "n_disallowed": 0, "sum": 0}
        for h in hosts
    }
    for doc_id in range(500):
        site = doc_id % 5
        path = f"/article/{doc_id % 50}"
        rules = _ROBOTS_RULESETS[site % 3]
        matches = [(len(p), a) for p, a in rules if path.startswith(p)]
        # longest prefix wins, allow wins ties — max over (len, allow)
        allow = max(matches)[1]
        w = want[hosts[site]]
        w["n_docs"] += 1
        w["n_allowed"] += allow
        w["n_disallowed"] += 1 - allow
        w["sum"] += 0 if allow else doc_id
    got = {
        r["domain"]: r.asDict()
        for r in REGISTRY["docs_robots_filter"].fn(spark, SF).collect()
    }
    assert set(got) == set(hosts)
    for h in hosts:
        assert got[h]["n_docs"] == want[h]["n_docs"], h
        assert got[h]["n_allowed"] == want[h]["n_allowed"], h
        assert got[h]["n_disallowed"] == want[h]["n_disallowed"], h
        assert got[h]["disallowed_docid_sum"] == want[h]["sum"], h
    # the fixture actually exercises both tiebreak directions
    assert any(want[h]["n_disallowed"] for h in hosts)
    assert any(want[h]["n_allowed"] for h in hosts)


def test_warc_walk_against_python_writer(spark):
    """Build the same WARC payloads with an independent pure-Python
    writer, parse them with a trivial Python reader, and compare every
    emitted field — pins the Catalyst builder AND walker to the actual
    record grammar, not just to each other."""
    import hashlib

    fn = REGISTRY["multimodal_warc_record_walk"].fn
    got = {
        r["doc_id"]: r.asDict()
        for r in fn(spark, SF).filter(F.col("doc_id") < 30).collect()
    }
    assert len(got) == 30
    import real_value_etl_spark.queries.feature_ops as FO

    docs = FO.table(spark, SF, "documents").filter(F.col("doc_id") < 30)
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for doc_id, want in got.items():
        body48 = texts[doc_id].ljust(48, " ")
        nrec = doc_id % 3 + 2
        payload, boff, bodies = "", 0, ""
        for i in range(nrec):
            bl = (doc_id + 3 * i) % 9 + 4
            rtype = "warcinfo" if i == 0 else (
                "request" if i == 2 else "response"
            )
            body = body48[boff : boff + bl]
            payload += (
                f"WARC/1.0\r\nWARC-Type: {rtype}\r\n"
                f"Content-Length: {bl}\r\n\r\n{body}\r\n\r\n"
            )
            bodies += body
            boff += bl
        assert want["n_records"] == nrec, doc_id
        assert want["version_ok"] is True
        assert want["terminator_ok"] is True
        assert want["length_ok"] is True
        assert want["body_bytes_sum"] == boff
        assert want["total_len"] == len(payload), doc_id
        assert want["last_type"] == (
            "warcinfo" if nrec - 1 == 0
            else ("request" if nrec - 1 == 2 else "response")
        )
        assert want["bodies_md5"] == hashlib.md5(
            bodies.encode("utf-8")
        ).hexdigest(), doc_id
