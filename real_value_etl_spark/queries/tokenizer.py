"""Tokenizer training queries (BPE merge learning over the corpus).

Consumers of a vocabulary live elsewhere (docs_tokenize_ids,
text_bpe_token_count); this module LEARNS merges from data — the
iterative-algorithm family's fourth member (PageRank, connected
components, k-means, now BPE), each one driver-checkable because its
arithmetic is integral and its tie-breaks total.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.bpe import bpe_train
from .registry import register, table

BPE_MERGES = 3


def _bpe_oracle(n_merges: int) -> str:
    """Unrolled replay of `n_merges` greedy BPE iterations (mirrors
    operators/bpe.py exactly: same weighted pair counts, same
    (cnt DESC, left, right) merge choice, same gaps-and-islands greedy
    application)."""
    parts = [
        """
    WITH tok AS (
      SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
               AS word
      FROM documents
    ),
    w1 AS (
      SELECT word, COUNT(*) AS freq, regexp_extract_all(word, '.') AS syms
      FROM tok GROUP BY word
    )"""
    ]
    for i in range(1, n_merges + 1):
        parts.append(f""",
    x{i} AS (
      SELECT word, freq, pos, syms[pos] AS sym,
             LEAD(syms[pos]) OVER (PARTITION BY word ORDER BY pos) AS nxt
      FROM (SELECT word, freq, syms,
                   unnest(generate_series(1, len(syms))) AS pos
            FROM w{i})
    ),
    pc{i} AS (
      SELECT sym AS l, nxt AS r, CAST(SUM(freq) AS BIGINT) AS cnt
      FROM x{i} WHERE nxt IS NOT NULL GROUP BY sym, nxt
    ),
    tp{i} AS (SELECT l, r, cnt FROM pc{i} ORDER BY cnt DESC, l, r LIMIT 1)""")
        if i < n_merges:
            parts.append(f""",
    m{i} AS (
      SELECT x.word, x.freq, x.pos, x.sym,
             (x.sym = t.l AND x.nxt = t.r) AS mtch, t.l AS ml, t.r AS mr
      FROM x{i} x CROSS JOIN tp{i} t
    ),
    s{i} AS (
      SELECT *, SUM(CASE WHEN mtch THEN 1 ELSE 0 END)
                  OVER (PARTITION BY word ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS mseq
      FROM m{i}
    ),
    g{i} AS (
      SELECT *, (ROW_NUMBER() OVER (PARTITION BY word, mtch, pos - mseq
                                    ORDER BY pos) - 1) AS ioff
      FROM s{i}
    ),
    h{i} AS (SELECT *, (mtch AND ioff % 2 = 0) AS kept FROM g{i}),
    p{i} AS (
      SELECT *, COALESCE(LAG(kept) OVER (PARTITION BY word ORDER BY pos),
                         FALSE) AS keep_prev
      FROM h{i}
    ),
    w{i + 1} AS (
      SELECT word, freq,
             list(CASE WHEN kept THEN ml || mr ELSE sym END ORDER BY pos)
               AS syms
      FROM p{i} WHERE NOT keep_prev GROUP BY word, freq
    )""")
    finals = [
        f"SELECT {i} AS step, l AS merge_left, r AS merge_right, cnt FROM tp{i}"
        for i in range(1, n_merges + 1)
    ]
    parts.append("\n    " + "\n    UNION ALL ".join(finals))
    return "".join(parts)


@register(
    "text_bpe_train",
    oracle=_bpe_oracle(BPE_MERGES),
    tags=("llm", "text", "tokenizer", "iterative"),
)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the corpus's first {K} BPE merges: weighted adjacent-pair
    counts over the DISTINCT-word table, merge the top pair everywhere
    (greedy left-to-right, expressed as gaps-and-islands windows so a SQL
    oracle replays it bit-for-bit), repeat. Each chosen pair flows to the
    next iteration as a broadcast one-row frame — no driver round-trip.
    Integer counts + a total (cnt DESC, left, right) order make the whole
    training trajectory deterministic, so the driver hash-checks an
    ITERATIVE TOKENIZER TRAINING run exactly (operators/bpe.py)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("token")).filter(
        F.col("token") != ""
    )
    return bpe_train(toks, BPE_MERGES)


def _bpe_apply_oracle(n_merges: int) -> str:
    """Unrolled replay of `n_merges` BPE iterations with the application
    step run after EVERY chosen pair (the encode trajectory — the train
    oracle above skips the final application because training only needs
    the rule list); final select = the encoded word table."""
    parts = [
        """
    WITH tok AS (
      SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
               AS word
      FROM documents
    ),
    w1 AS (
      SELECT word, freq, regexp_extract_all(word, '.') AS syms
      FROM (SELECT word, COUNT(*) AS freq FROM tok GROUP BY word)
    )"""
    ]
    for i in range(1, n_merges + 1):
        parts.append(f""",
    x{i} AS (
      SELECT word, freq, pos, syms[pos] AS sym,
             LEAD(syms[pos]) OVER (PARTITION BY word ORDER BY pos) AS nxt
      FROM (SELECT word, freq, syms,
                   unnest(generate_series(1, len(syms))) AS pos
            FROM w{i})
    ),
    pc{i} AS (
      SELECT sym AS l, nxt AS r, CAST(SUM(freq) AS BIGINT) AS cnt
      FROM x{i} WHERE nxt IS NOT NULL GROUP BY sym, nxt
    ),
    tp{i} AS (SELECT l, r, cnt FROM pc{i} ORDER BY cnt DESC, l, r LIMIT 1),
    m{i} AS (
      SELECT x.word, x.freq, x.pos, x.sym,
             (x.sym = t.l AND x.nxt = t.r) AS mtch, t.l AS ml, t.r AS mr
      FROM x{i} x CROSS JOIN tp{i} t
    ),
    s{i} AS (
      SELECT *, SUM(CASE WHEN mtch THEN 1 ELSE 0 END)
                  OVER (PARTITION BY word ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS mseq
      FROM m{i}
    ),
    g{i} AS (
      SELECT *, (ROW_NUMBER() OVER (PARTITION BY word, mtch, pos - mseq
                                    ORDER BY pos) - 1) AS ioff
      FROM s{i}
    ),
    h{i} AS (SELECT *, (mtch AND ioff % 2 = 0) AS kept FROM g{i}),
    p{i} AS (
      SELECT *, COALESCE(LAG(kept) OVER (PARTITION BY word ORDER BY pos),
                         FALSE) AS keep_prev
      FROM h{i}
    ),
    w{i + 1} AS (
      SELECT word, freq,
             list(CASE WHEN kept THEN ml || mr ELSE sym END ORDER BY pos)
               AS syms
      FROM p{i} WHERE NOT keep_prev GROUP BY word, freq
    )""")
    parts.append(f"""
    SELECT word, CAST(freq AS BIGINT) AS freq,
           CAST(len(syms) AS BIGINT) AS n_tokens,
           array_to_string(syms, ' ') AS encoded,
           CAST(length(word) AS BIGINT) AS n_chars,
           CAST(length(word) AS DOUBLE) / len(syms) AS chars_per_token
    FROM w{n_merges + 1}""")
    return "".join(parts)


@register(
    "text_bpe_apply",
    oracle=_bpe_apply_oracle(BPE_MERGES),
    tags=("llm", "text", "tokenizer", "iterative"),
)
def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE with the learned tokenizer — the other half of
    text_bpe_train: learn the corpus's first {K} merges with the same
    deterministic greedy trajectory, then APPLY all of them to every
    distinct word and return the encoded vocabulary view (word, its
    corpus frequency, the post-merge token count, the encoded segment
    string, and chars-per-token — the fertility signal tokenizer
    engineering reads per word instead of corpus-wide like
    text_tokenizer_fertility). The application is the same
    gaps-and-islands positional rewrite the trainer uses (greedy
    left-to-right, overlapping 'aaa' merges 1st+2nd), so the DuckDB
    oracle replays the entire learn-then-encode trajectory bit-for-bit.

    Scale shape: identical to the trainer — everything runs on the
    distinct-word table weighted by frequency (the corpus is scanned
    once for the word counts), each merge is one explode + two windows
    on a (word) partitioning + one grouped rebuild, and each chosen
    pair flows forward as a broadcast one-row frame; the ONE extra step
    vs training is the final application. Per-iteration word tables are
    persisted in the request scope and released at request end
    (operators/bpe.py). Reference basis: SURVEY.md §2.12 tokenizer family (absent in
    reference)."""
    from ..operators.bpe import bpe_encode

    d = table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("token")).filter(
        F.col("token") != ""
    )
    enc = bpe_encode(toks, BPE_MERGES)
    return enc.select(
        "word",
        "freq",
        F.size("syms").cast("long").alias("n_tokens"),
        F.array_join("syms", " ").alias("encoded"),
        F.length("word").cast("long").alias("n_chars"),
        (
            F.length("word").cast("double") / F.size("syms")
        ).alias("chars_per_token"),
    )


text_bpe_apply.__doc__ = text_bpe_apply.__doc__.format(K=BPE_MERGES)
