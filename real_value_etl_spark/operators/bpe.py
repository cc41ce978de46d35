"""Distributed BPE tokenizer TRAINING (byte-pair-merge learning).

The tokenize/score side of the engine consumes a vocabulary
(queries/corpus_quality.py docs_tokenize_ids, llm_mix.py
text_bpe_token_count); this operator LEARNS one: the classic BPE loop —
count adjacent symbol pairs over the corpus, merge the most frequent
pair everywhere, repeat — expressed as Pregel-style DataFrame
iterations, one per merge.

Scale shape: everything operates on the DISTINCT-WORD table weighted by
word frequency (the standard BPE trick — vocabulary is orders of
magnitude smaller than the corpus; the corpus is touched exactly once to
build the word-frequency table). Each merge step is one explode of the
word symbols + two window passes + one grouped rebuild; the chosen pair
reaches the next step as a broadcast one-row frame, so NOTHING ever
lands on the driver.

Greedy left-to-right application (the reference BPE semantics, where
overlapping occurrences like 'aaa' with pair (a,a) merge the 1st+2nd,
not the 2nd+3rd) is expressed POSITIONALLY rather than as a fold:
matches at consecutive positions form islands (only possible when
left == right), and within an island the greedy pass keeps the 1st,
3rd, 5th... occurrence — plain gaps-and-islands window arithmetic,
which a SQL oracle can replay verbatim. Integer counts and a total
(count DESC, left, right) order make every chosen merge deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .scan import _persist_tracked


def words_with_symbols(tokens: DataFrame, token_col: str = "token") -> DataFrame:
    """Distinct-word table: (word, freq, syms) with syms = character list."""
    return (
        tokens.groupBy(F.col(token_col).alias("word"))
        .agg(F.count("*").alias("freq"))
        .select(
            "word",
            "freq",
            F.regexp_extract_all(F.col("word"), F.lit("."), 0).alias("syms"),
        )
    )


def pair_counts(words: DataFrame) -> DataFrame:
    """Corpus-weighted adjacent-pair counts over the symbol sequences."""
    w = Window.partitionBy("word").orderBy("pos")
    px = words.select(
        "word", "freq", F.posexplode("syms").alias("pos", "sym")
    ).withColumn("nxt", F.lead("sym").over(w))
    return (
        px.filter(F.col("nxt").isNotNull())
        .groupBy(F.col("sym").alias("left"), F.col("nxt").alias("right"))
        .agg(F.sum("freq").alias("cnt"))
    )


def top_pair(counts: DataFrame) -> DataFrame:
    """The merge rule: most frequent pair, ties broken (left, right)."""
    return (
        counts.orderBy(F.desc("cnt"), "left", "right")
        .limit(1)
        .select(
            F.col("left").alias("ml"), F.col("right").alias("mr"), "cnt"
        )
    )


def apply_merge(words: DataFrame, rule: DataFrame) -> DataFrame:
    """Apply one merge rule greedily to every word's symbol sequence.

    `rule` is a one-row (ml, mr, cnt) frame, broadcast — the driver never
    sees it. Greedy semantics via gaps-and-islands (module docstring)."""
    w = Window.partitionBy("word").orderBy("pos")
    px = (
        words.crossJoin(F.broadcast(rule.select("ml", "mr")))
        .select("word", "freq", "ml", "mr", F.posexplode("syms").alias("pos", "sym"))
        .withColumn("nxt", F.lead("sym").over(w))
        .withColumn(
            "mtch", (F.col("sym") == F.col("ml")) & (F.col("nxt") == F.col("mr"))
        )
    )
    # islands of consecutive matching positions; greedy keeps even offsets
    px = px.withColumn(
        "mseq",
        F.sum(F.col("mtch").cast("int")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    ).withColumn("island", F.col("pos") - F.col("mseq"))
    ioff = (
        F.row_number().over(
            Window.partitionBy("word", "mtch", "island").orderBy("pos")
        )
        - 1
    )
    px = px.withColumn("kept", F.col("mtch") & (ioff % 2 == 0)).withColumn(
        "keep_prev",
        F.coalesce(F.lag("kept").over(w), F.lit(False)),
    )
    rebuilt = (
        px.filter(~F.col("keep_prev"))
        .select(
            "word",
            "freq",
            "pos",
            F.when(
                F.col("kept"), F.concat(F.col("ml"), F.col("mr"))
            ).otherwise(F.col("sym")).alias("val"),
        )
        .groupBy("word", "freq")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "val"))),
                lambda s: s["val"],
            ).alias("syms")
        )
    )
    return rebuilt


def bpe_train(tokens: DataFrame, n_merges: int) -> DataFrame:
    """Learn `n_merges` BPE merge rules; returns (step, merge_left, merge_right, cnt).

    Each iteration's word table is persisted (it feeds pair counting, the
    top-pair selection, AND the next rebuild — without a cache the
    lineage would re-run all previous merges once per consumer). The
    result is lazy, so the frames are persisted into the request scope
    (operators/scan.py) and released when the request ends."""
    words = _persist_tracked(words_with_symbols(tokens))
    rules: list[DataFrame] = []
    for step in range(1, n_merges + 1):
        # r12: persist the one-row rule — it feeds BOTH the output union
        # and the next rebuild's broadcast, and without the persist each
        # consumer re-runs the pair-count aggregation over the cached
        # word table (2x the explode+window+groupBy per merge step).
        # One cached row per step, released with the word tables.
        rule = _persist_tracked(top_pair(pair_counts(words)))
        rules.append(
            rule.select(
                F.lit(step).alias("step"),
                F.col("ml").alias("merge_left"),
                F.col("mr").alias("merge_right"),
                "cnt",
            )
        )
        if step < n_merges:
            words = _persist_tracked(apply_merge(words, rule))
    out = rules[0]
    for r in rules[1:]:
        out = out.unionAll(r)
    return out


def bpe_encode(tokens: DataFrame, n_merges: int) -> DataFrame:
    """The ENCODE half of BPE: learn `n_merges` rules (identical greedy
    trajectory to `bpe_train`) and apply ALL of them, returning the
    encoded distinct-word table (word, freq, syms). Persists like
    bpe_train."""
    words = _persist_tracked(words_with_symbols(tokens))
    for _ in range(n_merges):
        rule = top_pair(pair_counts(words))
        words = _persist_tracked(apply_merge(words, rule))
    return words
