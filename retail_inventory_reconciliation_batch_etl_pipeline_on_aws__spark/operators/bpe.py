"""Distributed BPE merge learning (Sennrich et al. 2016, the public
byte-pair-encoding recipe) -- the tokenizer-training step of an LLM data
pipeline, expressed Spark-first.

The classic algorithm trains on the WORD-FREQUENCY table, not the raw
corpus: the corpus is scanned ONCE into (word, freq), and every merge
iteration then works on |vocab| rows -- orders of magnitude smaller than
the corpus, which is what makes tokenizer training tractable at 100 TB.
Per iteration:

  1. adjacent symbol pairs explode from each word's symbol array,
     weighted by word frequency (``zip_with`` of the array against its
     own shift -- JVM higher-order functions, no Python),
  2. one map-side-combined aggregate ranks pairs; the argmax (count
     desc, pair asc -- the deterministic tie-break replacing the
     reference implementation's dict order) is a 1-row collect,
  3. the winning pair merges into every word via a left-to-right
     ``F.aggregate`` fold (greedy non-overlapping, the published
     application order), guarded by an ``array_contains`` pre-filter so
     words without both symbols skip the fold,
  4. the rewritten vocabulary is the state ``iterate`` checkpoints
     round by round.

A vocabulary of at most ``iterate.LOCAL_MAX_ROWS`` words skips that
loop (``iterate.route``): Spark still scans the corpus and builds each
word's seed symbols (``_initial_symbols``, so the tokenizer lives in
one place), then the seed table is collected once and the merges run
in the driver with the same counts, tie-break and greedy fold. A round
of a small vocabulary is milliseconds of work; as a Spark loop it paid
two jobs of per-job overhead.

Pair counts follow the reference implementation's naive adjacent count
('aaa' contributes (a,a) twice even though only one merge can apply) --
the property the hypothesis test pins against an exact Python model.
"""

from __future__ import annotations

import functools
from collections import Counter

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from .iterate import checkpoint, iterate, route

#: end-of-word marker, per the published recipe: merges never cross a
#: word boundary, and word-final subwords stay distinct from prefixes.
EOW = "</w>"


def word_freq_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq): the one corpus scan BPE training ever makes."""
    from ..functions.text import tokens

    return (
        docs.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("freq"))
    )


def _initial_symbols(word: F.Column) -> F.Column:
    """Character array + the end-of-word marker."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length(word)),
        lambda i: word.substr(i, F.lit(1)),
    )
    return F.concat(chars, F.array(F.lit(EOW)))


def _apply_merge(syms, a, b) -> F.Column:
    """Greedy left-to-right merge of adjacent (a, b) -> a+b, the
    published application order: a fold whose accumulator is the
    rewritten prefix ('aaa' + (a,a) -> ['aa','a'], never ['a','aa']).
    Slice lengths are clamped with greatest(0, .) -- whole-stage
    codegen can evaluate a guarded branch's expressions before the
    guard (the r7 lesson). ``a``/``b`` may be python strings (the
    collected-literal apply path) or Columns (the chained train path,
    r14 -- the winning pair rides a broadcast 1-row frame instead of a
    driver round-trip)."""
    a_col = F.lit(a) if isinstance(a, str) else a
    b_col = F.lit(b) if isinstance(b, str) else b
    ab_col = F.lit(a + b) if isinstance(a, str) else F.concat(a_col, b_col)
    rest = F.slice(syms, 2, F.greatest(F.lit(0), F.size(syms) - 1))
    merged = F.aggregate(
        rest,
        F.slice(syms, 1, 1),
        lambda acc, x: F.when(
            (F.element_at(acc, -1) == a_col) & (x == b_col),
            F.concat(
                F.slice(acc, 1, F.greatest(F.lit(0), F.size(acc) - 1)),
                F.array(ab_col),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )
    return F.when(
        (F.size(syms) >= 2)
        & F.array_contains(syms, a_col)
        & F.array_contains(syms, b_col),
        merged,
    ).otherwise(syms)


def learn_bpe_merges(
    docs: DataFrame,
    n_merges: int = 16,
    text_col: str = "text",
) -> DataFrame:
    """Train ``n_merges`` BPE merges on a document corpus; returns the
    merge table ``(rank, left, right, merged, pair_freq)`` in learned
    order -- fully deterministic (count desc, pair asc tie-break), so
    replays are bit-identical and the table is a versionable artifact
    (the tokenizer the rest of the pipeline ships with). If the
    vocabulary runs out of adjacent pairs, later ranks simply emit no
    row (same table the old early-``break`` produced).

    DRIVER-BOUNDARY SHAPE (r14 optimization round, guide §1.2/§5):
    the per-round 1-row ``first()`` argmax was a full Py4J round-trip
    plus its own job -- 2 actions per merge, measured 2.65 s of the
    4.8 s sf0.1 wall for 16 rounds of a 31-word vocabulary (pure
    per-action overhead). The winning pair now stays ON THE CLUSTER:
    each round cross-joins the vocabulary against the broadcast 1-row
    ``ORDER BY n DESC, left, right LIMIT 1`` frame and the fold reads
    the pair as COLUMNS. The merge table is the union of the argmax
    frames -- never driver literals.

    r15 refinements (r14 ADVICE item): each round's argmax frame is a
    one-shot ``checkpoint``, so (a) the terminal merge-table union
    reads 1-row in-memory frames instead of RE-EXECUTING every round's
    pair aggregation a second time, and (b) the vocabulary rewrite's
    broadcast build reads the same materialized row. Its row count
    rides that checkpoint job (zero extra actions) and reports
    emptiness: an exhausted vocabulary stops the loop instead of
    paying ``n_merges - rank`` empty rounds -- later ranks emit no row
    either way, so the output table is unchanged. The argmax frames
    are never released (the merge table unions them); the vocabulary
    rewrites are ``iterate``'s rounds, released as they are
    superseded. Pinned by the hypothesis exact-Python-model test and
    the classic worked example."""
    if n_merges <= 0:
        return _empty_merges(docs)
    spark = docs.sparkSession
    words, _, merges = route(
        word_freq_table(docs, text_col).select(
            "freq", _initial_symbols(F.col("word")).alias("syms")
        ),
        lambda seed, _: spark.createDataFrame(
            _learn_local(seed, n_merges), MERGES_SCHEMA
        ),
    )
    if merges is not None:
        return merges
    best = [_bpe_argmax(words)]
    if best[0] is None:
        # exhausted before the first merge: empty table, same schema
        return _empty_merges(docs)

    def next_argmax(_prev, new, _was, _now) -> bool:
        best.append(_bpe_argmax(new))
        return best[-1] is None

    # rewrite i folds merge i into every word; nothing consumes the
    # rewrite after the final merge, so there are n_merges - 1 rounds
    iterate(
        words,
        lambda w, i: w.crossJoin(F.broadcast(best[i])).select(
            "freq",
            _apply_merge(F.col("syms"), F.col("left"), F.col("right")).alias(
                "syms"
            ),
        ),
        n_merges - 1,
        until=next_argmax,
    )
    ranked = [
        b.select(
            F.lit(rank).cast("int").alias("rank"),
            "left",
            "right",
            F.concat("left", "right").alias("merged"),
            F.col("n").cast("long").alias("pair_freq"),
        )
        for rank, b in enumerate(best)
        if b is not None
    ]
    return functools.reduce(DataFrame.unionByName, ranked)


MERGES_SCHEMA = (
    "rank int not null, left string, right string, merged string, pair_freq long"
)


def _empty_merges(docs: DataFrame) -> DataFrame:
    return docs.sparkSession.createDataFrame([], MERGES_SCHEMA)


def _learn_local(seed: pa.Table, n_merges: int) -> list[tuple]:
    """The driver route of :func:`learn_bpe_merges` over the collected
    ``(freq, syms)`` seed: per round the naive frequency-weighted
    adjacent-pair count, the (count desc, pair asc) argmax -- Python
    orders str by code point, as Spark orders UTF-8 bytes -- and the
    greedy fold. Returns the merge-table rows; stops early, as the
    distributed loop does, once no word has an adjacent pair left."""
    freqs = seed.column("freq").to_pylist()
    words = seed.column("syms").to_pylist()
    rows = []
    for rank in range(n_merges):
        counts: Counter = Counter()
        for syms, freq in zip(words, freqs):
            for pair in zip(syms, syms[1:]):
                counts[pair] += freq
        if not counts:
            break
        (a, b), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        rows.append((rank, a, b, a + b, n))
        words = [_merge_symbols(syms, a, b) for syms in words]
    return rows


def _merge_symbols(syms: list[str], a: str, b: str) -> list[str]:
    """``_apply_merge`` in Python: the greedy left-to-right fold."""
    if len(syms) < 2 or a not in syms or b not in syms:
        return syms
    out = syms[:1]
    for x in syms[1:]:
        if out[-1] == a and x == b:
            out[-1] = a + b
        else:
            out.append(x)
    return out


def _bpe_argmax(words: DataFrame) -> DataFrame | None:
    """The round's 1-row ``(left, right, n)`` argmax frame (count desc,
    pair asc), checkpointed once and, on the distributed loop, never
    collected to the driver; None when no word has an adjacent pair
    left."""
    pairs = (
        words.select(
            "freq",
            F.explode(
                F.zip_with(
                    F.slice(
                        F.col("syms"), 1, F.greatest(F.lit(0), F.size("syms") - 1)
                    ),
                    F.slice(
                        F.col("syms"), 2, F.greatest(F.lit(0), F.size("syms") - 1)
                    ),
                    lambda x, y: F.struct(x.alias("left"), y.alias("right")),
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.left").alias("left"), F.col("p.right").alias("right"))
        .agg(F.sum("freq").alias("n"))
    )
    best, seen = checkpoint(
        pairs.orderBy(
            F.col("n").desc(), F.col("left").asc(), F.col("right").asc()
        ).limit(1),
        n_rows=F.count(F.lit(1)),
    )
    return best if seen["n_rows"] else None


def apply_bpe_merges(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Tokenize a corpus with a learned merge list (in rank order).

    The folds run over the DISTINCT word table, one merge per
    ``iterate`` round, and the corpus then joins word -> symbol-array:
    (a) each unique word tokenizes exactly once no matter how often it
    occurs -- the same train-on-the-vocabulary economics as
    :func:`learn_bpe_merges` -- and (b) the per-round checkpoint caps
    the expression tree.
    Chaining the k folds into ONE projection is wrong twice over: the
    tree grows ~6x per merge (each step references its input five
    times), so compile time explodes exponentially -- measured: 8
    chained merges never finished codegen, while 8 checkpointed vocab
    passes are milliseconds. Returns one row per (doc row, word
    occurrence) with the word's subword array in ``out_col``.

    A distinct vocabulary of at most ``iterate.LOCAL_MAX_ROWS`` words
    is collected once and folds every merge in the driver
    (``iterate.route``); the corpus then joins the resulting small
    table as before."""
    from ..functions.text import tokens

    spark = docs.sparkSession

    def local(seed: pa.Table, _) -> DataFrame:
        words = seed.column(out_col).to_pylist()
        for a, b in merges:
            words = [_merge_symbols(syms, a, b) for syms in words]
        return spark.createDataFrame(
            pa.table(
                {
                    "word": seed.column("word"),
                    out_col: pa.array(words, pa.list_(pa.string())),
                }
            ),
            StructType(
                [
                    StructField("word", StringType()),
                    StructField(out_col, ArrayType(StringType(), False)),
                ]
            ),
        )

    vocab, _, folded = route(
        docs.select(F.explode(tokens(text_col)).alias("word"))
        .distinct()
        .select("word", _initial_symbols(F.col("word")).alias(out_col)),
        local,
    )
    if folded is not None:
        vocab = folded
    else:
        vocab, _ = iterate(
            vocab,
            lambda v, i: v.select(
                "word", _apply_merge(F.col(out_col), *merges[i]).alias(out_col)
            ),
            len(merges),
        )
    word = docs.select("*", F.explode(tokens(text_col)).alias("word"))
    return word.join(vocab, "word").drop("word")
