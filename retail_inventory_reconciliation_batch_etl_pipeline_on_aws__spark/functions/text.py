"""Text-analysis column expressions (SURVEY.md SS2.11: token counting,
quality scoring, language-ID, fingerprinting).

Everything here is built-in Column expressions / higher-order functions
-- JVM-side, codegen'd, zero Python on the executor path -- because at
100TB a row-at-a-time Python UDF on the documents table is the
difference between hours and days. Each expression has an exact ANSI-SQL
mirror for the DuckDB oracle (see __spark_entry__.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .numeric import round_half

#: Tiny function-word list used for quality scoring and language ID.
#: Deliberately small + hard-coded: the oracle SQL must embed the same list.
STOPWORDS_EN = ["the", "a", "and", "of", "to", "is", "in", "it"]

#: Per-language marker words for the n-gram-free language-ID heuristic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "is", "of", "a"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
    "es": ["el", "la", "los", "es", "que"],
}

#: BPE-ish word/punct tokenizer regex (GPT-2 style simplification):
#: runs of letters, runs of digits, or single non-space symbols.
BPE_TOKEN_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def tokens(col: Column | str) -> Column:
    """Whitespace tokens, empties dropped (mirror:
    ``list_filter(regexp_split_to_array(x,'\\s+'), t -> t <> '')``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, r"\s+"), lambda t: t != "")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col)).cast("long")


def distinct_token_count(col: Column | str) -> Column:
    return F.size(F.array_distinct(tokens(col))).cast("long")


def bpe_token_count(col: Column | str) -> Column:
    """Token count under the BPE-ish regex (mirror:
    ``len(regexp_extract_all(x, ...))``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(BPE_TOKEN_RE)).cast("long")


def stopword_count(col: Column | str, words: list[str] | None = None) -> Column:
    ws = words if words is not None else STOPWORDS_EN
    arr = F.array(*[F.lit(w) for w in ws])
    return F.size(F.filter(tokens(col), lambda t: F.array_contains(arr, t))).cast(
        "long"
    )


def quality_score(col: Column | str) -> Column:
    """Deterministic [0,1] quality score: length saturation x stopword
    presence x mean-token-length sanity. A stand-in for the classic
    Gopher/C4-style filters, built to be SQL-mirrorable:

        0.5*least(1, n_tokens/50) + 0.3*least(1, 4*stop_ratio)
        + 0.2*(1 if 3 <= avg_token_len <= 10 else 0)
    rounded to 4dp as DuckDB's ``round`` does (``round_half``).
    """
    n_tok = token_count(col).cast("double")
    n_stop = stopword_count(col).cast("double")
    c = F.col(col) if isinstance(col, str) else col
    avg_len = (
        F.aggregate(
            tokens(c), F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
        ).cast("double")
        / n_tok
    )
    stop_ratio = n_stop / n_tok
    score = (
        F.lit(0.5) * F.least(F.lit(1.0), n_tok / F.lit(50.0))
        + F.lit(0.3) * F.least(F.lit(1.0), F.lit(4.0) * stop_ratio)
        + F.lit(0.2)
        * F.when((avg_len >= 3.0) & (avg_len <= 10.0), F.lit(1.0)).otherwise(F.lit(0.0))
    )
    return round_half(score, 4)


def _contains_any(arr: Column):
    # factory keeps the lambda unary: a 2-arg lambda would be treated by
    # F.filter as (element, index)
    return lambda t: F.array_contains(arr, t)


def langid(col: Column | str) -> Column:
    """Marker-word language ID: argmax of per-language marker hits with a
    fixed precedence order (en > de > fr > es), 'und' when no marker hits.
    Deterministic and exactly mirrorable in SQL."""
    toks = tokens(col)
    scores = {
        lang: F.size(F.filter(toks, _contains_any(F.array(*[F.lit(w) for w in ws]))))
        for lang, ws in LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    result = F.lit("und")
    for lang in reversed(list(LANG_MARKERS)):  # earlier langs win ties
        result = F.when(
            (scores[lang] == best) & (best > 0), F.lit(lang)
        ).otherwise(result)
    return result


def fingerprint(col: Column | str) -> Column:
    """Content fingerprint: sha256 hex (mirror: ``sha256(x)``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sha2(c, 256)


def word_ngrams(col: Column | str, n: int, distinct: bool = True) -> Column:
    """Word n-gram shingles, linear time; distinct by default (the
    dedup/LSH form), ``distinct=False`` keeps every occurrence in
    position order (the repetition-analysis form).

    Built as n-1 ``zip_with`` folds over shifted slices rather than
    per-position ``element_at`` indexing: a lambda that indexes the token
    array re-inlines the whole ``split`` expression at every position
    (O(tokens^2) per document -- measured 10x+ slower on the corpus).
    ``concat`` (not concat_ws) propagates nulls past the shorter slice,
    which the final filter drops. Rows with < n tokens yield an empty
    array (the slice length is clamped at 0: callers guard with a
    ``size(tokens) >= n`` filter, but whole-stage codegen's
    subexpression elimination can evaluate the projection inside the
    fused predicate stage BEFORE that filter -- an unclamped negative
    slice length crashes there on empty docs).
    """
    toks = tokens(col)
    acc = toks
    for k in range(1, n):
        shifted = F.slice(toks, k + 1, F.greatest(F.lit(0), F.size(toks) - k))
        acc = F.zip_with(
            acc, shifted, lambda x, y: F.concat(x, F.lit(" "), y)
        )
    filtered = F.filter(acc, lambda x: x.isNotNull())
    return F.array_distinct(filtered) if distinct else filtered


def token_hash32(tok: Column) -> Column:
    """Deterministic 32-bit token hash shared with the oracle: first 8
    hex chars of md5, parsed base-16. md5 hex is identical in Spark and
    DuckDB, so SimHash built on this is cross-engine checkable."""
    return F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long")


def token_chunks(col: Column | str, chunk_tokens: int = 128, stride: int = 64) -> Column:
    """Overlapping token-window chunks -- the split-for-context-window
    step of an embedding/training pipeline.

    Returns ``array<struct<idx int, text string, n_tokens int>>``: one
    struct per window start (0, stride, 2*stride, ... < n_tokens), each
    covering up to ``chunk_tokens`` tokens. Pure higher-order functions
    (sequence/transform/slice/array_join) -- exploding the result is one
    JVM-side projection per document, no shuffle, no UDF.
    """
    toks = tokens(col)
    n = F.size(toks)
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride))
    return F.transform(
        starts,
        lambda s: F.struct(
            (s / stride).cast("int").alias("idx"),
            F.array_join(F.slice(toks, s + 1, chunk_tokens), " ").alias("text"),
            F.size(F.slice(toks, s + 1, chunk_tokens)).alias("n_tokens"),
        ),
    )


def rolling_fingerprint(col: Column | str, base: int = 31, mod: int = 2147483647) -> Column:
    """Polynomial rolling-hash document fingerprint over whitespace
    tokens: ``h = (h*base + token_hash32(t)) % mod``, left to right.

    Order-sensitive (unlike the sha256 content hash it distinguishes
    token permutations cheaply) and streamable -- the classic
    Rabin-Karp-style fingerprint. Single aggregate pass, no shuffle.
    Mirror: DuckDB ``list_reduce`` with the same md5-derived token hash.
    """
    return F.aggregate(
        tokens(col),
        F.lit(0).cast("long"),
        lambda acc, t: (acc * base + token_hash32(t)) % F.lit(mod).cast("long"),
    )


def simhash64(col: Column | str) -> Column:
    """64-bit SimHash over whitespace tokens -- single-pass, shuffle-free.

    Classic simhash: per bit position i, sum +-1 over token hashes' bit
    i; final bit i = 1 iff the sum > 0, all in SQL higher-order
    functions, so the whole thing is one projection -- no explode, no
    shuffle, no UDF. The token hash is the first 16 hex chars of md5,
    assembled from two 32-bit halves -- ``shiftleft(hi, 32) + lo`` --
    because ``conv`` of 16 hex chars can exceed signed-long range; the
    two-halves form lands on
    the exact two's-complement bit pattern instead. Bit extraction
    ``(shiftright(h, i) & 1)`` is correct for all 64 positions (the
    trailing ``& 1`` masks off arithmetic-shift sign extension), and the
    final assembly's ``shiftleft(1L, 63)`` term is Long.MIN_VALUE, so the
    sum of disjoint-bit terms IS the signed 64-bit signature.

    The 64-bit width is what makes pigeonhole banding scale: 16-bit
    chunks give 65,536 buckets/band vs 256 at 32-bit, keeping the
    near-dup candidate join sub-quadratic on a corpus of billions
    (see operators/dedup.py:simhash_neardup_pairs). DuckDB oracle
    mirrors via two independent 32-bit half-signatures combined with an
    explicit two's-complement CASE (see __spark_entry__.py).
    """
    name = col if isinstance(col, str) else col._jc.toString()
    toks = f"filter(split({name}, '\\\\s+'), t -> t != '')"
    hashes = (
        f"transform({toks}, t -> "
        "shiftleft(cast(conv(substring(md5(t), 1, 8), 16, 10) as long), 32) "
        "+ cast(conv(substring(md5(t), 9, 8), 16, 10) as long))"
    )
    bit_counts = (
        f"aggregate({hashes}, array_repeat(0L, 64), "
        "(acc, h) -> zip_with(acc, "
        "transform(sequence(0, 63), i -> (shiftright(h, i) & 1) * 2 - 1), "
        "(a, b) -> a + cast(b as long)))"
    )
    final = (
        f"aggregate(zip_with({bit_counts}, sequence(0, 63), "
        "(cnt, i) -> if(cnt > 0, shiftleft(cast(1 as long), i), cast(0 as long))), "
        "cast(0 as long), (acc, x) -> acc + x)"
    )
    return F.expr(final)
