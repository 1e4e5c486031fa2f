"""Deduplication operators for document-scale corpora (SURVEY.md SS2.11).

Ladder, cheapest-first -- the strategy an LLM-data pipeline runs at
100TB:

1. ``exact_dedup``   -- sha256 content hash, one shuffle on the hash.
2. ``simhash`` (functions.text.simhash64) -- shuffle-free signature;
   grouping equal signatures finds aggressive near-dups.
3. ``shingle_jaccard_pairs`` -- exact n-gram Jaccard on candidate pairs
   generated by a shingle equi-join (selective: only docs sharing a full
   n-gram shingle ever meet).
4. ``minhash_lsh_pairs`` -- pyspark.ml MinHashLSH banding for the scale
   path (seeded; rows-only correctness check -- hash family is not
   SQL-mirrorable).
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import fingerprint, tokens, word_ngrams


def _min_accepted_decimal(threshold: float) -> int:
    """Smallest 4-digit decimal numerator ``r`` whose double value
    ``r / 10^4`` satisfies the engine's acceptance comparison
    ``>= threshold`` (the exact double the filter compares against).

    The prefix-filter accept rule is ``round(ratio, 4) >= t``, NOT
    ``ratio >= t``: rounding admits ratios up to half a decimal
    quantum BELOW t (e.g. 13999/20000 = 0.69995 rounds to 0.7000 and
    passes t=0.7). An alpha derived from the un-rounded rule
    (``ceil(t*m)``) would prune such a pair out of the candidate set
    while the verify filter -- and the raw-join oracle -- admit it,
    silently breaking the recall-1.0 guarantee for documents with
    >= ~20k shingles. ``float(Fraction(r, 10**4))`` is the correctly
    rounded double of the exact decimal, so this comparison is
    bit-faithful to what the engine evaluates.
    """
    r = max(0, int(threshold * 10_000) - 2)
    while float(Fraction(r, 10_000)) < threshold:
        r += 1
    return r


def _rounded_prefix_alpha_expr(threshold: float) -> F.Column:
    """The minimum overlap the ROUNDED acceptance rule can admit for a
    document of ``m = n_shingles`` shingles, as an in-plan expression
    (BIGINT-widened so m * c never overflows), in exact integer
    arithmetic.

    ``round(k/m, 4) >= t``  (exact rationals, HALF_UP)
      <=>  floor((20000k + m) / 2m) >= r0        [r0 = min accepted
                                                  4-digit decimal]
      <=>  k >= m * (2*r0 - 1) / 20000,
    so the exact-rational boundary is ``ceil(m*(2*r0-1)/20000)``. The
    engine rounds the DOUBLE nearest k/m (and compares shortest-repr
    decimals), which can flip acceptance only when k/m sits within
    ~1 ulp of a decimal half-boundary -- moving k by 1 moves k/m by
    1/m >> ulp, so the double-regime boundary is within ONE unit of
    the rational one. The alpha therefore subtracts a 1-shingle
    cushion (clamped to >= 1): one extra prefix token per document
    buys completeness under every rounding regime."""
    c = 2 * _min_accepted_decimal(threshold) - 1
    return F.expr(
        f"greatest(1, ((CAST(n_shingles AS BIGINT) * {c} + 19999) "
        f"div 20000) - 1)"
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per identical content (deterministic --
    same discipline as the dim build, SURVEY.md SS2.5 A2).

    Output: one row per distinct content with its ``fingerprint`` and
    ``n_dups`` (how many rows shared it). The group-by shuffles 32-byte
    hashes + ids, never the documents themselves.
    """
    hashed = df.select(
        F.col(id_col), fingerprint(text_col).alias("fingerprint")
    )
    w = Window.partitionBy("fingerprint").orderBy(id_col)
    return (
        hashed.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_dups", F.count("*").over(Window.partitionBy("fingerprint")).cast("long")
        )
        .where(F.col("rn") == 1)
        .select(id_col, "fingerprint", "n_dups")
    )


def incremental_exact_dedup(
    batch: DataFrame,
    stored_index: DataFrame,
    hash_col: str = "content_hash",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup a new batch against a STORED corpus hash index -- the
    production cadence of ``exact_dedup`` (old always wins; shipped
    corpus docs can't be retracted).

    ``batch`` carries (id, hash); ``stored_index`` carries the hash
    column only. A batch row survives iff it is the min-id holder of
    its hash WITHIN the batch (deterministic) and the hash is absent
    from the index. Idempotent by construction: merge the survivors'
    hashes into the index and a replayed batch keeps nothing --
    pytest-pinned via this shared function
    (``tests/test_round5_queries.py``), which is also exactly what
    ``queries.q_dedup_incremental`` runs.

    Scale: the in-batch winner window and the anti-join move
    hashes+ids only; bucketing the stored index by hash makes its
    anti-join side shuffle-free.
    """
    w = Window.partitionBy(hash_col).orderBy(id_col)
    first_in_batch = (
        batch.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    return first_in_batch.join(stored_index, on=hash_col, how="left_anti")


def shingle_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact word-``n``-gram Jaccard similarity over candidate pairs.

    Candidate generation is an equi-join on full shingles (a pair is
    considered only if it shares >=1 shingle) -- the exact-verification
    stage that follows MinHash/LSH in a production near-dup pipeline.
    Jaccard is computed from shared-shingle counts:
    ``|A & B| / (|A| + |B| - |A & B|)``, so no per-pair set
    materialization. Output: (doc_a, doc_b, jaccard) with doc_a < doc_b.

    The exploded shingle frame is persisted: it feeds both sides of the
    self-join and (via a count) the per-doc sizes, and the shingling
    pass (tokenize + n-1 zip_with folds) dominates the scan cost --
    unpersisted, the plan re-shingles the corpus three times.
    """
    shingled = df.where(F.size(tokens(text_col)) >= n).select(
        F.col(id_col).alias("_id"),
        word_ngrams(text_col, n).alias("shingles"),
    )
    exploded = shingled.select(
        "_id", F.explode("shingles").alias("shingle")
    ).persist()
    # shingles are distinct per doc, so size = exploded count per id
    sizes = exploded.groupBy("_id").agg(
        F.count("*").cast("int").alias("n_shingles")
    )
    a, b = exploded.alias("a"), exploded.alias("b")
    shared = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a._id") < F.col("b._id")))
        .groupBy(F.col("a._id").alias("doc_a"), F.col("b._id").alias("doc_b"))
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col("_id").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("_id").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("size_a") + F.col("size_b") - F.col("n_shared")),
                4,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """``shingle_jaccard_pairs`` with PPJoin-style PREFIX FILTERING:
    identical output contract (exact Jaccard >= threshold, doc_a <
    doc_b), provably-complete candidate pruning (Chaudhuri/Bayardo/
    Xiao): under ANY global token order, J(x,y) >= t implies the
    (|x| - ceil(t*|x|) + 1)-prefixes of x and y intersect -- so
    joining only prefixes loses NO true pair, and recall is exactly
    1.0 by theorem, not tuning. Strict-parity shares the full-join
    oracle for this reason.

    Why it matters at 100 TB: the full shared-shingle self-join fans
    out quadratically in document frequency on EVERY shingle; the
    prefix join touches only each doc's (1-t) rarest shingles
    (global order = ascending document frequency, rarest-first, the
    order that prunes hardest), shrinking both the exchange and the
    join fan-out by ~t of the corpus volume before a single pair
    forms. Exact verification then runs ONLY on surviving candidate
    pairs: explode doc_a's full shingle set per candidate and
    hash-join against doc_b's -- linear in (candidates x avg doc
    size), never corpus-quadratic.

    Measured honestly: on the synthetic corpus at sf0.1 this path is
    ~2.4x SLOWER than the full join (4.7s vs 2.0s) -- the generator's
    shingle DF is ~1 outside the planted near-dups, so the full
    candidate set is already tiny and the df-join + prefix window +
    pair-verify stages are pure overhead. The candidate-set pruning
    is still real (tests measure pref_cand < full_cand); the wall-
    clock win needs what natural-language corpora have and this
    generator lacks: hot shingles with DF in the thousands, where the
    full join's DF^2 fan-out dominates everything.

    The prefix length derives from the ROUNDED acceptance rule via
    :func:`_rounded_prefix_alpha_expr` (the accept filter is
    ``round(J, 4) >= t``, which admits Jaccard values half a decimal
    quantum below t on large documents), so any binary-double
    threshold is safe; the default matches ``shingle_jaccard_pairs``.
    """
    shingled = df.where(F.size(tokens(text_col)) >= n).select(
        F.col(id_col).alias("_id"),
        word_ngrams(text_col, n).alias("shingles"),
    )
    exploded = shingled.select(
        "_id", F.explode("shingles").alias("shingle")
    ).persist()
    sizes = exploded.groupBy("_id").agg(
        F.count("*").cast("int").alias("n_shingles")
    )
    dfreq = exploded.groupBy("shingle").agg(F.count("*").alias("_df"))
    w = Window.partitionBy("_id").orderBy("_df", "shingle")
    prefix = (
        exploded.join(dfreq, "shingle")
        .withColumn("_rn", F.row_number().over(w))
        .join(sizes, "_id")
        .where(
            F.col("_rn")
            <= F.col("n_shingles")
            - _rounded_prefix_alpha_expr(threshold)
            + 1
        )
        .select("_id", "shingle")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("doc_a"), F.col("b._id").alias("doc_b"))
        .distinct()
    )
    # exact verify on candidates only: doc_a's full shingle set meets
    # doc_b's through a hash join keyed (doc, shingle)
    ea = exploded.select(F.col("_id").alias("doc_a"), "shingle")
    eb = exploded.select(F.col("_id").alias("doc_b"), "shingle")
    shared = (
        cand.join(ea, "doc_a")
        .join(eb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col("_id").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("_id").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("size_a") + F.col("size_b") - F.col("n_shared")),
                4,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _containment_finish(
    shared_lt: DataFrame, sizes: DataFrame, t: float
) -> DataFrame:
    """Shared tail of both containment routes: symmetrize the
    lower-triangle shared counts, join the contained side's size, and
    apply the rounded acceptance rule. Both routes produce the same
    ``(doc_a < doc_b, n_shared)`` frame, so the output contract is
    route-independent by construction.

    Symmetrize via a 2-way EXPLODE, not unionByName of a swapped
    select (r15, guide §1.2/§2.4): ``shared_lt`` is an unmaterialized
    plan ending in the candidate join + pair aggregate -- the union's
    two branches each re-executed that whole subtree (two
    BroadcastHashJoins + two pair-count exchanges in the plan; the
    candidate join is exactly the stage that fans out quadratically in
    shingle DF). The explode emits both orientations from ONE
    execution; the row multiset is identical."""
    shared = shared_lt.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("doc_a"),
                    F.col("doc_b").alias("doc_b"),
                    F.col("n_shared").alias("n_shared"),
                ),
                F.struct(
                    F.col("doc_b").alias("doc_a"),
                    F.col("doc_a").alias("doc_b"),
                    F.col("n_shared").alias("n_shared"),
                ),
            )
        ).alias("_p")
    ).select("_p.doc_a", "_p.doc_b", "_p.n_shared")
    sa = sizes.select(
        F.col("_id").alias("doc_a"), F.col("n_shingles").alias("size_a")
    )
    return (
        shared.join(sa, "doc_a")
        .withColumn(
            "containment",
            F.round(F.col("n_shared").cast("double") / F.col("size_a"), 4),
        )
        .where(F.col("containment") >= t)
        .select("doc_a", "doc_b", "containment")
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold_num: int = 4,
    threshold_den: int = 5,
    max_df_raw_route: int = 32,
) -> DataFrame:
    """DF-aware containment router (r10): pick the candidate plan from
    the corpus's measured hot-shingle mass, keeping the output contract
    (and therefore the oracle) identical on both routes.

    The raw shared-shingle self-join fans out ``df^2`` per shingle --
    quadratic exactly when a shingle is hot -- but on a benign corpus
    (max DF small) it is ONE join + ONE aggregate and beats the
    PPJoin+ prefix route, whose document-frequency join and per-doc
    rarest-first prefix window are pure overhead when there is no hot
    shingle to defuse (measured: the r8 prefix routing cost ~2x on
    this generator's DF~=1 corpus -- the r9 VERDICT's one weak row).

    So route on the one scalar that decides which regime we are in:
    ``max(document frequency)`` over the shingle inventory -- the same
    aggregate ``shingle_df_profile`` exposes, computed from the
    persisted exploded frame (one map-side-combined agg + a 1-row
    collect; the adaptive-planning idiom, like AQE's runtime join
    pick, applied one level above Catalyst). Below the threshold the
    worst shingle contributes at most ``threshold^2/2`` candidate
    rows, linear in corpus size; above it the prefix filter's
    guarantee (hot shingles rank last in every rarest-first prefix,
    so DF_pref ~= 0 exactly where DF explodes) is worth its joins.
    Both routes are lossless -- the raw join by definition, the
    prefix filter by the Xiao et al. overlap theorem -- so
    strict-parity against the raw-join oracle proves the router on
    whichever path it takes.
    """
    exploded, sizes = _containment_shingles(df, text_col, id_col, n)
    dfreq = exploded.groupBy("shingle").agg(F.count("*").alias("_df"))
    row = dfreq.agg(F.max("_df").alias("mx")).first()  # 1-row scalar gate
    t = threshold_num / threshold_den
    if _containment_route(row.mx or 0, max_df_raw_route) == "raw":
        shared_lt = (
            exploded.alias("a")
            .join(
                exploded.alias("b"),
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a._id") < F.col("b._id")),
            )
            .groupBy(
                F.col("a._id").alias("doc_a"), F.col("b._id").alias("doc_b")
            )
            .agg(F.count("*").alias("n_shared"))
        )
        return _containment_finish(shared_lt, sizes, t)
    return _prefix_containment_from_shingles(
        exploded, sizes, threshold_num, threshold_den
    )


def _containment_route(max_df: int, max_df_raw_route: int) -> str:
    """The router's whole decision, factored out so tests can pin
    which corpus takes which route without instrumenting Spark plans:
    'raw' when the hottest shingle is benign, 'prefix' when any
    shingle is hot enough that the raw self-join's ``df^2`` fan-out
    dominates the prefix filter's extra joins."""
    return "raw" if max_df <= max_df_raw_route else "prefix"


def _containment_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> tuple[DataFrame, DataFrame]:
    """(exploded persisted (doc, shingle) frame, per-doc size frame)
    shared by every containment route -- the shingling scan is the
    dominant cost and runs once."""
    shingled = df.where(F.size(tokens(text_col)) >= n).select(
        F.col(id_col).alias("_id"),
        word_ngrams(text_col, n).alias("shingles"),
    )
    exploded = shingled.select(
        "_id", F.explode("shingles").alias("shingle")
    ).persist()
    sizes = exploded.groupBy("_id").agg(
        F.count("*").cast("int").alias("n_shingles")
    )
    return exploded, sizes


def _prefix_containment_from_shingles(
    exploded: DataFrame,
    sizes: DataFrame,
    threshold_num: int,
    threshold_den: int,
) -> DataFrame:
    """PPJoin+ OVERLAP-threshold prefix route over a pre-shingled
    frame (Xiao et al. 2008's containment variant of the
    Chaudhuri/Bayardo prefix principle); see :func:`containment_pairs`
    for when this route wins.

    The theorem, per direction: containment A->B at threshold t needs
    overlap alpha(A); if |A n B| >= alpha then among A's first
    ``|A| - alpha + 1`` shingles under ANY global total order at least
    one is in B (otherwise the whole overlap would fit in A's last
    ``alpha - 1`` shingles). So joining A's PREFIX against B's FULL
    shingle set loses no true directed pair, and normalizing directed
    candidates to unordered pairs before the symmetric-overlap verify
    covers both orientations. Recall is 1.0 by construction.

    Under the rarest-first global order (ascending document frequency)
    a hot shingle is in almost nobody's prefix, so the join is
    prefix x full = DF_pref * DF instead of the raw self-join's DF^2.
    alpha is EXACT integer arithmetic from the ROUNDED acceptance rule
    (:func:`_rounded_prefix_alpha_expr`), never ``ceil(t * m)`` in
    doubles: 0.8*5 rounds up to 4.0000000000000002 and a float ceil
    would inflate alpha, shorten the prefix, and silently lose true
    pairs."""
    dfreq = exploded.groupBy("shingle").agg(F.count("*").alias("_df"))
    w = Window.partitionBy("_id").orderBy("_df", "shingle")
    alpha = _rounded_prefix_alpha_expr(threshold_num / threshold_den)
    prefix = (
        exploded.join(dfreq, "shingle")
        .withColumn("_rn", F.row_number().over(w))
        .join(sizes, "_id")
        .where(F.col("_rn") <= F.col("n_shingles") - alpha + 1)
        .select("_id", "shingle")
    )
    cand = (
        prefix.alias("a")
        .join(
            exploded.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a._id") != F.col("b._id")),
        )
        .select(
            F.least(F.col("a._id"), F.col("b._id")).alias("doc_a"),
            F.greatest(F.col("a._id"), F.col("b._id")).alias("doc_b"),
        )
        .distinct()
    )
    # symmetric overlap, verified once per unordered candidate pair
    ea = exploded.select(F.col("_id").alias("doc_a"), "shingle")
    eb = exploded.select(F.col("_id").alias("doc_b"), "shingle")
    shared_lt = (
        cand.join(ea, "doc_a")
        .join(eb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
    )
    return _containment_finish(shared_lt, sizes, threshold_num / threshold_den)


#: Pinned universal-hash permutations for the PORTABLE banded-MinHash
#: family: ``h_i(x) = (A_i * x + B_i) mod P`` with P = 2^31 - 1
#: (Mersenne prime). Derived once from the repo's md5 hex-fold idiom
#: (``A_i = fold("minhash-a-i") % 2^30 | 1``, ``B_i =
#: fold("minhash-b-i") % P``) and frozen as literals so the DuckDB
#: oracle can restate them verbatim. A_i < 2^30 and x < 2^32 keep
#: ``A_i * x + B_i`` under 2^63 -- exact BIGINT on both engines.
MINHASH_PERMS: tuple[tuple[int, int], ...] = (
    (257093419, 713984526),
    (557988187, 330252355),
    (166587455, 1290638759),
    (1002143927, 1219733215),
    (776980337, 1458115296),
    (823213523, 379243596),
    (734770035, 1779385637),
    (1034518267, 1822842404),
)

MINHASH_P = 2147483647


def minhash_banded_pairs_portable(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Banded MinHash LSH with exact-Jaccard verification, built ONLY
    from cross-engine arithmetic (r12 verdict item #3: the rows-only ->
    paired conversion playbook applied to the LSH hash family itself).

    Instead of ``xxhash64`` (JVM-only), it reduces each n-gram
    shingle to a BIGINT via the portable md5 hex-fold (first 8 hex
    digits -- the ``dataset_split`` / winnowing idiom) and drives the
    signature with the classic universal family ``(A*x + B) mod P``
    under the PINNED ``MINHASH_PERMS`` constants, so a DuckDB oracle
    reproduces every signature, band bucket, candidate pair, and
    verified Jaccard integer-for-integer. Banding semantics are
    unchanged: b bands of r signature rows AND-ed into one band key,
    so a pair at true (hashed-shingle) Jaccard j collides in >= 1 band
    with p = 1 - (1 - j^r)^b; candidates then pass exact
    ``array_intersect`` Jaccard on the hashed-shingle sets, so the
    family choice affects RECALL only, never precision. 32-bit
    fold collisions merely merge shingles, identically on both
    engines.

    Scale shape is the production operator's: the corpus is reduced
    once to distinct shingle hashes (persisted -- signature + both
    verify sides consume it; lifetime per the harness clearCache
    contract), everything downstream shuffles narrow (band, lo, hi)
    tuples or long arrays, the band join is a scalar equi-join, and
    verification touches candidate pairs only -- never all pairs.
    Band keys join as (band, sig-row...) STRUCT columns rather than a
    folded scalar hash so the oracle needs no string-format contract.
    """
    toks = tokens(text_col)
    sh = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        )
    )
    fold = lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long")  # noqa: E731
    shingled = (
        df.where(F.size(toks) >= n)
        .select(
            F.col(id_col).alias("_id"),
            F.array_distinct(F.transform(sh, fold)).alias("hs"),
        )
        .persist()
    )
    perms = MINHASH_PERMS[: bands * rows_per_band]

    def _perm(a: int, b: int):
        # closure factory: a 1-arg lambda per permutation (defaulted
        # kwargs would read as a 3-arg HOF lambda to the analyzer)
        return lambda x: (F.lit(a).cast("long") * x + F.lit(b)) % F.lit(
            MINHASH_P
        )

    sig = shingled.select(
        "_id",
        *[
            F.array_min(F.transform(F.col("hs"), _perm(a, b))).alias(f"s{i}")
            for i, (a, b) in enumerate(perms)
        ],
    )
    banded = sig.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).cast("int").alias("band"),
                        *[
                            F.col(f"s{bi * rows_per_band + r}").alias(f"k{r}")
                            for r in range(rows_per_band)
                        ],
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("_id", "bk.*")
    keys = ["band"] + [f"k{r}" for r in range(rows_per_band)]
    a, b = banded.alias("a"), banded.alias("b")
    candidates = (
        a.join(
            b,
            [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
            + [F.col("a._id") < F.col("b._id")],
        )
        .select(F.col("a._id").alias("doc_a"), F.col("b._id").alias("doc_b"))
        .distinct()
    )
    sh_a = shingled.select(F.col("_id").alias("doc_a"), F.col("hs").alias("hs_a"))
    sh_b = shingled.select(F.col("_id").alias("doc_b"), F.col("hs").alias("hs_b"))
    return (
        candidates.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("hs_a", "hs_b")).cast("double")
                / F.size(F.array_union("hs_a", "hs_b")),
                4,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def hamming_neardup_pairs(
    sigs: DataFrame,
    id_col: str = "_id",
    sig_col: str = "sig",
    max_hamming: int = 3,
    n_chunks: int = 4,
) -> DataFrame:
    """Near-dup pairs over ANY 64-bit signature column via pigeonhole
    banding: split the signature into ``n_chunks`` equal chunks and
    equi-join on (chunk_idx, chunk_value). Any pair within
    ``max_hamming <= n_chunks - 1`` bit flips must agree on at least
    one whole chunk, so recall is exactly 1.0 -- not probabilistic.
    Verification is ``bit_count(xor)`` on candidates only. Shared by
    the text SimHash path and the image perceptual-hash path; see
    ``simhash_neardup_pairs`` for the bucket-volume scale argument.
    Returns (doc_a, doc_b, hamming) with doc_a < doc_b.
    """
    base = sigs.select(F.col(id_col).alias("_id"), F.col(sig_col).alias("sig"))
    width = 64 // n_chunks
    mask = (1 << width) - 1
    chunk_structs = [
        F.struct(
            F.lit(i).alias("idx"),
            F.shiftright(F.col("sig"), i * width).bitwiseAND(F.lit(mask)).alias("val"),
        )
        for i in range(n_chunks)
    ]
    chunks = base.select(
        "_id", "sig", F.explode(F.array(*chunk_structs)).alias("chunk")
    ).select(
        "_id", "sig", F.col("chunk.idx").alias("cidx"), F.col("chunk.val").alias("cval")
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.cidx") == F.col("b.cidx"))
            & (F.col("a.cval") == F.col("b.cval"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("doc_a"),
            F.col("b._id").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("int"),
        )
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_chunks: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs with EXACT recall via pigeonhole banding.

    Candidate generation: split the 64-bit simhash into ``n_chunks``
    16-bit chunks and equi-join on (chunk_idx, chunk_value). By the
    pigeonhole principle, any pair within ``max_hamming <= n_chunks - 1``
    bit flips must agree on at least one whole chunk -- so unlike
    MinHash banding this LSH has recall exactly 1.0, not probabilistic.
    Verification: ``bit_count(xor)`` on candidates. Deterministic end to
    end (simhash is md5-derived, no seeds), hence fully SQL-oracle-able;
    the oracle brute-forces all pairs and must agree exactly.

    The 64-bit signature is the scale story: 16-bit chunks mean 65,536
    buckets per band, so per-band candidate volume is ~n^2/65536 under a
    uniform hash -- sub-quadratic in practice up to billions of docs --
    vs only 256 buckets (n^2/256) with a 32-bit signature's 8-bit
    chunks. Each side of the candidate join carries (id, chunk key,
    signature) -- ~24 bytes/row/chunk; document text never shuffles.
    Banding + verify live in ``hamming_neardup_pairs`` (shared with the
    image perceptual-hash path).
    """
    from ..functions.text import simhash64

    sigs = df.select(F.col(id_col).alias("_id"), simhash64(text_col).alias("sig"))
    return hamming_neardup_pairs(
        sigs, max_hamming=max_hamming, n_chunks=n_chunks
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    jaccard_threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """MinHash+LSH near-dup candidates via pyspark.ml (shingle ->
    HashingTF binary vectors -> MinHashLSH.approxSimilarityJoin).

    The banded hash family makes this sub-quadratic at corpus scale;
    seeded for run-to-run determinism but not SQL-mirrorable, so the
    harness records a rows-only check (SURVEY.md SS7.3.5). Output:
    (doc_a, doc_b, approx_jaccard = 1 - lsh_distance).

    ``num_hashes`` trades recall for candidate volume: OR-amplified
    tables mean every per-table collision is a candidate pair, so on
    high-vocabulary-overlap corpora more tables degrade toward the
    quadratic join. 8 tables keeps recall for >=0.5-Jaccard pairs while
    bounding candidates.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH, NGram, RegexTokenizer

    toked = RegexTokenizer(
        inputCol=text_col, outputCol="_toks", pattern=r"\s+"
    ).transform(df.select(id_col, text_col))
    grams = NGram(n=3, inputCol="_toks", outputCol="_grams").transform(toked)
    grams = grams.where(F.size("_grams") > 0)
    tf = HashingTF(
        inputCol="_grams", outputCol="_features", numFeatures=1 << 18, binary=True
    ).transform(grams)
    lsh = MinHashLSH(
        inputCol="_features", outputCol="_sig", numHashTables=num_hashes, seed=seed
    ).fit(tf)
    pairs = lsh.approxSimilarityJoin(
        tf, tf, 1.0 - jaccard_threshold, distCol="_dist"
    )
    return (
        pairs.where(F.col(f"datasetA.{id_col}") < F.col(f"datasetB.{id_col}"))
        .select(
            F.col(f"datasetA.{id_col}").alias("doc_a"),
            F.col(f"datasetB.{id_col}").alias("doc_b"),
            F.round(1.0 - F.col("_dist"), 4).alias("approx_jaccard"),
        )
    )


def contamination_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_shared: int = 2,
    max_shingle_df: int | None = None,
    hash_shingles: bool = False,
) -> DataFrame:
    """Benchmark-contamination scan: which corpus documents share at
    least ``min_shared`` distinct word-``n``-grams with a benchmark
    document -- the standard train/test overlap check run before an
    LLM training job ships a dataset.

    Same candidate discipline as ``shingle_jaccard_pairs``: a pair
    meets ONLY through a shared-shingle equi-join (never all-pairs),
    then one count aggregation. Output:
    (bench_doc, corpus_doc, n_shared). At production scale the
    benchmark side is millions of shingles vs the corpus' trillions,
    so the BENCHMARK side carries an explicit ``F.broadcast`` hint --
    the corpus side must never be the build side (a corpus-side
    broadcast is an OOM at real scale; pre-hint, Catalyst picked it at
    test scale because both sides fit).  If the benchmark outgrows the
    driver, drop the hint and the fallback shuffle carries
    (id, shingle) pairs only, never document text.

    ``hash_shingles=True`` is the production posture for the shuffle
    fallback: shingle strings are xxhash64-folded to longs immediately
    after the explode, so no string ever crosses an exchange -- an
    8-byte key vs a ~20-40 byte n-gram, and fixed-width shuffle keys.
    Collisions (~n^2 / 2^65) can only ADD a shared-shingle count, and
    the result is oracle-checked against the exact string semantics.

    ``max_shingle_df`` is the candidate-explosion guard: a shingle
    present in d corpus docs contributes d join rows PER benchmark doc
    containing it, so boilerplate shingles ("terms of service apply")
    dominate cost while carrying no signal. Capping corpus document
    frequency drops them before the join -- stop-shingle filtering, the
    shingle-space analogue of an IDF floor. With a cap, ``n_shared``
    counts RARE shared shingles only (a stricter, not weaker, signal);
    ``None`` keeps exact semantics for the SQL oracle.
    """

    def side(df: DataFrame, alias: str) -> DataFrame:
        out = df.where(F.size(tokens(text_col)) >= n).select(
            F.col(id_col).alias(alias),
            F.explode(word_ngrams(text_col, n)).alias("shingle"),
        )
        if hash_shingles:  # strings die here, before any exchange
            out = out.select(alias, F.xxhash64("shingle").alias("shingle"))
        return out

    corpus_ex = side(corpus, "corpus_doc")
    if max_shingle_df is not None:
        rare = (
            corpus_ex.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") <= max_shingle_df)
            .select("shingle")
        )
        corpus_ex = corpus_ex.join(rare, "shingle")
    return (
        F.broadcast(side(benchmark, "bench_doc"))
        .join(corpus_ex, "shingle")
        .groupBy("bench_doc", "corpus_doc")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def edit1_neighbor_pairs(
    df: DataFrame, str_col: str = "name"
) -> DataFrame:
    """Unordered pairs of DISTINCT strings at Levenshtein distance
    <= 1 via the FastSS deletion neighborhood (Bocek et al. 2007,
    public recipe): each string generates its 1-deletion variants PLUS
    itself; two strings within edit distance 1 provably share a
    variant (substitution at i -> both delete i; insertion -> the
    shorter string IS the longer one's deletion at the inserted
    position), so an equi-join on the variant loses no true pair, and
    an exact ``levenshtein`` check verifies survivors (sharing a
    variant only bounds the distance by 2 -- 'ab'/'ba' both delete to
    'a'). Output: ``(name_a, name_b, dist)`` with name_a < name_b.

    Why it matters at 100 TB: the naive spelling is an all-pairs
    levenshtein -- quadratic in the dictionary. Here each string emits
    len+1 variants, the join is an equi-join on those variants (a
    variant's bucket holds only the strings one edit apart from each
    other's shapes), and the quadratic work collapses to
    per-bucket x bucket-size -- the same block-then-verify discipline
    as every other rung of the dedup ladder.
    """
    names = df.select(F.col(str_col).alias("_s")).where(
        F.col("_s").isNotNull()
    ).distinct()
    # (variant, deletion position) pairs: pos 0 is the string itself,
    # pos i >= 1 deletes character i. POSITION-AWARE candidate
    # generation (the full FastSS recipe): a substitution pair shares
    # the variant deleted at the SAME position, and an insert/delete
    # pair matches the shorter string's IDENTITY against one of the
    # longer's deletions -- so joining (v, pos)-to-(v, pos) plus
    # identity-to-deletion on v alone keeps every true pair while
    # splitting the hot deletion buckets by position (a serial-number
    # dictionary shares variants across MANY different-position
    # deletions; those are exactly the distance-2 shapes the
    # position filter drops before levenshtein ever runs -- measured
    # 956k -> 262k candidates on the 15k-name sf0.1 customer
    # dictionary, and the sf0.1 query 4.4s -> 2.8s).
    # No in-row dedup: every (pos, v) struct is unique by pos, so the
    # pre-r10 array_distinct here was a no-op over structs (run
    # deletions at different positions ARE distinct candidates under
    # the position split; the downstream .distinct() and the exact
    # levenshtein verify absorb any cross-row repeats). The join key
    # is the variant's xxhash64 so exchanges carry 8-byte keys -- a
    # collision only ADDS a candidate, and the exact levenshtein
    # verify kills it, so completeness is untouched.
    variants = names.select(
        "_s",
        F.explode(
            F.concat(
                F.array(F.struct(F.lit(0).alias("pos"), F.col("_s").alias("v"))),
                F.transform(
                    F.sequence(F.lit(1), F.length("_s")),
                    lambda i: F.struct(
                        i.cast("int").alias("pos"),
                        F.concat(
                            F.col("_s").substr(F.lit(1), i - 1),
                            F.col("_s").substr(i + 1, F.length("_s")),
                        ).alias("v"),
                    ),
                ),
            )
        ).alias("_pv"),
    ).select(
        "_s",
        F.col("_pv.pos").alias("_p"),
        F.xxhash64(F.col("_pv.v")).alias("_v"),
    ).persist()
    # persisted: FOUR consumers below (both sides of the same-position
    # join, the identity side, the deletion side) would otherwise each
    # re-run the distinct + len+1-way explode + hash over the source --
    # 12 scans of the dictionary in the unpersisted plan
    a = variants.select(F.col("_s").alias("name_a"), "_p", "_v")
    b = variants.select(F.col("_s").alias("name_b"), "_p", "_v")
    same_pos = a.join(b, ["_v", "_p"]).select("name_a", "name_b")
    ident = variants.where(F.col("_p") == 0).select(
        F.col("_s").alias("name_a"), "_v"
    )
    dels = variants.where(F.col("_p") > 0).select(
        F.col("_s").alias("name_b"), "_v"
    )
    cross_len = ident.join(dels, "_v").select("name_a", "name_b")
    cand = same_pos.unionAll(cross_len).unionAll(
        cross_len.select(
            F.col("name_b").alias("name_a"), F.col("name_a").alias("name_b")
        )
    )
    return (
        cand.where(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
        .distinct()
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .where(F.col("dist") <= 1)
    )


def winnow_fingerprints(
    df: DataFrame,
    k: int = 4,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 -- the MOSS algorithm, public recipe): hash every
    k-token gram, slide a w-gram window, and keep the window MINIMUM
    (leftmost on ties); deduplicating selections across overlapping
    windows yields a fingerprint set ~2/(w+1) the gram count that
    still carries the paper's guarantee -- any shared token run of
    length >= t = k + w - 1 between two documents produces at least
    one shared fingerprint. This is the contamination / plagiarism /
    near-dup primitive between exact hashing (too brittle) and full
    shingle Jaccard (too heavy): constant-factor-sparse, positionally
    attributable, and join-matchable.

    Engineering: everything stays inside ONE projection of array HOFs
    (sequence -> slice -> array_min / array_position) over the token
    array -- no explode until the final fingerprint set, no join, no
    Python. The gram hash is the portable md5 hex-fold (first 8 hex
    digits as a BIGINT), the same idiom as ``dataset_split``, so a SQL
    oracle reproduces every selection integer-for-integer; leftmost
    tie-break is ``array_position`` of the window minimum (first
    match), mirrored by DuckDB ``list_position``. Documents shorter
    than t tokens have no complete window and emit nothing (the
    guarantee threshold IS the admission threshold). Hash collisions
    merely merge fingerprints -- winnowing's semantics tolerate them
    by construction, and both engines collide identically.

    Returns ``(id_col, pos, fp)``: 1-based gram position of each
    selected fingerprint and its hash. At 100 TB this is a linear
    narrow map -- the downstream match join (see
    ``q_fingerprint_matches``) is where the scale discipline lives.
    """
    t = k + w - 1
    d = df.select(
        F.col(id_col), tokens(text_col).alias("_t")
    ).where(F.size("_t") >= t)
    d = d.withColumn(
        "_h",
        F.transform(
            F.transform(
                F.sequence(F.lit(1), F.size("_t") - (k - 1)),
                lambda i: F.array_join(F.slice(F.col("_t"), i, k), " "),
            ),
            lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast(
                "long"
            ),
        ),
    )
    sel = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("_h") - (w - 1)),
            lambda j: j
            - 1
            + F.array_position(
                F.slice(F.col("_h"), j, w),
                F.array_min(F.slice(F.col("_h"), j, w)),
            ),
        )
    )
    return d.select(
        F.col(id_col), "_h", F.explode(sel).alias("pos")
    ).select(
        id_col,
        F.col("pos").cast("long").alias("pos"),
        F.element_at("_h", F.col("pos").cast("int")).alias("fp"),
    )
