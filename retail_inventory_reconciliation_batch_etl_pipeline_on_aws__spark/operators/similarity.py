"""Similarity search over embedding columns (SURVEY.md SS2.11).

- ``brute_force_topk``: exact cosine top-k. One scan + TakeOrderedAndProject
  (sort+limit never materializes a global sort). The correctness baseline.
- ``pinned_rp_ann_topk``: sign-random-projection approximate variant --
  the 100TB path: projection bucketing turns the scan into a
  bucket-pruned candidate join, under a pinned (oracle-mirrorable)
  projection.
- ``cosine_pairs``: exact all-pairs cosine near-dup (the embedding twin
  of shingle_jaccard_pairs); ``rp_neardup_pairs_pinned`` is its
  projection-bucketed scale path.
- ``ivf_topk_pinned``: inverted-file ANN -- cluster-pruned probe under
  a pinned coarse quantizer. ``build_pq_index`` trains the quantizer
  with deterministic Lloyd steps; only the tiny centroid table
  (nlist x dim) ever reaches the driver, vectors stay distributed.
"""

from __future__ import annotations

import math

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import as_double_array, cosine


def write_index_marker(spark, path: str, tag: str) -> None:
    """Write a tiny completion-marker file at ``{path}/_INDEX_COMPLETE``
    through the Hadoop FileSystem API, so the marker works on ANY path
    scheme the index artifacts themselves were written to (file:,
    hdfs://, s3a://...). Overwrites an existing marker (idempotent
    rebuild)."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(f"{path}/_INDEX_COMPLETE")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(p, True)
    try:
        out.write(bytearray(f"{tag}\n", "utf-8"))
    finally:
        out.close()


def index_marker_exists(spark, path: str) -> bool:
    """True iff the completion marker is present -- the rebuild-skip
    check, scheme-agnostic like the writer."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(f"{path}/_INDEX_COMPLETE")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(p))


def brute_force_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine similarity against a literal query vector.

    Scores rounded to 4dp before ranking (ties broken by id) so results
    are stable across engines and partitionings.

    The query-vector norm is a CONSTANT, but Catalyst does not
    constant-fold higher-order aggregates, so an in-plan
    ``l2_norm(query)`` would re-reduce the d-element literal on every
    row (~1/3 of the per-row HOF work). Precompute it in Python with
    the same left-to-right double accumulation the in-plan HOF uses --
    bit-identical, so scores cannot move even at a 4dp rounding edge.
    """
    from math import sqrt

    from ..functions.vectors import dot, l2_norm

    q = F.array(*[F.lit(float(x)) for x in query_vec])
    acc = 0.0
    for x in query_vec:  # plain sequential sum == the HOF's fold order
        acc = acc + float(x) * float(x)
    q_norm = sqrt(acc)
    v = as_double_array(vec_col)
    scored = embeddings.select(
        F.col(id_col),
        F.round(dot(v, as_double_array(q)) / (l2_norm(v) * F.lit(q_norm)), 4).alias(
            "score"
        ),
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def pinned_rp_ann_topk(
    embeddings: DataFrame,
    k: int = 10,
    n_tables: int = 4,
    n_planes: int = 4,
    dims: int = 64,
    query_id: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-random-projection (SimHash-for-angles) ANN cosine top-k
    under a PINNED projection matrix (r12 verdict item #3: the
    ``pq_adc_topk`` pinned-parameter playbook applied to the RP rung;
    pyspark.ml's BucketedRandomProjectionLSH is not SQL-mirrorable,
    because its projections come from the JVM RNG).

    The projection matrix is DERIVED, not stored: coefficient
    c(t, p, dim) = md5-fold('rp:t:p:dim') % 19 - 9, an integer in
    [-9, 9] computed identically by both engines from ``range()`` --
    O(tables*planes*dims) rows built once and broadcast, never O(n)
    hashing. Coordinates quantize at 1e-4 (exact BIGINTs, the
    ``kmeans_iteration`` discipline), each vector gets ``n_tables``
    sign-bit bucket codes (bit p of table t = [sum_dim c*q >= 0]),
    and candidates are vectors sharing the query's bucket in ANY
    table -- recall 1-(1-a^p)^t for per-plane agreement a = 1-theta/pi,
    the Goemans-Williamson identity. Candidates then re-rank by EXACT
    quantized cosine: BIGINT dot and norms, one sqrt/divide at the
    end evaluated identically on both engines (the ``int8_cosine_topk``
    precedent, same fixed-length input contract). Everything is an
    equi-join (the probe side joins on (table, bucket) -- multi-table
    union, never a Hamming theta-join), so no nested-loop anywhere.

    Scale shape: one posexplode of the corpus (persisted: signature
    pass + re-rank pass), a broadcast join against the
    tables*planes*dims projection frame with a map-side-combined sum,
    and a candidate-only re-rank -- the full-corpus work is linear
    narrow maps + combinable aggs; only candidate rows (~n/2^planes
    per table) reach the scoring join. Returns (vec_id, dot_q, score):
    exact BIGINT dot against the query plus the cosine rounded 6dp,
    ranked unrounded with vec_id tiebreak.
    """
    spark = embeddings.sparkSession
    ex = (
        embeddings.select(
            F.col(id_col), F.posexplode(vec_col).alias("pos", "vf")
        )
        .select(
            id_col,
            (F.col("pos") + 1).cast("long").alias("dim"),
            F.round(F.col("vf").cast("double") * 10000)
            .cast("long")
            .alias("q"),
        )
        .persist()
    )
    fold = lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")  # noqa: E731
    proj = spark.range(n_tables * n_planes * dims).select(
        (F.col("id") / (n_planes * dims)).cast("long").alias("t"),
        ((F.col("id") / dims).cast("long") % n_planes).alias("p"),
        (F.col("id") % dims + 1).alias("dim"),
        (
            fold(
                F.concat_ws(
                    ":",
                    F.lit("rp"),
                    (F.col("id") / (n_planes * dims)).cast("long"),
                    ((F.col("id") / dims).cast("long") % n_planes),
                    (F.col("id") % dims + 1),
                )
            )
            % 19
            - 9
        ).alias("c"),
    )
    sums = (
        ex.join(F.broadcast(proj), "dim")
        .groupBy(id_col, "t", "p")
        .agg(F.sum(F.col("c") * F.col("q")).alias("s"))
    )
    sigs = sums.groupBy(id_col, "t").agg(
        F.sum(
            F.when(F.col("s") >= 0, F.expr("shiftleft(1L, CAST(p AS INT))"))
            .otherwise(F.lit(0).cast("long"))
        ).alias("bucket")
    )
    probes = sigs.where(F.col(id_col) == query_id).select("t", "bucket")
    cand = (
        sigs.join(F.broadcast(probes), ["t", "bucket"])
        .select(id_col)
        .distinct()
    )
    qd = ex.where(F.col(id_col) == query_id).select(
        "dim", F.col("q").alias("d")
    )
    scored = (
        ex.join(cand, id_col)
        .join(F.broadcast(qd), "dim")
        .groupBy(id_col)
        .agg(
            F.sum(F.col("q") * F.col("d")).cast("long").alias("dot_q"),
            F.sum(F.col("q") * F.col("q")).cast("long").alias("nq"),
            F.sum(F.col("d") * F.col("d")).cast("long").alias("nd"),
        )
    )
    raw = F.col("dot_q").cast("double") / F.sqrt(
        F.col("nq").cast("double") * F.col("nd").cast("double")
    )
    return (
        scored.withColumn("_raw", raw)
        .orderBy(F.col("_raw").desc(), id_col)
        .limit(k)
        .select(id_col, "dot_q", F.round("_raw", 6).alias("score"))
    )


def cosine_pairs(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding-cosine near-dup pairs: every (a < b) pair with
    ``round(cosine, 4) >= threshold``.

    This is a deliberate O(n^2) nested-loop join -- the exact ground
    truth / final-verification stage. The corpus-scale candidate
    generator is ``rp_neardup_pairs_pinned`` (same contract,
    projection-bucketed); running this exact verifier on bucketed
    candidates instead of all pairs is the production composition,
    mirroring ``minhash_banded_pairs_portable``.
    """
    e = embeddings.select(
        F.col(id_col).alias("_id"), as_double_array(vec_col).alias("_v")
    )
    a = e.select(F.col("_id").alias("vec_a"), F.col("_v").alias("va"))
    b = e.select(F.col("_id").alias("vec_b"), F.col("_v").alias("vb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(cosine(F.col("va"), F.col("vb")), 4).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def rp_neardup_pairs_pinned(
    embeddings: DataFrame,
    cos_threshold: float = 0.45,
    n_tables: int = 6,
    n_planes: int = 3,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup pairs via PINNED sign-random-projection
    bucketing + exact quantized-cosine verification (r12 verdict item
    #3: pyspark.ml's LSH is not SQL-mirrorable, because its
    projections come from the JVM RNG). Same projection-derivation idiom as
    ``pinned_rp_ann_topk`` (coefficients = md5-fold('nd:t:p:dim') %
    19 - 9 over ``range()``, computed identically by both engines)
    but tuned for the PAIR workload: 6 tables x 3 sign planes, so a
    true pair at angle theta collides in >= 1 table with
    1 - (1 - a^3)^6 for per-plane agreement a = 1 - theta/pi (~0.85
    at the 0.45-cosine threshold). Candidates sharing any (table,
    bucket) are verified by EXACT integer arithmetic -- BIGINT dots
    and norms of the 1e-4-quantized coordinates, one sqrt/divide at
    the end -- so bucketing affects recall only, never precision, and
    a DuckDB twin reproduces every candidate and score bit-for-bit.

    Scale shape: one cached explode for the signature pass, the
    1152-row projection frame broadcast, signature aggs map-side
    combinable, the bucket self-join a scalar equi-join, and
    verification touches candidate pairs only -- computed as
    whole-array integer HOF dots (zip_with + aggregate on the
    quantized arrays), never a dim-exploded pair join (64x the
    shuffle for the same integers).

    HONEST SELECTIVITY NOTE: at this LOW threshold (0.45 ~ 63 deg)
    on isotropic synthetic embeddings, 6x3 sign planes admit ~55% of
    all pairs as candidates -- the exact-verify makes that correct
    but not sub-quadratic. Sign-LSH selectivity is a function of the
    threshold angle: at a real near-dup bar (cos >= 0.9, per-plane
    agreement ~0.86) the same 3-plane tables collide true pairs at
    0.64/table while background pairs collapse, and at corpus scale
    ``n_planes`` must grow ~log(n) with ``n_tables`` compensating
    recall -- the standard LSH dial, exposed as parameters here."""
    # Signature pass as PER-ROW integer HOF dots against LITERAL
    # coefficient arrays (r15 optimization round, guide §2.4 "remove
    # shuffles outright"): the md5-derived projection is a pure
    # function of (t, p, dim) -- a 1,152-int query PARAMETER, not data
    # -- so it is derived driver-side (hashlib.md5 == Spark md5,
    # bit-identical ints) and inlined. The r14 shape posexploded every
    # vector (|N| x 64 rows), broadcast-joined the projection frame
    # (x18 fan-out: |N| x 1,152 rows) and re-aggregated through TWO
    # hash exchanges just to compute 18 dot products per vector; the
    # fold computes the same exact BIGINT sums inside the row -- zero
    # exchanges before the bucket self-join (plan: 3 Exchanges -> 1,
    # the candidate distinct). Same derivation string
    # ('nd:t:p:dim', dim 1-based), same % 19 - 9 range, same >= 0 sign
    # rule and bit packing -- signature integers are BIT-IDENTICAL, so
    # candidates, verification and output are unchanged. Assumes
    # fixed-width ``dims`` vectors (already this operator's contract).
    import hashlib

    def _fold(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    spark = embeddings.sparkSession
    n_proj = n_tables * n_planes
    # one broadcastable row per dimension, carrying ALL that
    # dimension's coefficients as an array indexed by t*n_planes + p
    cdim = spark.createDataFrame(
        [
            (
                d,
                [
                    _fold(f"nd:{t}:{p}:{d}") % 19 - 9
                    for t in range(n_tables)
                    for p in range(n_planes)
                ],
            )
            for d in range(1, dims + 1)
        ],
        "dim long, cs array<long>",
    )
    ex = embeddings.select(
        F.col(id_col), F.posexplode(vec_col).alias("pos", "vf")
    ).select(
        id_col,
        (F.col("pos") + 1).cast("long").alias("dim"),
        F.round(F.col("vf").cast("double") * 10000).cast("long").alias("q"),
    )
    # 18 codegen'd SUM aggregates over ONE |N| x dims exploded frame --
    # the r14 shape joined a (t, p, dim) projection frame instead,
    # fanning out to |N| x dims x 18 rows and re-aggregating through
    # TWO hash exchanges; this computes the same exact BIGINT sums
    # with an 18x narrower join and ONE exchange (guide §2.3/§2.4).
    # (Full HOF and giant-scalar-expression forms were both tried and
    # REVERTED: zip_with/aggregate folds are CodegenFallback --
    # interpreted per element, 2x slower end to end -- and a literal
    # 1,152-term expression tree falls out of whole-stage codegen
    # entirely, 8x slower.)
    sums = (
        ex.join(F.broadcast(cdim), "dim")
        .groupBy(id_col)
        .agg(
            *[
                F.sum(F.col("q") * F.col("cs").getItem(k)).alias(f"_s{k}")
                for k in range(n_proj)
            ]
        )
    )
    sig_structs = []
    for t in range(n_tables):
        bucket = F.lit(0).cast("long")
        for p in range(n_planes):
            bucket = bucket + F.when(
                F.col(f"_s{t * n_planes + p}") >= 0,
                F.lit(1 << p).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
        sig_structs.append(
            F.struct(
                F.lit(t).cast("long").alias("t"), bucket.alias("bucket")
            )
        )
    sigs = (
        sums.select(id_col, F.explode(F.array(*sig_structs)).alias("_tb"))
        .select(id_col, F.col("_tb.t").alias("t"), F.col("_tb.bucket").alias("bucket"))
    )
    # EXPANSION-STAGE PARALLELISM (r15, guide §2.5 spirit): the bucket
    # self-join fans 2 x |N| x tables signature rows out to ~|bucket|^2
    # candidate pairs, but its INPUT is a few hundred KB -- AQE's
    # byte-stat partition coalescing (correct for bytes, blind to
    # Generate/join fan-out) collapses the feeding exchanges to ~1
    # partition and the whole expand + verify chain ran single-threaded
    # (measured: the full query 17.8 s with coalescing on vs 4.2 s
    # off). Fix, scale-adaptively and only here: pin the expand input
    # to ``defaultParallelism`` partitions with an explicit
    # numPartitions repartition (REPARTITION_BY_NUM is exempt from AQE
    # coalescing by design), and BROADCAST the build side of the
    # self-join so the probe side's spread partitioning carries
    # through the expansion, the pair dedup (repartitioned on the pair
    # key, so the dedup aggregate and the verify run in that same
    # spread stage) and the dot computation.
    n_spread = embeddings.sparkSession.sparkContext.defaultParallelism
    a = sigs.repartition(n_spread, F.col(id_col)).alias("a")
    b = F.broadcast(sigs).alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("vec_a"),
            F.col(f"b.{id_col}").alias("vec_b"),
        )
        .repartition(n_spread, F.col("vec_a"), F.col("vec_b"))
        .dropDuplicates()
    )
    # verify via whole-array integer HOF dots, not a dim-exploded join
    # (the exploded form shuffles candidates x dims rows -- 64x blowup,
    # measured 8.1s at sf0.1): zip_with+aggregate computes the same
    # exact BIGINT dot inside one projection after two narrow
    # array-joins, identical output integers. (An explicit 64-term
    # element_at sum was tried and reverted: micro-benched 3.2 s vs
    # 0.54 s for the HOF fold on 1.1M materialized pairs -- per-call
    # bounds/null handling beats the fold only in giant-expression
    # pathologies; the single-threading fixed above was the real cost.)
    qarr = embeddings.select(
        F.col(id_col),
        F.transform(
            vec_col,
            lambda v: F.round(v.cast("double") * 10000).cast("long"),
        ).alias("qs"),
    ).select(
        id_col,
        "qs",
        F.aggregate(
            F.transform("qs", lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("n2"),
    )

    dots = (
        cand.join(
            F.broadcast(
                qarr.select(
                    F.col(id_col).alias("vec_a"),
                    F.col("qs").alias("qa"),
                    F.col("n2").alias("na"),
                )
            ),
            "vec_a",
        )
        .join(
            F.broadcast(
                qarr.select(
                    F.col(id_col).alias("vec_b"),
                    F.col("qs").alias("qb"),
                    F.col("n2").alias("nb"),
                )
            ),
            "vec_b",
        )
        .select(
            "vec_a",
            "vec_b",
            F.aggregate(
                F.zip_with("qa", "qb", lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("dot"),
            "na",
            "nb",
        )
    )
    cos = F.round(
        F.col("dot").cast("double")
        / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double")),
        4,
    )
    return (
        dots.withColumn("cos_sim", cos)
        .where(F.col("cos_sim") >= cos_threshold)
        .select("vec_a", "vec_b", "cos_sim")
        .orderBy("vec_a", "vec_b")
    )


def _ivf_cent_lit(cs):
    return F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in cs])


def _ivf_assign(df: DataFrame, cs: list) -> DataFrame:
    """argmin over squared euclidean vs a broadcast centroid literal;
    ties -> lowest cluster index (deterministic)."""
    dists = F.transform(
        _ivf_cent_lit(cs),
        lambda c: F.aggregate(
            F.zip_with(F.col("_v"), c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    return (
        df.withColumn("_dists", dists)
        .withColumn(
            "cluster", F.array_position(F.col("_dists"), F.array_min("_dists")) - 1
        )
        .drop("_dists")
    )


def _ivf_means(assigned: DataFrame) -> dict:
    """Per-cluster element-wise mean via posexplode/groupBy; only the
    nlist x dim table crosses the driver boundary."""
    means = (
        assigned.select("cluster", F.posexplode("_v").alias("pos", "x"))
        .groupBy("cluster", "pos")
        .agg(F.avg("x").alias("m"))
        .groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pairs"))
        .select(
            "cluster",
            F.transform(F.col("pairs"), lambda p: p.getField("m")).alias("c"),
        )
        .collect()
    )
    return {int(r.cluster): list(r.c) for r in means}


def ivf_topk_pinned(
    embeddings: DataFrame,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    query_id: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF serve path under a PINNED coarse quantizer, oracle-paired
    end to end -- the ``pq_adc_topk`` playbook applied to the
    inverted-file rung (r12 verdict item #3): IVF SERVING is pure
    arithmetic under a fixed centroid table, so the pairing needs no
    SQL Lloyd unroll; training quality stays pytest territory exactly
    as for PQ. The quantizer is the seed state of ``build_pq_index``'s
    Lloyd trainer (the ``nlist`` lowest-id vectors, iters=0).

    Every step is exact BIGINT arithmetic both engines reproduce
    bit-for-bit: coordinates quantize at 1e-4; ASSIGN = argmin of the
    integer squared distance to the 16 seed centroids (ties to the
    lowest centroid id -- the ``_pq_assign`` rule); PROBE = the
    ``nprobe`` centroids nearest the query by the same integer d2
    (ties to the lowest id); the scan re-ranks only vectors assigned
    to probed cells by exact integer d2 to the query. Returns
    (vec_id, cell, d2): the probed-cell membership AND the distance
    are both hash-checked.

    Scale shape: one cached explode of the corpus (assign + scan
    consume it); the centroid frame (nlist x dim rows) and the probe
    list broadcast; assign is one map-side-combinable agg + a
    WindowGroupLimit argmin; the re-rank join touches only probed-cell
    rows (~ nprobe/nlist of the corpus). No UDF, no driver loop."""
    from pyspark.sql import Window

    ex = (
        embeddings.select(
            F.col(id_col), F.posexplode(vec_col).alias("pos", "vf")
        )
        .select(
            id_col,
            (F.col("pos") + 1).cast("long").alias("dim"),
            F.round(F.col("vf").cast("double") * 10000)
            .cast("long")
            .alias("q"),
        )
        .persist()
    )
    cents = ex.where(F.col(id_col) < nlist).select(
        F.col(id_col).cast("long").alias("cell"),
        "dim",
        F.col("q").alias("c"),
    )
    diff = F.col("q") - F.col("c")
    d2 = (
        ex.join(F.broadcast(cents), "dim")
        .groupBy(id_col, "cell")
        .agg(F.sum(diff * diff).alias("_d2"))
    )
    w = Window.partitionBy(id_col).orderBy("_d2", "cell")
    assigned = (
        d2.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(id_col, "cell")
    )
    # probe selection: the query's OWN integer d2 to every centroid,
    # nprobe smallest (ties to lowest cell) -- a 16-row frame, never
    # a driver-side float loop
    qd = ex.where(F.col(id_col) == query_id).select(
        "dim", F.col("q").alias("d")
    )
    qdiff = F.col("d") - F.col("c")
    probes = (
        F.broadcast(cents)
        .join(F.broadcast(qd), "dim")
        .groupBy("cell")
        .agg(F.sum(qdiff * qdiff).alias("qd2"))
        .orderBy("qd2", "cell")
        .limit(nprobe)
        .select("cell")
    )
    cand = assigned.join(F.broadcast(probes), "cell")
    rdiff = F.col("q") - F.col("d")
    return (
        ex.join(cand, id_col)
        .join(F.broadcast(qd), "dim")
        .groupBy(id_col, "cell")
        .agg(F.sum(rdiff * rdiff).cast("long").alias("d2"))
        .orderBy("d2", id_col)
        .limit(k)
        .select(id_col, "cell", "d2")
    )


def _pq_subframe(e: DataFrame, m: int, sub: int) -> DataFrame:
    """Explode each vector into its ``m`` subvectors: (id, j, _v)."""
    pairs = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                F.slice("_v", j * sub + 1, sub).alias("sv"),
            )
            for j in range(m)
        ]
    )
    return (
        e.select("_id", F.explode(pairs).alias("p"))
        .select("_id", F.col("p.j").alias("j"), F.col("p.sv").alias("_v"))
    )


def _l2_normalized(e: DataFrame) -> DataFrame:
    """(_id, _v) with _v L2-normalized (zero vectors stay zero).
    Squared euclidean on the unit sphere is monotone in cosine
    (||a-b||^2 = 2 - 2cos), so quantizer training/ADC on normalized
    vectors tracks the cosine objective exact re-ranking scores."""
    norm = F.sqrt(
        F.aggregate(F.col("_v"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return e.select(
        "_id",
        F.transform(
            "_v", lambda x: F.when(norm > 0, x / norm).otherwise(F.lit(0.0))
        ).alias("_v"),
    )


def _pq_book_lit(books: dict, m: int):
    """The m x ksub x sub codebook as a nested array literal."""
    return F.array(
        *[
            F.array(
                *[F.array(*[F.lit(float(x)) for x in c]) for c in books[j]]
            )
            for j in range(m)
        ]
    )


def _pq_assign(frame: DataFrame, books: dict, m: int) -> DataFrame:
    """Nearest-sub-centroid code per (id, j) row; argmin ties resolve
    to the lowest code (array_position takes the first minimum)."""
    mine = F.element_at(_pq_book_lit(books, m), F.col("j") + 1)
    dists = F.transform(
        mine,
        lambda c: F.aggregate(
            F.zip_with(F.col("_v"), c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    return (
        frame.withColumn("_dists", dists)
        .withColumn(
            "code",
            F.array_position(F.col("_dists"), F.array_min("_dists")) - 1,
        )
        .drop("_dists")
    )


def _pq_train(sf: DataFrame, m: int, ksub: int, iters: int) -> dict:
    """Deterministic Lloyd over ALL subspaces at once (the subspace id
    rides the cluster key): one assign job + one means job per
    iteration regardless of m; only the m x ksub x sub codebook ever
    reaches the driver. Seeded by the ksub lowest-id subvectors."""
    seeds = (
        sf.orderBy("j", "_id")
        .groupBy("j")
        .agg(
            F.slice(
                F.array_sort(F.collect_list(F.struct("_id", "_v"))), 1, ksub
            ).alias("s")
        )
        .select("j", F.transform("s", lambda p: p.getField("_v")).alias("cs"))
        .collect()
    )
    books = {int(r.j): [list(c) for c in r.cs] for r in seeds}
    for _ in range(iters):
        assigned = _pq_assign(sf, books, m)
        means = (
            assigned.select("j", "code", F.posexplode("_v").alias("pos", "x"))
            .groupBy("j", "code", "pos")
            .agg(F.avg("x").alias("mn"))
            .groupBy("j", "code")
            .agg(
                F.array_sort(F.collect_list(F.struct("pos", "mn"))).alias("ps")
            )
            .select(
                "j",
                "code",
                F.transform("ps", lambda p: p.getField("mn")).alias("c"),
            )
            .collect()  # bounded: m x ksub x sub codebook only
        )
        got = {(int(r.j), int(r.code)): list(r.c) for r in means}
        # len(books[j]) may be < ksub on a tiny corpus (seeded by the
        # lowest-id subvectors): iterate what exists, not the nominal k
        books = {
            j: [got.get((j, i), books[j][i]) for i in range(len(books[j]))]
            for j in range(m)
        }
    return books


def _pq_encode(sf: DataFrame, books: dict, m: int) -> DataFrame:
    """(_id, codes array<int>) -- the compressed representation."""
    return (
        _pq_assign(sf, books, m)
        .groupBy("_id")
        .agg(F.array_sort(F.collect_list(F.struct("j", "code"))).alias("jc"))
        .select(
            "_id",
            F.transform("jc", lambda p: p.getField("code")).alias("codes"),
        )
    )


def _pq_adc_expr(books: dict, query_vec: list, m: int, sub: int):
    """ADC score column over a ``codes`` column: the query's distance
    to every sub-centroid folds into an m x ksub literal table; a
    vector's approximate distance is sum_j table[j][code_j]."""
    table = [
        [
            sum(
                (query_vec[j * sub + t] - books[j][i][t]) ** 2
                for t in range(sub)
            )
            for i in range(len(books[j]))
        ]
        for j in range(m)
    ]
    tlit = F.array(
        *[F.array(*[F.lit(float(d)) for d in row]) for row in table]
    )
    return F.aggregate(
        F.zip_with(
            F.col("codes"),
            tlit,
            lambda c, row: F.element_at(row, c.cast("int") + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def build_pq_index(
    embeddings: DataFrame,
    path: str,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
    nlist: int = 8,
    ivf_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize an IVF-PQ index (the standard public composition,
    non-residual variant): a coarse IVF quantizer partitions the CODES
    table by cluster (partition pruning IS the inverted-file lookup)
    and the PQ codebook compresses each vector to ``m`` sub-codes --
    at 100 TB the persisted artifact is codes + codebook (~32x smaller
    than the float vectors), not the vectors. Production trains ONCE
    here and serves every query from the artifact. Layout:

        {path}/codes/cluster=N/...  (_id, codes array<int>)
        {path}/codebooks/           (j, code, centroid array<double>)
        {path}/centroids/           (cluster, centroid) -- coarse IVF

    Fully deterministic (lowest-id seeding, first-min argmin,
    order-independent means): rebuilding from the same data yields a
    bit-identical index.
    """
    spark = embeddings.sparkSession
    e = embeddings.select(
        F.col(id_col).alias("_id"), as_double_array(vec_col).alias("_v")
    )
    en = _l2_normalized(e).persist()
    dim = en.select(F.size("_v").alias("d")).first().d
    sub = dim // m
    # coarse IVF on the normalized vectors: Lloyd steps seeded by the
    # nlist lowest-id vectors, argmin ties to the lowest centroid
    # index -- deterministic end to end
    cents = [list(r._v) for r in en.orderBy("_id").limit(nlist).collect()]
    for _ in range(ivf_iters):
        by_cluster = _ivf_means(_ivf_assign(en, cents))
        cents = [by_cluster.get(i, cents[i]) for i in range(nlist)]
    assigned = _ivf_assign(en, cents).select("_id", "cluster")
    # PQ codebook + codes over the full corpus (one global codebook --
    # the non-residual IVFPQ variant: codes are comparable across
    # clusters, so one ADC table serves any probe set)
    sf = _pq_subframe(en, m, sub).persist()
    books = _pq_train(sf, m, ksub, iters)
    (
        _pq_encode(sf, books, m)
        .join(assigned, "_id")
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(f"{path}/codes")
    )
    spark.createDataFrame(
        [(j, i, books[j][i]) for j in books for i in range(len(books[j]))],
        "j int, code int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)],
        "cluster int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    # training-time quality floor for the drift gate: corpus size and
    # mean PQ quantization error under the just-trained codebook
    # (appends re-measure the same statistic on their batch; the RATIO
    # is the staleness signal -- public FAISS practice: add() encodes
    # under the fixed codebook, retrain when the distribution drifts)
    n_base = en.select("_id").distinct().count()
    spark.createDataFrame(
        [(int(n_base), float(_pq_mean_distortion(sf, books, m)))],
        "n_vectors long, mean_sq_distortion double",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/build_stats")
    # top-level completion marker, written strictly AFTER the last
    # artifact: codes land first, so codes/_SUCCESS alone cannot tell
    # a finished index from one whose build crashed mid-way -- a
    # rebuild-skip keyed on it would serve a half-built index forever.
    # Written through the Hadoop FileSystem API so the marker lands on
    # whatever scheme the artifacts did (s3://, hdfs://, file:) -- a
    # local open() here would crash AFTER a successful remote build
    # and the rebuild-skip would then rebuild forever (r9 ADVICE).
    write_index_marker(spark, path, "ivfpq-v1")


def _pq_mean_distortion(sf: DataFrame, books: dict, m: int) -> float:
    """Mean (over vectors) total squared PQ quantization error under a
    FIXED codebook: sum over the m subspaces of the min squared
    distance to any sub-centroid. One double crosses the driver."""
    mine = F.element_at(_pq_book_lit(books, m), F.col("j") + 1)
    dists = F.transform(
        mine,
        lambda c: F.aggregate(
            F.zip_with(F.col("_v"), c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    row = (
        sf.withColumn("_d", F.array_min(dists))
        .groupBy("_id")
        .agg(F.sum("_d").alias("_tot"))
        .agg(F.avg("_tot").alias("mean_d"))
        .first()
    )
    return float(row.mean_d if row.mean_d is not None else 0.0)


def _load_pq_artifacts(spark, path: str) -> tuple[dict, list, int, int]:
    """(codebooks, coarse centroids, m, sub) from a persisted index."""
    books_rows = spark.read.parquet(f"{path}/codebooks").collect()
    books: dict[int, list] = {}
    for r in sorted(books_rows, key=lambda r: (r.j, r.code)):
        books.setdefault(int(r.j), []).append(list(r.centroid))
    cent_rows = spark.read.parquet(f"{path}/centroids").collect()
    cents_map = {int(r.cluster): list(r.centroid) for r in cent_rows}
    cents = [cents_map[i] for i in range(len(cents_map))]
    m = len(books)
    dim = len(cents[0])
    return books, cents, m, dim // m


def append_to_pq_index(
    embeddings: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Incrementally append new vectors to a persisted IVF-PQ index
    WITHOUT retraining: encode under the EXISTING codebook and coarse
    quantizer (exactly FAISS ``index.add`` semantics -- the codebook is
    fixed at train time; growth is cheap, retraining is a deliberate,
    drift-gated event) and append the new codes under the same
    ``cluster=N`` partition layout, so the serve path's partition
    pruning is oblivious to how many appends produced the table.

    Durability contract: the codes append lands FIRST, the append-log
    row second, so a crash between them leaves an index that SERVES
    correctly (the extra codes are valid) but under-reports staleness;
    a retried append can therefore double-append a batch. Codes are
    deterministic under a fixed codebook, so duplicates are IDENTICAL
    rows and the serve path's ``dropDuplicates(_id)`` makes the read
    exactly-once over an at-least-once append -- the standard
    idempotent-read discipline.

    Returns ``{"seq", "n_appended", "mean_sq_distortion"}``; the
    distortion's drift from the build's is the signal to retrain.
    """
    spark = embeddings.sparkSession
    if not index_marker_exists(spark, path):
        raise ValueError(
            f"no complete IVF-PQ index at {path} (missing _INDEX_COMPLETE)"
        )
    books, cents, m, sub = _load_pq_artifacts(spark, path)
    e = embeddings.select(
        F.col(id_col).alias("_id"), as_double_array(vec_col).alias("_v")
    )
    en = _l2_normalized(e).persist()
    assigned = _ivf_assign(en, cents).select("_id", "cluster")
    sf = _pq_subframe(en, m, sub).persist()
    n = en.select("_id").distinct().count()
    (
        _pq_encode(sf, books, m)
        .join(assigned, "_id")
        .write.mode("append")
        .partitionBy("cluster")
        .parquet(f"{path}/codes")
    )
    distortion = _pq_mean_distortion(sf, books, m)
    try:
        prev = (
            spark.read.parquet(f"{path}/append_log")
            .agg(F.max("seq").alias("mx"))
            .first()
            .mx
        )
        seq = int(prev or 0) + 1
    except AnalysisException:  # path not found: first append, no log yet.
        # Anything else (corruption, transient FS failure) PROPAGATES --
        # silently resetting seq to 1 on a transient error would fork
        # the sequence (r10 ADVICE item).
        seq = 1
    spark.createDataFrame(
        [(seq, int(n), float(distortion))],
        "seq int, n_appended long, mean_sq_distortion double",
    ).coalesce(1).write.mode("append").parquet(f"{path}/append_log")
    return {"seq": seq, "n_appended": int(n), "mean_sq_distortion": distortion}


def pq_index_topk(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    rerank: int = 50,
    embeddings: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve a top-k from a persisted IVF-PQ index: probe selection is
    driver-side math on the tiny coarse-centroid table, the codes scan
    partition-prunes to ``cluster IN probes``, and scoring is pure ADC
    over the m x ksub codebook -- NO float vector is read at all unless
    ``embeddings`` is passed, in which case the top-``rerank`` ADC
    candidates are exact-cosine re-ranked against the source vectors
    (the engine-wide approximate-candidates/exact-scores discipline).
    Without re-rank the score is the ADC cosine estimate
    ``1 - adc/2`` (squared euclidean on the unit sphere), rounded to
    4dp like every similarity score."""
    books_rows = spark.read.parquet(f"{path}/codebooks").collect()
    books: dict[int, list] = {}
    for r in sorted(books_rows, key=lambda r: (r.j, r.code)):
        books.setdefault(int(r.j), []).append(list(r.centroid))
    m = len(books)
    dim = len(query_vec)
    sub = dim // m
    qn = math.sqrt(sum(x * x for x in query_vec)) or 1.0
    qv = [x / qn for x in query_vec]
    cents = {
        int(r.cluster): list(r.centroid)
        for r in spark.read.parquet(f"{path}/centroids").collect()
    }
    probes = sorted(
        cents, key=lambda i: (sum((x - y) ** 2 for x, y in zip(cents[i], qv)), i)
    )[:nprobe]
    # dropDuplicates(_id): a crash-retried append can land a batch
    # twice (see append_to_pq_index's durability contract); codes are
    # deterministic under the fixed codebook, so duplicates are
    # identical rows and any-wins dedup restores exactly-once reads.
    # It runs AFTER partition pruning, so the shuffle is bounded by
    # the probed clusters, not the corpus.
    codes = (
        spark.read.parquet(f"{path}/codes")
        .where(F.col("cluster").isin(probes))
        .dropDuplicates(["_id"])
    )
    adc = _pq_adc_expr(books, qv, m, sub)
    ranked = codes.withColumn("_adc", adc).orderBy(
        F.col("_adc").asc(), F.col("_id").asc()
    )
    if embeddings is None:
        return ranked.select(
            F.col("_id").alias(id_col),
            F.round(1 - F.col("_adc") / 2, 4).alias("score"),
        ).limit(k)
    cand = ranked.limit(rerank).select("_id")
    e = embeddings.select(
        F.col(id_col).alias("_id"), as_double_array(vec_col).alias("_v")
    )
    q = F.array(*[F.lit(float(x)) for x in qv])
    return (
        cand.join(e, "_id")
        .select(
            F.col("_id").alias(id_col),
            F.round(cosine(F.col("_v"), q), 4).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    nlist: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public
    recipe): cluster the embedding space with the deterministic IVF
    Lloyd quantizer, then WITHIN each cluster greedily keep the
    lowest-id vector of every cosine-``threshold`` neighborhood and
    drop the rest -- near-duplicate *meanings* collapse even when the
    surface text differs (the gap exact/minhash/simhash dedup cannot
    close).

    Returns one row per vector: ``(id_col, cluster, kept)``.

    Scale shape: candidate comparisons never leave a cluster --
    clustering bounds the quadratic greedy scan by the largest cluster,
    exactly like blocking in entity resolution (a degenerate cluster is
    re-split by raising ``nlist``, the salting move). The per-cluster
    scan is one Arrow-batched ``applyInPandas`` pass ordered by id
    (deterministic; greedy keep-set semantics are the throttle's, in
    vector space). Only the nlist x dim centroid table reaches the
    driver; vectors shuffle ONCE, on cluster id.
    """
    import numpy as np  # noqa: F401  (executor-side dependency)
    import pandas as pd  # noqa: F401

    # output id column keeps the CALLER's name and Spark type -- a
    # hardcoded "vec_id bigint" would silently mislabel (or Arrow-cast)
    # string/other id columns
    id_type = embeddings.schema[id_col].dataType.simpleString()
    out_schema = f"`{id_col}` {id_type}, cluster bigint, kept boolean"

    e = embeddings.select(
        F.col(id_col).alias("_id"), as_double_array(vec_col).alias("_v")
    ).persist()
    cents = [list(r._v) for r in e.orderBy("_id").limit(nlist).collect()]
    for _ in range(iters):
        assigned = _ivf_assign(e, cents)
        by = _ivf_means(assigned)
        cents = [by.get(i, cents[i]) for i in range(len(cents))]
    assigned = _ivf_assign(e, cents)

    def prune(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("_id")
        vs = np.array([list(v) for v in pdf["_v"]], dtype="float64")
        norms = np.linalg.norm(vs, axis=1)
        norms[norms == 0.0] = 1.0
        unit = vs / norms[:, None]
        kept_idx: list[int] = []
        kept_flags = []
        for i in range(len(pdf)):
            if kept_idx and (unit[kept_idx] @ unit[i]).max() > threshold:
                kept_flags.append(False)
            else:
                kept_flags.append(True)
                kept_idx.append(i)
        return pd.DataFrame(
            {
                # passthrough, no astype: Arrow maps the pandas values
                # onto the declared (input-derived) Spark type
                id_col: pdf["_id"],
                "cluster": pdf["cluster"].astype("int64"),
                "kept": kept_flags,
            }
        )

    return assigned.groupBy("cluster").applyInPandas(prune, out_schema)


def mmr_topk_exact(
    embeddings: DataFrame,
    k: int = 10,
    pool: int = 50,
    query_id: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """MMR diverse top-k in CROSS-ENGINE EXACT arithmetic (r12 verdict
    item #3: the fixed-round playbook applied to a sequential greedy).
    lambda is pinned at 0.7.

    Every score the greedy compares is derived from exact BIGINT dot
    products of 1e-4-quantized coordinates by one divide + one sqrt
    (both IEEE-correctly-rounded, hence bit-identical on any engine):
    rel_i = dot(i,q) / sqrt(n_i * n_q), sim(i,j) = dot(i,j) /
    sqrt(n_i * n_j), mmr_i = 0.7*rel_i - 0.3*max_sim_i. No float SUM
    anywhere (summation-order-dependent), no transcendental, no
    epsilon tie-break -- ties resolve by id exactly like the oracle's
    ORDER BY mmr DESC, id LIMIT 1 -- so a DuckDB twin that unrolls
    the k greedy steps as MATERIALIZED CTEs reproduces every
    selection bit-for-bit.

    INPUT CONTRACT (r13 ADVICE, closed r14): zero-norm vectors are
    GUARDED, not assumed away -- the pool pre-filters ``nq > 0 AND
    nd > 0`` (mirrored in the oracle), so an all-zero pool vector can
    no longer raise ZeroDivisionError driver-side (where DuckDB would
    have yielded NaN), and an all-zero QUERY vector yields an empty
    result on both engines instead of NaN-ranked garbage. Same guard
    convention as ``q_int8_cosine_topk``'s ``norm_q > 0``.

    Scale shape: relevance scoring and
    top-``pool`` selection are fully distributed
    (TakeOrderedAndProject over one cached explode); the pairwise
    dots are computed DISTRIBUTED over the pool's exploded rows (a
    dim-keyed self-join of pool x dim rows -- pool^2 * dim products,
    constant once pool is fixed); only the bounded pool --
    pool rows + pool^2 integer dots, the same O(pool^2) the
    nlist-centroid collects set precedent for -- ever reaches the
    driver, where the O(k * pool) greedy runs. Returns (rank,
    vec_id, rel, mmr_score) with 6dp display rounding applied
    SPARK-SIDE (HALF_UP, matching DuckDB ROUND) after unrounded
    selection."""
    ex = (
        embeddings.select(
            F.col(id_col), F.posexplode(vec_col).alias("pos", "vf")
        )
        .select(
            id_col,
            (F.col("pos") + 1).cast("long").alias("dim"),
            F.round(F.col("vf").cast("double") * 10000)
            .cast("long")
            .alias("q"),
        )
        .persist()
    )
    qd = ex.where(F.col(id_col) == query_id).select(
        "dim", F.col("q").alias("d")
    )
    scored = (
        ex.join(F.broadcast(qd), "dim")
        .groupBy(id_col)
        .agg(
            F.sum(F.col("q") * F.col("d")).cast("long").alias("dot_q"),
            F.sum(F.col("q") * F.col("q")).cast("long").alias("nq"),
            F.sum(F.col("d") * F.col("d")).cast("long").alias("nd"),
        )
    )
    raw = F.col("dot_q").cast("double") / F.sqrt(
        F.col("nq").cast("double") * F.col("nd").cast("double")
    )
    pool_df = (
        scored
        # zero-norm guard (r13 ADVICE): 0/sqrt(0) would be NaN in
        # DuckDB but ZeroDivisionError in the driver-side greedy
        .where((F.col("nq") > 0) & (F.col("nd") > 0))
        .withColumn("_raw", raw)
        .orderBy(F.col("_raw").desc(), id_col)
        .limit(pool)
        .select(id_col, "dot_q", "nq", "nd")
    )
    pe = ex.join(F.broadcast(pool_df.select(id_col)), id_col)
    a, b = pe.alias("a"), pe.alias("b")
    pair_dots = (
        a.join(
            b,
            (F.col("a.dim") == F.col("b.dim"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("i"), F.col(f"b.{id_col}").alias("j")
        )
        .agg(F.sum(F.col("a.q") * F.col("b.q")).cast("long").alias("dot"))
    )
    # bounded collects: pool rows + pool^2 dots (the nlist-centroid
    # precedent); everything upstream ran distributed
    prows = pool_df.collect()
    dots = {(r["i"], r["j"]): r["dot"] for r in pair_dots.collect()}
    ex.unpersist()

    spark = embeddings.sparkSession
    if not prows:  # all-zero query vector: empty on both engines
        return spark.createDataFrame(
            [], f"rank long, {id_col} long, rel double, mmr_score double"
        )

    from math import sqrt

    nq = {r[id_col]: r["nq"] for r in prows}
    n_query = prows[0]["nd"]  # identical fixed query norm on every row
    rel = {
        r[id_col]: r["dot_q"] / sqrt(r["nq"] * n_query) for r in prows
    }
    remaining = sorted(nq)
    selected: list[tuple[int, float, float]] = []
    while remaining and len(selected) < k:
        best = None
        for i in remaining:  # ascending id: first strict win == lowest id
            max_sim = max(
                (
                    dots[(i, j)] / sqrt(nq[i] * nq[j])
                    for j, _, _ in selected
                ),
                default=0.0,
            )
            mmr = 0.7 * rel[i] - 0.3 * max_sim
            if best is None or mmr > best[1]:
                best = (i, mmr, rel[i])
        selected.append(best)
        remaining.remove(best[0])
    out = spark.createDataFrame(
        [
            (rank + 1, i, r, m)
            for rank, (i, m, r) in enumerate(selected)
        ],
        f"rank long, {id_col} long, _rel double, _mmr double",
    )
    return out.select(
        "rank",
        id_col,
        F.round("_rel", 6).alias("rel"),
        F.round("_mmr", 6).alias("mmr_score"),
    ).orderBy("rank")
