"""Similarity search over the embeddings table (array<float> column).

* brute-force cosine top-k — the correctness baseline: cross join queries ×
  corpus, double-precision dot product via ``F.aggregate``/``zip_with``,
  rank by rounded similarity with id tiebreak (rounding makes the ranking
  stable across engines' float accumulation orders)
* sign-LSH bucketed variant — the scale path: bucket on a sign-pattern
  sketch whose BIT WIDTH GROWS WITH THE CORPUS (bits ≈ log2(N / target
  bucket rows), from parquet footer counts — zero Spark jobs), so bucket
  count scales with N and expected bucket occupancy stays ≈ constant.
  Candidate pairs only form within a bucket, turning the O(n²) cross join
  into a bucket-local join whose per-bucket work is bounded at any N; a
  fixed bit width would instead concentrate ~N/2^bits rows per bucket and
  go quadratic at 10⁹ vectors.
* embedding-cosine near-dup — threshold pair scan (dedup family's fifth
  member; BASELINE task list)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..sources.documents import read_table, spread

TOPK = 3
N_QUERIES = 5
NEARDUP_THRESHOLD = 0.40
DIM = 64  # driver embeddings are fixed 64-dim float arrays
IVF_NPROBE = 3
IVF_N_LISTS = 10  # embeddings.label has 10 distinct values (the coarse lists)

# --- adaptive sign-LSH sizing ---------------------------------------------
# Bucket-key cardinality must grow with the corpus: band bit-width is derived
# from the row count (bits = max(min, ceil(log2(N / TARGET_BUCKET_ROWS)))) so
# the expected bucket occupancy stays ≈ TARGET_BUCKET_ROWS at any N, and the
# bucket-local join stays sub-quadratic. Recall at the near-dup threshold is
# held as bits widen by ADDING BANDS along the standard b·r S-curve:
# P(pair becomes a candidate) = 1 − (1 − p^bits)^bands with
# p = 1 − acos(threshold)/π, solved for bands at TARGET_RECALL and capped at
# MAX_BANDS. At the driver sf0.01 scale (N=500) this degenerates to the
# measured 16×4-bit banding (candidate recall 0.966 vs the exact all-pairs
# form at threshold 0.40 on near-uniform synthetic vectors — sign-LSH's
# hardest regime; real near-dups at cosine ≥0.9 collide far more often, so
# far fewer bands hold the same recall at wide bits).
TARGET_BUCKET_ROWS = 128
MIN_BAND_BITS = 4  # banded near-dup floor: 16 buckets/band on tiny corpora
MIN_SIGN_BITS = 8  # single-sketch bucket queries: 256-bucket floor
MAX_BANDS = 64
TARGET_RECALL = 0.93


def band_bits(
    n_rows: int,
    target_bucket: int = TARGET_BUCKET_ROWS,
    min_bits: int = MIN_BAND_BITS,
) -> int:
    """Smallest b with 2^b buckets ≥ N / target_bucket (pure-integer math —
    the DuckDB oracle computes the identical value with a range() scan, so
    both engines always agree on the banding)."""
    import math

    return max(min_bits, max(0, math.ceil(max(1, n_rows) / target_bucket) - 1).bit_length())


def bands_for_bits(
    bits: int,
    threshold: float = NEARDUP_THRESHOLD,
    target_recall: float = TARGET_RECALL,
    max_bands: int = MAX_BANDS,
) -> int:
    """Band count holding TARGET_RECALL at `threshold` for a given band
    width: ceil(ln(1−R) / ln(1−p^bits)), p = 1 − acos(θ)/π. Evaluated in
    Python only — the oracle receives the resulting integers as a CASE
    lookup, so no cross-engine float boundary can flip the plan."""
    import math

    p_bit = 1.0 - math.acos(threshold) / math.pi
    p_band = p_bit**bits
    if p_band >= 1.0:
        return 1
    n = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - p_band))
    return max(1, min(max_bands, n))


N_BLOCKS = 8


MAX_BLOCK_ROWS = 4096  # keep a collected block ≈ 4096 vectors (≈1 MB @ 64-dim f64)


def blocked_cosine_pairs(
    emb: DataFrame,
    threshold: float,
    n_blocks: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """(vec_a, vec_b) pairs with cosine > threshold, via tiled numpy GEMM.

    Plan shape: groupBy(block) collect → B rows of (ids, matrix) → self-join
    on block_a <= block_b (B(B+1)/2 tile pairs) → mapInPandas computes the
    normalized tile product and emits qualifying pairs. Double precision to
    match the DuckDB oracle's DOUBLE[] computation.

    B scales with the corpus (ceil(N / MAX_BLOCK_ROWS), min 8) so a collected
    block row stays bounded regardless of N — a fixed B would grow block rows
    linearly toward the 2 GB row limit. The result is blocking-invariant.

    Pass ``n_rows`` (e.g. from parquet footer metadata — see
    :func:`parquet_row_count`) so sizing B costs zero Spark jobs; the
    ``emb.count()`` fallback is a full extra scan per call and exists only
    for ad-hoc callers that truly don't know N.
    """
    import math

    import numpy as np
    import pandas as pd
    from collections.abc import Iterator
    from pyspark.sql import types as T

    if n_blocks is None:
        if n_rows is None:
            n_rows = emb.count()
        n_blocks = max(N_BLOCKS, math.ceil(n_rows / MAX_BLOCK_ROWS))

    blocks = (
        emb.withColumn("blk", F.pmod(F.col("vec_id"), F.lit(n_blocks)).cast("int"))
        .groupBy("blk")
        .agg(
            F.collect_list("vec_id").alias("ids"),
            F.collect_list("embedding").alias("vectors"),
        )
    )
    a = blocks.select(
        F.col("blk").alias("blk_a"), F.col("ids").alias("ids_a"), F.col("vectors").alias("vecs_a")
    )
    b = blocks.select(
        F.col("blk").alias("blk_b"), F.col("ids").alias("ids_b"), F.col("vectors").alias("vecs_b")
    )
    tiles = a.join(b, F.col("blk_a") <= F.col("blk_b"))

    out_schema = T.StructType(
        [T.StructField("vec_a", T.LongType(), False), T.StructField("vec_b", T.LongType(), False)]
    )

    def score_tiles(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict[str, int]] = []
            for t in pdf.itertuples(index=False):
                ids_a = np.asarray(t.ids_a, dtype=np.int64)
                ids_b = np.asarray(t.ids_b, dtype=np.int64)
                ma = np.asarray([np.asarray(v, dtype=np.float64) for v in t.vecs_a])
                mb = np.asarray([np.asarray(v, dtype=np.float64) for v in t.vecs_b])
                ma /= np.linalg.norm(ma, axis=1, keepdims=True)
                mb /= np.linalg.norm(mb, axis=1, keepdims=True)
                sims = ma @ mb.T
                ii, jj = np.nonzero(sims > threshold)
                same_block = t.blk_a == t.blk_b
                for i, j in zip(ii, jj):
                    va, vb = int(ids_a[i]), int(ids_b[j])
                    if same_block:
                        # pair appears as (i,j) and (j,i) — keep one orientation
                        if va < vb:
                            rows.append({"vec_a": va, "vec_b": vb})
                    elif va != vb:
                        # distinct blocks: each unordered pair appears once
                        rows.append({"vec_a": min(va, vb), "vec_b": max(va, vb)})
            yield pd.DataFrame(rows, columns=["vec_a", "vec_b"])

    return tiles.mapInPandas(score_tiles, schema=out_schema)


def parquet_row_count(sf_dir: str, name: str) -> int:
    """Exact row count from parquet footer metadata — a driver-side O(footers)
    read, no Spark job. At cluster scale the same number comes from the table
    catalog (Iceberg snapshot summary ``total-records``) for free."""
    import glob
    import os

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    files = sorted(glob.glob(os.path.join(path, "*.parquet"))) if os.path.isdir(path) else [path]
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def _cosine(a, b):
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))
    return dot / (na * nb)


def bits_sql(min_bits: int) -> str:
    """Adaptive sketch width in PURE-INTEGER SQL (identical to
    :func:`band_bits`: smallest b with 2^b · target ≥ count(*), floored at
    min_bits) — the oracle derives the same bucket count from the same row
    count at any sf, so the comparison stays exact as the corpus grows."""
    return (
        f"greatest({min_bits}, (SELECT min(b)::INT FROM range(40) t(b) "
        f"WHERE (1::BIGINT << b) * {TARGET_BUCKET_ROWS} >= "
        f"(SELECT count(*) FROM embeddings)))"
    )


# '1'/'0' for hyperplane pl.h over embeddings alias e — mirrors
# _plane_bit()/_plane_indices() token for token (comparisons only, no float
# arithmetic, so FLOAT vs DOUBLE evaluation cannot diverge).
PLANE_BIT_SQL = (
    f"CASE WHEN pl.h < {DIM} "
    f"THEN (CASE WHEN e.embedding[pl.h + 1] > 0 THEN '1' ELSE '0' END) "
    f"ELSE (CASE WHEN e.embedding[(pl.h % {DIM}) + 1] > "
    f"e.embedding[(((pl.h % {DIM}) + 1 + (((pl.h // {DIM}) - 1) % {DIM - 1})) % {DIM}) + 1] "
    f"THEN '1' ELSE '0' END) END"
)


def _plane_indices(h: int) -> tuple[int, int | None]:
    """Deterministic hyperplane family indexed by h, shared verbatim with
    the DuckDB oracle. h < DIM is the axis plane sign(x[h]); h ≥ DIM is the
    sparse difference plane sign(x[u] − x[v]) with u = h mod DIM and v
    offset by 1 + ((h div DIM) − 1) mod (DIM−1) — always v ≠ u, giving
    DIM + DIM·(DIM−1) = 4160 distinct directions at DIM=64, far more than
    any bits·bands this module ever requests."""
    u = h % DIM
    if h < DIM:
        return u, None
    v = (u + 1 + ((h // DIM) - 1) % (DIM - 1)) % DIM
    return u, v


def _plane_bit(h: int):
    """'1'/'0' for hyperplane h. Pure comparisons (no float arithmetic), so
    Spark-on-float and DuckDB-on-FLOAT evaluate bit-identically."""
    u, v = _plane_indices(h)
    e = F.col("embedding")
    if v is None:
        return F.when(F.element_at(e, u + 1) > 0, "1").otherwise("0")
    return F.when(F.element_at(e, u + 1) > F.element_at(e, v + 1), "1").otherwise("0")


def _band_key(b: int, bits: int):
    """Bit-string key of band b: hyperplanes [b·bits, (b+1)·bits)."""
    return F.concat(*[_plane_bit(b * bits + i) for i in range(bits)])


def lsh_verified_pairs(
    emb: DataFrame,
    threshold: float = NEARDUP_THRESHOLD,
    n_rows: int | None = None,
    bits: int | None = None,
    n_bands: int | None = None,
) -> DataFrame:
    """The composed 100-TB near-dup shape: banded sign-LSH candidates →
    exact cosine verify. Returns (vec_a, vec_b, sim) with sim rounded 5dp.

    Sizing: band width grows with the corpus (:func:`band_bits` — pass
    ``n_rows`` from parquet footers / the table catalog so sizing costs zero
    Spark jobs) and the band count holds recall along the b·r S-curve
    (:func:`bands_for_bits`), so bucket cardinality scales with N instead of
    being a compile-time constant.

    Plan shape: ALL bands materialize in one pass — posexplode of the
    per-row band-key array to (vec_id, band, bkey) — and candidates form in
    ONE self equi-join on (band, bkey): a single shuffle exchange that the
    probe side reuses (ReusedExchange), not one join per band. Only
    surviving deduped pairs pay the exact double-precision cosine.

    The exact GEMM form (:func:`blocked_cosine_pairs`) is the correctness
    baseline; this is the sub-quadratic path that must front it at 10⁹
    vectors. Measured candidate recall is asserted in
    tests/test_simsearch.py and recorded in BENCH/BASELINE.md."""
    if bits is None:
        bits = band_bits(n_rows if n_rows is not None else emb.count())
    if n_bands is None:
        n_bands = bands_for_bits(bits, threshold)
    # r6: the tiny single-row-group scan serializes banding AND (worse) the
    # exact verify of every candidate pair onto one task; spread the banding
    # input and pin the candidate exchange at full width (the verify rides
    # on the candidate partitioning — its per-row cost is a 64-dim fold,
    # enormous relative to its 16 bytes, so AQE's byte-based coalescing
    # would shrink it to ~1 task). repartition BY the dedup key means the
    # dropDuplicates aggregate reuses this exchange instead of adding one.
    p = emb.sparkSession.sparkContext.defaultParallelism
    keys = F.array(*[_band_key(b, bits) for b in range(n_bands)])
    banded = spread(emb).select("vec_id", F.posexplode(keys).alias("band", "bkey"))
    a = banded.select(F.col("vec_id").alias("vec_a"), "band", "bkey")
    c = banded.select(F.col("vec_id").alias("vec_b"), "band", "bkey")
    cand = (
        a.join(c, ["band", "bkey"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .repartition(p, "vec_a", "vec_b")
        .dropDuplicates(["vec_a", "vec_b"])
    )
    # per-VECTOR norms, hoisted out of the per-PAIR verify: sqrt-of-fold is
    # the exact expression _cosine uses, so dot/(na*nb) is bit-identical to
    # the per-pair form while paying the two norm folds N times, not |cand|
    # times (2/3 of the verify flops gone)
    norm = lambda col: F.sqrt(  # noqa: E731
        F.aggregate(col, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )
    ea = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        norm(F.col("embedding")).alias("na"),
    )
    eb = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        norm(F.col("embedding")).alias("nb"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("ea"), F.col("eb"), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    sim = dot / (F.col("na") * F.col("nb"))
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .filter(sim > threshold)
        .select("vec_a", "vec_b", F.round(sim, 5).alias("sim"))
    )


def _matrix_expr(matrix):
    """Nested array literal as ONE parsed SQL expression. ``F.lit`` on a
    nested Python list expands to one py4j ``lit``/``array`` call per
    element (~650 round trips for a 10×64 matrix, 0.9–2.9 s of driver time
    PER Lloyd iteration — measured r6); a single ``F.expr`` string is one
    round trip and one JVM parse. ``repr(float)`` is the shortest
    round-tripping decimal and Java's parseDouble is correctly rounded, so
    the literal doubles are bit-identical to the ``F.lit`` path."""
    def fmt(x):
        if isinstance(x, list):
            return "array(" + ",".join(fmt(v) for v in x) + ")"
        if isinstance(x, int):
            return str(x)
        return f"{float(x)!r}D"

    return F.expr(fmt(matrix))


def _scores_expr(centroids: list[list[float]], ne=None):
    """Per-row cosine scores against all centroids via ONE k×DIM matrix
    literal and a higher-order zip_with. One Literal node instead of k×DIM
    expression nodes, so the generated code has the SAME shape on every
    Lloyd iteration (centroid values live in the literal's data, not the
    plan) — whole-stage codegen compiles once and is cache-hit for the rest
    of the fit.

    r6: centroid norms are precomputed driver-side (same IEEE-double
    sequential fold as the JVM expression, so sqrt(Σv²) is bit-identical)
    and ride as a k-array literal; pass ``ne`` (an expression for the ROW's
    norm, evaluated once in a prior projection) to stop re-folding the
    row's 64 squares once per centroid. Scores equal the old
    ``_cosine``-per-centroid form bit for bit: same dot fold, same norms,
    same dot/(na·nb) arithmetic."""
    import math

    matrix = _matrix_expr([[float(v) for v in c] for c in centroids])
    norms = _matrix_expr(
        [math.sqrt(sum(float(v) * float(v) for v in c)) for c in centroids]
    )
    if ne is None:  # self-contained form (ne re-evaluated per centroid)
        ne = F.sqrt(
            F.aggregate(
                F.col("embedding"),
                F.lit(0.0),
                lambda acc, v: acc + v.cast("double") * v.cast("double"),
            )
        )

    def dot(c):
        return F.aggregate(
            F.zip_with(
                F.col("embedding"), c, lambda x, y: x.cast("double") * y.cast("double")
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    return F.zip_with(matrix, norms, lambda c, nc: dot(c) / (ne * nc))


def _assign_expr(centroids: list[list[float]]):
    """Nearest-centroid (max cosine) assignment as ONE JVM-side expression:
    scores = [cos(embedding, c_j)]; list_id = first argmax. No shuffle, no
    N×k row explosion — the broadcastable state is the centroid matrix
    literal. :func:`assign_lists` switches to the broadcast-join form past
    KMEANS_LITERAL_MAX_K (VERDICT r3 item 4)."""
    scores = _scores_expr(centroids)
    # array_position is 1-based; ties resolve to the first (deterministic)
    return (F.array_position(scores, F.array_max(scores)) - 1).cast("int")


# past this k the literal expression tree (k×DIM literal nodes) would choke
# whole-stage codegen; the broadcast-join form takes over
KMEANS_LITERAL_MAX_K = 64


def assign_lists(emb: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """(vec_id, embedding, list_id, best) — nearest-centroid assignment
    under the k-appropriate strategy:

    * k ≤ KMEANS_LITERAL_MAX_K: the shuffle-free literal-expression form
      (:func:`_assign_expr`'s scores array, evaluated once per row).
    * k > KMEANS_LITERAL_MAX_K: centroids become a broadcast relation —
      emb × broadcast(k rows) → per-pair JVM cosine → per-vec argmax
      (max over (sim, −list_id) structs: highest sim, ties to the lowest
      list id — byte-identical semantics to the literal form). One
      exchange for the argmax groupBy; expression tree stays O(DIM)
      regardless of k, so k=4096 plans as fast as k=10.
    """
    if len(centroids) <= KMEANS_LITERAL_MAX_K:
        ne = F.sqrt(
            F.aggregate(
                F.col("embedding"),
                F.lit(0.0),
                lambda acc, v: acc + v.cast("double") * v.cast("double"),
            )
        )
        scored = emb.select("vec_id", "embedding", ne.alias("_ne")).select(
            "vec_id",
            "embedding",
            _scores_expr(centroids, ne=F.col("_ne")).alias("scores"),
        )
        return scored.select(
            "vec_id",
            "embedding",
            (F.array_position(F.col("scores"), F.array_max("scores")) - 1)
            .cast("int")
            .alias("list_id"),
            F.array_max("scores").alias("best"),
        )
    spark = emb.sparkSession
    cent = spark.createDataFrame(
        [(i, [float(v) for v in c]) for i, c in enumerate(centroids)],
        "list_id int, cvec array<double>",
    )
    sim = _cosine(F.col("embedding"), F.col("cvec"))
    scored = emb.join(F.broadcast(cent)).select(
        "vec_id", "embedding", "list_id", sim.alias("sim")
    )
    byv = scored.groupBy("vec_id").agg(
        F.max(
            F.struct(F.col("sim").alias("s"), (-F.col("list_id")).alias("nl"))
        ).alias("m"),
        F.first("embedding").alias("embedding"),
    )
    return byv.select(
        "vec_id",
        "embedding",
        (-F.col("m.nl")).cast("int").alias("list_id"),
        F.col("m.s").alias("best"),
    )


def kmeans_fit(
    emb: DataFrame, k: int = IVF_N_LISTS, iters: int = 4
) -> tuple[list[list[float]], list[float]]:
    """Lloyd's k-means over the embedding column, the Spark-iterative shape:
    per iteration ONE partial-aggregating groupBy job (k×DIM avg aggregates,
    map-side combine — no explode, no N×k shuffle rows) plus a k-row driver
    collect that becomes the next broadcast. Deterministic: seeds are the k
    lowest vec_ids, assignment ties take the lowest list id.

    Returns (centroids, inertia_history) where inertia is the mean cosine
    DISTANCE (1 − similarity) to the assigned centroid — monotone
    non-increasing under Lloyd iterations up to the mean-vs-cosine
    re-normalization (asserted with tolerance in tests).

    At 10⁹ vectors this is k·DIM·P partial states per executor and k rows
    to the driver per iteration — the same plan shape at any scale.

    r6: the iterated input is spread to full parallelism and persisted for
    the duration of the fit (the MLlib-KMeans pattern — every Lloyd
    iteration re-reads it), then unpersisted before returning so nothing
    cached leaks past the fit."""
    work = spread(emb.select("vec_id", "embedding")).persist()
    try:
        seed_rows = work.orderBy("vec_id").limit(k).select("embedding").collect()
        centroids = [[float(v) for v in r.embedding] for r in seed_rows]
        history: list[float] = []
        # iteration-invariant aggregate columns, built ONCE: Column objects
        # are immutable expression wrappers, and constructing these 66
        # aggregates costs ~260 py4j round trips — inside the loop that was
        # pure per-iteration driver overhead
        agg_cols = [
            F.count("*").alias("members"),
            F.avg(F.lit(1.0) - F.col("best")).alias("mean_dist"),
            *[
                F.avg(F.element_at("embedding", i + 1).cast("double")).alias(f"c{i}")
                for i in range(DIM)
            ],
        ]
        for _ in range(iters):
            # assignment strategy is k-dependent (assign_lists): literal
            # scores array under KMEANS_LITERAL_MAX_K (shuffle-free, cosine
            # evaluated once per row), broadcast-join argmax above it
            # (codegen-safe at large k)
            agg = (
                assign_lists(work, centroids)
                .groupBy("list_id")
                .agg(*agg_cols)
                .collect()
            )
            total = sum(r["members"] for r in agg)
            history.append(sum(r["mean_dist"] * r["members"] for r in agg) / total)
            new_centroids = list(centroids)  # empty lists keep their old centroid
            for r in agg:
                new_centroids[r["list_id"]] = [r[f"c{i}"] for i in range(DIM)]
            centroids = new_centroids
    finally:
        work.unpersist()
    return centroids, history


def ivf_kmeans_topk(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int = IVF_NPROBE,
    k: int = IVF_N_LISTS,
    iters: int = 4,
) -> DataFrame:
    """IVF over LEARNED k-means lists instead of the label column: fit the
    coarse quantizer (kmeans_fit), assign every vector its list with a
    shuffle-free expression, then run the same probe→list-scan→top-k plan
    as :func:`ivf_topk`. nprobe = k degenerates to brute force (invariant
    pinned in tests)."""
    emb = read_table(spark, sf_dir, "embeddings")
    centroids, _ = kmeans_fit(emb, k=k, iters=iters)
    cent = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)], ["list_id", "cvec"]
    )
    # spread: the assignment + per-candidate exact cosine otherwise run on
    # the single-task scan of the tiny parquet (no-op on pre-split inputs)
    listed = assign_lists(spread(emb), centroids).select("vec_id", "embedding", "list_id")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    psim = F.round(_cosine(F.col("qe"), F.col("cvec")), 5)
    wprobe = W.partitionBy("query_id").orderBy(F.desc("psim"), F.asc("list_id"))
    probes = (
        q.crossJoin(F.broadcast(cent))
        .select("query_id", "qe", "list_id", psim.alias("psim"))
        .withColumn("pr", F.row_number().over(wprobe))
        .filter(F.col("pr") <= nprobe)
        .select("query_id", "qe", "list_id")
    )
    cand = listed.join(F.broadcast(probes), on="list_id").filter(
        F.col("vec_id") != F.col("query_id")
    )
    sim = F.round(_cosine(F.col("qe"), F.col("embedding")), 5)
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        cand.select("query_id", F.col("vec_id").alias("neighbor_id"), sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    )


def ivf_topk(spark: SparkSession, sf_dir: str, nprobe: int = IVF_NPROBE) -> DataFrame:
    """IVF search — the ANN scale path: a coarse quantizer (per-label
    centroids, computed as DIM per-dim avg aggregates in ONE groupBy
    pass, map-side combine, no explode) prunes the corpus to nprobe
    inverted lists per query; only those lists are scanned. Plan shape:
    centroids (10 rows) broadcast to queries → top-nprobe probe → tiny
    probe relation broadcast into an equi-join on label (partition-pruned
    list scan at scale) → per-query top-k window. Search cost drops from
    O(N) per query to O(N * nprobe / n_lists). With nprobe = IVF_N_LISTS
    the search is exhaustive and must equal brute force exactly — the
    invariant tests/test_simsearch.py pins."""
    emb = read_table(spark, sf_dir, "embeddings")
    cent = emb.groupBy("label").agg(
        F.array(
            *[
                F.round(F.avg(F.element_at("embedding", i + 1).cast("double")), 6)
                for i in range(DIM)
            ]
        ).alias("cvec")
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    psim = F.round(_cosine(F.col("qe"), F.col("cvec")), 5)
    wprobe = W.partitionBy("query_id").orderBy(F.desc("psim"), F.asc("label"))
    probes = (
        q.crossJoin(F.broadcast(cent))
        .select("query_id", "qe", "label", psim.alias("psim"))
        .withColumn("pr", F.row_number().over(wprobe))
        .filter(F.col("pr") <= nprobe)
        .select("query_id", "qe", "label")
    )
    # spread the list-scan side: per-candidate exact cosine is the dominant
    # cost and otherwise rides the single-task scan (centroids/queries stay
    # on the raw scan — their float accumulation order is unchanged)
    cand = spread(emb).join(F.broadcast(probes), on="label").filter(
        F.col("vec_id") != F.col("query_id")
    )
    sim = F.round(_cosine(F.col("qe"), F.col("embedding")), 5)
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        cand.select("query_id", F.col("vec_id").alias("neighbor_id"), sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    )


def register(query) -> None:
    @query(
        "ann_cosine_topk",
        sql=f"""
        SELECT query_id, neighbor_id, rank FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 5) DESC,
                            c.vec_id
                 ) AS rank
          FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
          WHERE q.vec_id < {N_QUERIES}
        ) WHERE rank <= {TOPK} ORDER BY query_id, rank
        """,
    )
    def ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
        emb = read_table(spark, sf_dir, "embeddings")
        q = emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
        )
        # spread the corpus side: N_QUERIES × N exact cosines otherwise all
        # evaluate on the single-task scan
        c = spread(emb).select(
            F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce")
        )
        sim = F.round(_cosine(F.col("qe"), F.col("ce")), 5)
        scored = (
            q.join(c, F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id", sim.alias("sim"))
        )
        w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOPK)
            .select("query_id", "neighbor_id", "rank")
            .orderBy("query_id", "rank")
        )

    @query(
        "embedding_cosine_neardup",
        sql=f"""
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) > {NEARDUP_THRESHOLD}
        ORDER BY vec_a, vec_b
        """,
    )
    def neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
        """All-pairs cosine via blocked matrix multiply: rows are hashed into
        B blocks, each block collapses to one (ids, matrix) row, block PAIRS
        cross-join (B² tiny rows, not N² data rows), and a vectorized numpy
        GEMM scores each tile inside an Arrow batch. This is the scalable
        all-pairs shape: per-tile work is dense BLAS, the shuffle moves each
        vector B times instead of N times."""
        emb = read_table(spark, sf_dir, "embeddings")
        n = parquet_row_count(sf_dir, "embeddings")
        return blocked_cosine_pairs(emb, NEARDUP_THRESHOLD, n_rows=n).orderBy("vec_a", "vec_b")

    @query(
        "ann_lsh_buckets",
        sql=f"""
        WITH p AS (SELECT {bits_sql(MIN_SIGN_BITS)} AS bits),
        planes AS (
          SELECT ti.i::INT AS i, ti.i::INT AS h
          FROM p, LATERAL unnest(range(p.bits)) AS ti(i)
        ),
        bk AS (
          SELECT e.vec_id, string_agg({PLANE_BIT_SQL}, '' ORDER BY pl.i) AS bucket
          FROM embeddings e CROSS JOIN planes pl
          GROUP BY e.vec_id
        )
        SELECT bucket, count(*) AS vectors
        FROM bk GROUP BY bucket HAVING count(*) >= 2 ORDER BY bucket
        """,
    )
    def lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
        emb = read_table(spark, sf_dir, "embeddings")
        bits = band_bits(parquet_row_count(sf_dir, "embeddings"), min_bits=MIN_SIGN_BITS)
        bucket = F.concat(*[_plane_bit(i) for i in range(bits)]).alias("bucket")
        return (
            emb.select(bucket)
            .groupBy("bucket")
            .agg(F.count("*").alias("vectors"))
            .filter(F.col("vectors") >= 2)
            .orderBy("bucket")
        )

    @query(
        "ann_lsh_candidate_pairs",
        sql=f"""
        WITH p AS (SELECT {bits_sql(MIN_SIGN_BITS)} AS bits),
        planes AS (
          SELECT ti.i::INT AS i, ti.i::INT AS h
          FROM p, LATERAL unnest(range(p.bits)) AS ti(i)
        ),
        bk AS (
          SELECT e.vec_id, string_agg({PLANE_BIT_SQL}, '' ORDER BY pl.i) AS bucket
          FROM embeddings e CROSS JOIN planes pl
          GROUP BY e.vec_id
        )
        SELECT a.vec_id AS vec_a, c.vec_id AS vec_b
        FROM bk a JOIN bk c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
        ORDER BY vec_a, vec_b
        """,
    )
    def lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
        emb = read_table(spark, sf_dir, "embeddings")
        bits = band_bits(parquet_row_count(sf_dir, "embeddings"), min_bits=MIN_SIGN_BITS)
        bucket = F.concat(*[_plane_bit(i) for i in range(bits)])
        b = emb.select("vec_id", bucket.alias("bucket"))
        a = b.alias("a")
        c = b.alias("c")
        return (
            a.join(c, (F.col("a.bucket") == F.col("c.bucket")) & (F.col("a.vec_id") < F.col("c.vec_id")))
            .select(F.col("a.vec_id").alias("vec_a"), F.col("c.vec_id").alias("vec_b"))
            .orderBy("vec_a", "vec_b")
        )

    @query(
        "embedding_label_centroids",
        sql="""
        SELECT label, count(*) AS members,
               round(avg(embedding[1]::DOUBLE), 5) AS c0,
               round(avg(embedding[2]::DOUBLE), 5) AS c1
        FROM embeddings GROUP BY label ORDER BY label
        """,
    )
    def centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
        """IVF coarse-quantizer building block: per-label centroid components."""
        emb = read_table(spark, sf_dir, "embeddings")
        return (
            emb.groupBy("label")
            .agg(
                F.count("*").alias("members"),
                F.round(F.avg(F.element_at("embedding", 1).cast("double")), 5).alias("c0"),
                F.round(F.avg(F.element_at("embedding", 2).cast("double")), 5).alias("c1"),
            )
            .orderBy("label")
        )

    @query(
        "ann_ivf_topk",
        sql=f"""
        WITH comp AS (
          SELECT label, i, round(avg(embedding[i+1]::DOUBLE), 6) AS c
          FROM embeddings, LATERAL unnest(range({DIM})) AS t(i)
          GROUP BY label, i
        ),
        cent AS (SELECT label, list(c ORDER BY i) AS cvec FROM comp GROUP BY label),
        probe AS (
          SELECT query_id, label FROM (
            SELECT q.vec_id AS query_id, c.label,
                   row_number() OVER (
                     PARTITION BY q.vec_id
                     ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], c.cvec), 5) DESC, c.label
                   ) AS pr
            FROM embeddings q, cent c WHERE q.vec_id < {N_QUERIES}
          ) WHERE pr <= {IVF_NPROBE}
        )
        SELECT query_id, neighbor_id, rank FROM (
          SELECT p.query_id, e.vec_id AS neighbor_id,
                 row_number() OVER (
                   PARTITION BY p.query_id
                   ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 5) DESC,
                            e.vec_id
                 ) AS rank
          FROM probe p JOIN embeddings e ON e.label = p.label
               JOIN embeddings q ON q.vec_id = p.query_id
          WHERE e.vec_id <> p.query_id
        ) WHERE rank <= {TOPK} ORDER BY query_id, rank
        """,
    )
    def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
        """See :func:`ivf_topk` — registered at the default nprobe."""
        return ivf_topk(spark, sf_dir, IVF_NPROBE)

    # Band count per width, precomputed in Python (bands_for_bits) and
    # handed to the oracle as an integer CASE lookup — no cross-engine float
    # math can flip the banding.
    bands_case = " ".join(
        f"WHEN {b} THEN {bands_for_bits(b)}" for b in range(MIN_BAND_BITS, 33)
    )

    @query(
        "ann_lsh_verified_neardup",
        sql=f"""
        WITH p AS (SELECT {bits_sql(MIN_BAND_BITS)} AS bits),
        p2 AS (SELECT bits, (CASE bits {bands_case} ELSE {MAX_BANDS} END) AS n_bands FROM p),
        planes AS (
          SELECT tb.band::INT AS band, ti.i::INT AS i,
                 (tb.band * p2.bits + ti.i)::INT AS h
          FROM p2, LATERAL unnest(range(p2.n_bands)) AS tb(band),
               LATERAL unnest(range(p2.bits)) AS ti(i)
        ),
        bands AS (
          SELECT e.vec_id, pl.band, string_agg({PLANE_BIT_SQL}, '' ORDER BY pl.i) AS bkey
          FROM embeddings e CROSS JOIN planes pl
          GROUP BY e.vec_id, pl.band
        ),
        cand AS (
          SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
          FROM bands a JOIN bands c
            ON a.band = c.band AND a.bkey = c.bkey AND a.vec_id < c.vec_id
        )
        SELECT cand.vec_a, cand.vec_b,
               round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 5) AS sim
        FROM cand JOIN embeddings ea ON ea.vec_id = cand.vec_a
                  JOIN embeddings eb ON eb.vec_id = cand.vec_b
        WHERE list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) > {NEARDUP_THRESHOLD}
        ORDER BY vec_a, vec_b
        """,
    )
    def lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The composed scale-path near-dup (LSH candidates → exact verify),
        end-to-end as one plan — see :func:`lsh_verified_pairs`. The oracle
        replicates the same adaptive banding (row-count-derived bit width is
        pure-integer SQL; the band-count S-curve lookup is a precomputed
        CASE), so the driver certifies the composed pipeline AT ANY SF; the
        candidate stage is one posexplode self-join on (band, bkey), recall
        vs the exact all-pairs form is measured in tests/test_simsearch.py
        and recorded in BENCH/BASELINE.md."""
        emb = read_table(spark, sf_dir, "embeddings")
        n = parquet_row_count(sf_dir, "embeddings")
        return lsh_verified_pairs(emb, n_rows=n).orderBy("vec_a", "vec_b")

    @query("ann_ivf_kmeans_topk")  # rows-only: iterative Lloyd fit (per-brief
    # exemption for iterative algorithms); invariants pinned in pytest —
    # inertia monotone, nprobe=k == brute force, separable-cluster recovery
    def ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
        return ivf_kmeans_topk(spark, sf_dir)


# --- product quantization (PQ) ---------------------------------------------
# The memory-side ANN scale path (Jégou et al. 2011): split DIM into
# PQ_M subspaces, k-means each subspace to PQ_K codes, store each vector as
# PQ_M uint8 codes (64×f32 = 256 B → 8 B at M=8), and answer queries with
# asymmetric distance computation (ADC): per-query L2 tables of size M×K,
# candidate score = sum of M table lookups — no float vector ever touched
# at query time. Composable with the IVF list pruning above (IVF-PQ).

PQ_M = 8  # subspaces (DIM/PQ_M dims each)
PQ_K = 16  # codes per subspace


def pq_fit(
    emb: DataFrame, m: int = PQ_M, k: int = PQ_K, iters: int = 3
) -> list[list[list[float]]]:
    """Per-subspace Lloyd k-means, ALL subspaces in each single job: explode
    every vector into (sub_id, subvec) rows once per iteration, assign via
    the broadcast codebook matrix literal, and update every (sub_id, code)
    centroid in one groupBy with map-side combine. Per iteration: one job,
    m·k rows to the driver. Deterministic seeds (first k vectors' slices)
    and first-argmin tie-break, so the codebook is a pure corpus function."""
    d = DIM // m
    seed_rows = emb.orderBy("vec_id").limit(k).select("embedding").collect()
    books = [
        [[float(v) for v in r.embedding[s * d : (s + 1) * d]] for r in seed_rows]
        for s in range(m)
    ]
    # r6: spread + persist for the duration of the fit (every iteration
    # re-reads the exploded subvector relation), released before returning
    subs = spread(emb).select(
        F.posexplode(
            F.array(*[F.slice("embedding", s * d + 1, d) for s in range(m)])
        ).alias("sub_id", "subvec")
    ).persist()
    try:
        for _ in range(iters):
            matrix = _matrix_expr([[[float(v) for v in c] for c in book] for book in books])
            dists = F.transform(
                F.element_at(matrix, F.col("sub_id") + 1),
                lambda c: F.aggregate(
                    F.zip_with(
                        F.col("subvec"),
                        c,
                        lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
            )
            agg = (
                subs.select(
                    "sub_id",
                    (F.array_position(dists, F.array_min(dists)) - 1)
                    .cast("int")
                    .alias("code"),
                    "subvec",
                )
                .groupBy("sub_id", "code")
                .agg(
                    *[
                        F.avg(F.element_at("subvec", i + 1).cast("double")).alias(f"c{i}")
                        for i in range(d)
                    ]
                )
                .collect()
            )
            new_books = [list(b) for b in books]  # empty cells keep old centroid
            for r in agg:
                new_books[r.sub_id][r.code] = [r[f"c{i}"] for i in range(d)]
            books = new_books
    finally:
        subs.unpersist()
    return books


def _pq_codes_expr(books: list[list[list[float]]]):
    """array<int> of PQ_M nearest-code ids per row — one matrix literal,
    shuffle-free, constant codegen shape across refits."""
    m = len(books)
    d = DIM // m
    matrix = _matrix_expr([[[float(v) for v in c] for c in book] for book in books])
    def code_for(s: int):
        sub = F.slice("embedding", s * d + 1, d)
        dists = F.transform(
            F.element_at(matrix, s + 1),
            lambda c: F.aggregate(
                F.zip_with(sub, c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )
        return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
    return F.array(*[code_for(s) for s in range(m)])


def pq_encode(emb: DataFrame, books: list[list[list[float]]]) -> DataFrame:
    """(vec_id, codes array<int>) — the 8-byte-per-vector representation."""
    return emb.select("vec_id", _pq_codes_expr(books).alias("codes"))


def pq_topk(
    spark: SparkSession,
    sf_dir: str,
    topk: int = TOPK,
    n_queries: int = N_QUERIES,
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = 3,
    books: list[list[list[float]]] | None = None,
) -> DataFrame:
    """ADC top-k over PQ codes: queries keep full precision, corpus rows are
    codes only. Per query the M×K distance table rides as ONE literal; the
    scan cost is M array lookups + adds per candidate — no N×DIM floats.
    Plan: encoded corpus (shuffle-free projection) × broadcast query tables
    → per-query top-k window. Ties break to the lowest neighbor id.
    Pass ``books`` to search with a pre-fitted codebook (tests use this to
    pin the zero-quantization-error equivalence with the TRUE codebook —
    a fresh Lloyd fit may land on a different local optimum)."""
    emb = read_table(spark, sf_dir, "embeddings")
    if books is None:
        books = pq_fit(emb, m=m, k=k, iters=iters)
    d = DIM // m
    # spread: the m×k×(DIM/m) nearest-code encode is the heavy per-row step
    encoded = pq_encode(spread(emb), books)
    q_rows = (
        emb.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect()
    )
    tables = []  # (query_id, M×K double table) as rows of a broadcast df
    for r in q_rows:
        qv = [float(v) for v in r.embedding]
        tab = [
            [
                sum((qv[s * d + i] - c[i]) ** 2 for i in range(d))
                for c in books[s]
            ]
            for s in range(m)
        ]
        tables.append((int(r.vec_id), tab))
    qdf = spark.createDataFrame(tables, "query_id long, tab array<array<double>>")
    adc = F.round(
        F.aggregate(
            F.zip_with(F.col("codes"), F.col("tab"), lambda c, t: F.element_at(t, c + 1)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )
    w = W.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("neighbor_id"))
    return (
        encoded.crossJoin(F.broadcast(qdf))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), adc.alias("adist"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    )


PQ_QUANT = 64  # fixed-books twin: floor(x*64) int quantization, exact cross-engine


def _fixed_books_int(m: int = PQ_M, k: int = PQ_K, d: int = DIM // PQ_M) -> list[list[list[int]]]:
    """Deterministic INTEGER codebook from a pure-integer law — the same law
    is embedded in the DuckDB oracle, so encode/ADC arithmetic is exact in
    both engines (no float summation-order hazard)."""
    return [
        [[((s * 31 + c * 17 + i * 7) % 129) - 64 for i in range(d)] for c in range(k)]
        for s in range(m)
    ]


def pq_topk_fixed_books(
    spark: SparkSession,
    sf_dir: str,
    topk: int = TOPK,
    n_queries: int = N_QUERIES,
    m: int = PQ_M,
    k: int = PQ_K,
) -> DataFrame:
    """ADC search with an injected deterministic codebook over integer-
    quantized vectors — the query-time half of PQ (encode + table lookup +
    top-k), oracle-backed; the Lloyd fit stays in the rows-only twin.
    Same plan shape as pq_topk: shuffle-free encode projection × broadcast
    per-query ADC tables → per-query top-k window. All distances are exact
    BIGINT sums, so ranks are engine-independent without rounding."""
    emb = read_table(spark, sf_dir, "embeddings")
    d = DIM // m
    books = _fixed_books_int(m, k, d)
    qe = F.transform(
        F.col("embedding"), lambda x: F.floor(x.cast("double") * PQ_QUANT).cast("long")
    )
    quant = emb.select("vec_id", qe.alias("qe"))
    matrix = _matrix_expr(books)

    def code_for(s: int):
        sub = F.slice("qe", s * d + 1, d)
        dists = F.transform(
            F.element_at(matrix, s + 1),
            lambda c: F.aggregate(
                F.zip_with(sub, c, lambda x, y: (x - y) * (x - y)),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ),
        )
        return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")

    # spread: integer encode (m×k×d squared-diff folds per row) off the
    # single-task scan; all-BIGINT arithmetic, so values are unaffected
    encoded = spread(quant).select(
        "vec_id", F.array(*[code_for(s) for s in range(m)]).alias("codes")
    )
    q_rows = quant.filter(F.col("vec_id") < n_queries).collect()
    tables = []
    for r in q_rows:
        qv = [int(v) for v in r.qe]
        tab = [
            [sum((qv[s * d + i] - books[s][c][i]) ** 2 for i in range(d)) for c in range(k)]
            for s in range(m)
        ]
        tables.append((int(r.vec_id), tab))
    qdf = spark.createDataFrame(tables, "query_id long, tab array<array<long>>")
    adc = F.aggregate(
        F.zip_with(F.col("codes"), F.col("tab"), lambda c, t: F.element_at(t, c + 1)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    w = W.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("neighbor_id"))
    return (
        encoded.crossJoin(F.broadcast(qdf))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), adc.alias("adist"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    )


def register_pq(query) -> None:
    @query("ann_pq_topk")  # rows-only: iterative per-subspace Lloyd fit
    # (per-brief exemption); zero-quantization-error equivalence to exact
    # L2 search and recall measurement pinned in tests/test_simsearch.py
    def ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
        return pq_topk(spark, sf_dir)

    _d = DIM // PQ_M

    @query(
        "ann_pq_topk_fixed_books",
        sql=f"""
        WITH qv AS (
          SELECT vec_id,
                 list_transform(embedding,
                                x -> CAST(floor(CAST(x AS DOUBLE) * {PQ_QUANT}) AS BIGINT)) AS qe
          FROM embeddings
        ),
        books AS (
          SELECT CAST(s.s AS INT) AS s, CAST(c.c AS INT) AS c, CAST(i.i AS INT) AS i,
                 CAST(((s.s*31 + c.c*17 + i.i*7) % 129) - 64 AS BIGINT) AS val
          FROM (SELECT unnest(range({PQ_M})) AS s) s,
               (SELECT unnest(range({PQ_K})) AS c) c,
               (SELECT unnest(range({_d})) AS i) i
        ),
        sub AS (
          SELECT v.vec_id, b.s, b.c,
                 CAST(sum((v.qe[b.s*{_d} + b.i + 1] - b.val)
                        * (v.qe[b.s*{_d} + b.i + 1] - b.val)) AS BIGINT) AS dist
          FROM qv v, books b
          GROUP BY v.vec_id, b.s, b.c
        ),
        codes AS (
          -- min over dist*K+c: tie on dist -> lowest c (= Spark's first argmin)
          SELECT vec_id, s, CAST(min(dist * {PQ_K} + c) % {PQ_K} AS INT) AS code
          FROM sub GROUP BY vec_id, s
        ),
        qtab AS (
          SELECT vec_id AS query_id, s, c, dist AS qdist FROM sub WHERE vec_id < {N_QUERIES}
        ),
        cand AS (
          SELECT qt.query_id, cd.vec_id AS neighbor_id, CAST(sum(qt.qdist) AS BIGINT) AS adist
          FROM codes cd JOIN qtab qt ON qt.s = cd.s AND qt.c = cd.code
          WHERE cd.vec_id <> qt.query_id
          GROUP BY qt.query_id, cd.vec_id
        )
        SELECT query_id, neighbor_id, rank FROM (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rank
          FROM cand
        ) WHERE rank <= {TOPK} ORDER BY query_id, rank
        """,
    )
    def ann_pq_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
        return pq_topk_fixed_books(spark, sf_dir)


def ivf_pq_topk(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int = IVF_NPROBE,
    topk: int = TOPK,
    n_queries: int = N_QUERIES,
    m: int = PQ_M,
    k: int = PQ_K,
    books: list[list[list[float]]] | None = None,
) -> DataFrame:
    """IVF-PQ — the composed billion-scale ANN shape (Jégou et al. 2011
    IVFADC): the coarse quantizer (per-label lists, as in :func:`ivf_topk`)
    prunes the corpus to nprobe inverted lists per query, and the fine
    search runs over PQ CODES with per-query ADC tables — so the scan
    touches ~N·nprobe/n_lists candidates at M byte-lookups each, never a
    float vector. Plan: encoded corpus keeps its list id (one shuffle-free
    projection) → probe relation (queries × broadcast centroids → top-nprobe)
    broadcast into an equi-join on list id (partition-pruned at scale) →
    per-query top-k window. With nprobe = all lists and a zero-error
    codebook this MUST equal exact search (invariant pinned in tests)."""
    emb = read_table(spark, sf_dir, "embeddings")
    if books is None:
        books = pq_fit(emb, m=m, k=k)
    d = DIM // m
    encoded = spread(emb).select("vec_id", "label", _pq_codes_expr(books).alias("codes"))
    cent = emb.groupBy("label").agg(
        F.array(
            *[
                F.round(F.avg(F.element_at("embedding", i + 1).cast("double")), 6)
                for i in range(DIM)
            ]
        ).alias("cvec")
    )
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    psim = F.round(_cosine(F.col("qe"), F.col("cvec")), 5)
    wprobe = W.partitionBy("query_id").orderBy(F.desc("psim"), F.asc("label"))
    q_rows = q.collect()
    tables = []
    for r in q_rows:
        qv = [float(v) for v in r.qe]
        tab = [
            [sum((qv[s * d + i] - c[i]) ** 2 for i in range(d)) for c in books[s]]
            for s in range(m)
        ]
        tables.append((int(r.query_id), tab))
    qtab = spark.createDataFrame(tables, "query_id long, tab array<array<double>>")
    probes = (
        q.crossJoin(F.broadcast(cent))
        .select("query_id", "label", psim.alias("psim"))
        .withColumn("pr", F.row_number().over(wprobe))
        .filter(F.col("pr") <= nprobe)
        .select("query_id", "label")
        .join(qtab, "query_id")
    )
    adc = F.round(
        F.aggregate(
            F.zip_with(F.col("codes"), F.col("tab"), lambda c, t: F.element_at(t, c + 1)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )
    w = W.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("neighbor_id"))
    return (
        encoded.join(F.broadcast(probes), on="label")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), adc.alias("adist"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", "neighbor_id", "rank")
        .orderBy("query_id", "rank")
    )


def register_ivf_pq(query) -> None:
    @query("ann_ivf_pq_topk")  # rows-only: iterative PQ fit (per-brief
    # exemption); exhaustive-probe + zero-error == exact-search invariant
    # pinned in tests/test_simsearch.py
    def ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
        return ivf_pq_topk(spark, sf_dir)
