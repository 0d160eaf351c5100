"""Similarity search over embedding columns (``array<float>``).

Extension surface (BASELINE.json north star):
- brute-force cosine top-k — the exact baseline; a single pass, no
  shuffle until the final TakeOrderedAndProject;
- random-hyperplane LSH bucketing — the scale path: candidates meet
  only inside their bucket, so the scan shrinks by ~2^planes. The
  hyperplanes are deterministic (md5-derived integers), so the oracle
  reproduces buckets bit-for-bit.

All arithmetic is element-wise double with left-to-right array
reduction — identical IEEE results in any engine.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_PLANES = 8
# Scale note (100 TB): 8 planes ⇒ 2^8 = 256 buckets — fine at demo SF,
# quadratic-in-bucket at N rows (expected candidate pairs ~ N²/2^planes).
# Pick planes ~ log2(N) so the expected bucket size (N/2^planes) stays
# O(1): e.g. N = 10^9 docs ⇒ ~30 planes. Every operator below takes an
# n_planes parameter; tests/test_dedup_sim_params.py exercises 16.


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Left-to-right ordered dot product (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def hyperplane(plane: int, dim: int) -> list[int]:
    """Deterministic pseudo-random hyperplane: md5-derived ints in
    [-500, 499]. Computed driver-side (hashlib md5 == SQL md5) and
    inlined as literals in both engines."""
    out = []
    for d in range(dim):
        h = hashlib.md5(f"{plane}|{d}".encode()).hexdigest()[:8]
        out.append(int(h, 16) % 1000 - 500)
    return out


def array_lit(values: list[float]) -> Column:
    """Literal double array as ONE expr — element-wise ``F.lit`` loops
    cost one py4j round trip per element (a 64-dim vector = 65 calls)."""
    return F.expr(f"array({', '.join(f'{float(v)}D' for v in values)})")


def dot_expr(a_sql: str, b_sql: str) -> str:
    """``dot`` as a SQL string (same left-to-right reduction)."""
    return (
        f"aggregate(zip_with({a_sql}, {b_sql}, (x, y) -> x * y), "
        "0.0D, (acc, x) -> acc + x)"
    )


def sq_dist_expr(a_sql: str, b_sql: str) -> str:
    """Squared L2 distance as a SQL string: a left-to-right double fold
    over the per-dimension squared differences, bit-identical to the
    DuckDB oracles' ``list_sum(list_transform(...))``. Every k-means,
    PQ and ANN distance uses this one expression."""
    return (
        f"aggregate(zip_with({a_sql}, {b_sql}, (x, y) -> (x - y) * (x - y)), "
        "0.0D, (acc, x) -> acc + x)"
    )


def lsh_bucket_expr(vec_sql: str, dim: int, n_planes: int = N_PLANES) -> str:
    """Sign-bit bucket id from ``n_planes`` hyperplane projections, as a
    single SQL string — the Column-API form costs ~(n_planes × dim)
    py4j round trips at plan-build time."""
    terms = []
    for p in range(n_planes):
        plane = (
            "array("
            + ", ".join(f"{float(v)}D" for v in hyperplane(p, dim))
            + ")"
        )
        terms.append(f"if({dot_expr(vec_sql, plane)} > 0, {2**p}L, 0L)")
    return "(" + " + ".join(terms) + ")"


def py_lsh_bucket(vec: list[float], dim: int, n_planes: int = N_PLANES) -> int:
    """Driver-side bucket for a literal query vector. Left-to-right
    double accumulation — bit-identical to the SQL ``aggregate`` fold,
    so the scalar compares equal to the column on every engine."""
    bucket = 0
    for p in range(n_planes):
        acc = 0.0
        for x, y in zip(vec, hyperplane(p, dim)):
            acc += float(x) * float(y)
        if acc > 0:
            bucket += 1 << p
    return bucket


def brute_force_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k against a literal query vector."""
    q = array_lit(query_vec)
    scored = embeddings.select(
        id_col,
        F.round(cosine(_as_double(F.col(vec_col)), q), 6).alias("cosine_sim"),
    )
    return scored.orderBy(F.desc("cosine_sim"), F.asc(id_col)).limit(k)


def lsh_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = N_PLANES,
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's LSH bucket.

    At 100 TB the bucket column is precomputed at ingest and the table
    is partitioned/bucketed by it, turning ANN into a pruned scan.
    """
    vec_d = _as_double(F.col(vec_col))
    q = array_lit(query_vec)
    bucket = F.expr(
        lsh_bucket_expr(f"transform({vec_col}, x -> double(x))", dim, n_planes)
    )
    with_bucket = embeddings.withColumn("bucket", bucket)
    # The query's bucket is a plain scalar computed the same way
    # (left-to-right fold — bit-identical to the SQL aggregate).
    candidates = with_bucket.filter(
        F.col("bucket") == F.lit(py_lsh_bucket(query_vec, dim, n_planes))
    )
    scored = candidates.select(
        id_col,
        "bucket",
        F.round(cosine(vec_d, q), 6).alias("cosine_sim"),
    )
    return scored.orderBy(F.desc("cosine_sim"), F.asc(id_col)).limit(k)


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    dim: int,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = N_PLANES,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: candidates via shared
    random-hyperplane LSH bucket (equi-join, never all-pairs), verified
    with the exact cosine and filtered at ``threshold``.

    The norm is materialized once per row before the self-join so pair
    scoring is one dot product. At 100 TB the bucket stage is the
    shuffle key — same-bucket rows co-locate; size ``n_planes`` ~
    log2(N) (module docstring) so per-bucket candidate volume stays
    bounded as N grows.

    Zero vectors have no direction, hence no cosine: they are filtered
    out before the self-join (``nrm > 0``). Without the guard 0/0 = NaN
    — and Spark orders NaN ABOVE every real number, so a degenerate
    vector would pass any ``>= threshold`` filter and pair with its
    whole bucket (same handling as ``quantize_int8``'s amax == 0)."""
    v = _as_double(F.col(vec_col))
    base = embeddings.select(F.col(id_col).alias("vid"), v.alias("v")).select(
        "vid",
        "v",
        F.expr(lsh_bucket_expr("v", dim, n_planes)).alias("bucket"),
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("nrm"),
    ).filter(F.col("nrm") > 0.0)
    a = base.select(
        F.col("vid").alias("vec_a"),
        F.col("v").alias("va"),
        "bucket",
        F.col("nrm").alias("na"),
    )
    b = base.select(
        F.col("vid").alias("vec_b"),
        F.col("v").alias("vb"),
        "bucket",
        F.col("nrm").alias("nb"),
    )
    cos = F.round(
        dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def label_centroids(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label element-wise mean, long format (label, dim, centroid).

    posexplode + two-key hash agg: fully parallel, no collect, no UDF;
    at scale this is one shuffle keyed by (label, dim).
    """
    exploded = embeddings.select(
        label_col, F.posexplode(_as_double(F.col(vec_col))).alias("dim", "v")
    )
    return exploded.groupBy(label_col, "dim").agg(
        F.round(F.avg("v"), 6).alias("centroid"),
        F.count("*").alias("n_vectors"),
    )


def quantize_int8(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric int8 scalar quantization — the standard ANN-index
    compression (4x smaller than float32, SIMD-friendly int dot
    products): per vector, ``code_i = round(127 * v_i / amax)`` with
    ``amax = max |v_i|``.

    Output is (vec_id, scale_micro, codes): the per-vector dequant
    scale ``amax / 127`` in integer micro-units plus the int8 code
    array. Every result column is integer-exact: amax is an order-free
    max, each code is one deterministic double divide+round — nothing
    crosses the engine boundary as a free-form double.

    Plan: two layered projections, zero shuffle. Layering matters:
    referencing the amax EXPRESSION inside the code lambda would
    re-evaluate the O(dim) max per element (interpreted HOF eval has no
    subexpression cache) — O(dim^2) per row.
    """
    v = emb.select(
        F.col(id_col).alias("vec_id"),
        F.expr(f"transform({vec_col}, x -> double(x))").alias("v"),
    )
    with_amax = v.select(
        "vec_id", "v",
        F.array_max(F.transform(F.col("v"), F.abs)).alias("amax"),
    )
    codes = F.when(
        F.col("amax") == 0.0,
        F.expr("transform(v, x -> 0)"),
    ).otherwise(
        F.expr("transform(v, x -> cast(round(127.0D * x / amax) AS int))")
    )
    return with_amax.select(
        "vec_id",
        F.round(F.col("amax") / 127.0 * 1e6).cast("long").alias("scale_micro"),
        codes.alias("codes"),
    )


def quantization_report(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Driver-checkable integer surface over ``quantize_int8``:
    (vec_id, scale_micro, code_sum, code_md5) — the md5 commits to every
    code byte, the sum is a quick integrity aggregate."""
    q = quantize_int8(emb, id_col, vec_col)
    code_strs = F.expr("transform(codes, x -> cast(x AS string))")
    return q.select(
        "vec_id",
        "scale_micro",
        F.expr(
            "aggregate(codes, cast(0 AS bigint), (acc, x) -> acc + x)"
        ).alias("code_sum"),
        F.md5(F.array_join(code_strs, ",")).alias("code_md5"),
    )


def knn_join_topk(
    embeddings: DataFrame,
    dim: int,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = N_PLANES,
    exclude_label_col: str | None = None,
) -> DataFrame:
    """Approximate k-NN JOIN: for EVERY vector, its top-``k`` nearest
    same-bucket neighbors by exact cosine — the batch form of ANN that
    feeds SemDedup-style pruning, kNN graphs, and hard-negative mining
    (one query vector is ``lsh_topk``; this is all of them at once).

    Candidates meet only inside their random-hyperplane bucket (an
    equi-join on the bucket id — never the O(N²) cross join), then the
    per-query top-k is a window rank PARTITIONED BY the query vector
    over its few candidates, never a global sort. Both directions of
    each candidate pair are kept (neighbor lists are per-query, unlike
    the unordered near-dup pairs). Vectors alone in their bucket have
    no neighbors and are absent — the recall/coverage trade is governed
    by ``n_planes`` (fewer planes → bigger buckets → better recall,
    more candidate work; multi-probe or band-OR extends coverage the
    same way the MinHash LSH bands do — see ``knn_join_topk_banded``).
    Ranking keys on the ROUNDED cosine with the neighbor id as
    tie-break: a deterministic total order on every engine.

    Zero vectors are filtered on BOTH sides before the bucket join
    (``nrm > 0``): cosine against a zero vector is 0/0 = NaN, and
    Spark's descending sort ranks NaN above every real similarity, so
    an unguarded degenerate vector would surface as the TOP neighbor
    of its whole bucket.

    ``exclude_label_col`` flips the join into HARD-NEGATIVE MINING
    (the contrastive-training data op): candidates must carry a
    DIFFERENT label than the anchor, so the top-k are the most-similar
    wrong-class vectors — the pairs a contrastive loss learns most
    from. The output then also carries ``label_a``/``label_b``."""
    from pyspark.sql.window import Window

    v = _as_double(F.col(vec_col))
    lbl = [F.col(exclude_label_col).alias("lbl")] if exclude_label_col else []
    from supplier_performance_data_pipeline_spark.sources.readers import (
        spread_scan,
    )

    # r13: the bucketed/normed base feeds BOTH sides of the bucket
    # self-join — materialize it once (localCheckpoint) instead of
    # re-deriving the hyperplane buckets and norms per side, and
    # spread the single-split local scan first so the interpreted
    # bucket/norm folds run cluster-wide (spread_scan: no-op at
    # 100 TB scan widths).
    base = spread_scan(
        embeddings.select(F.col(id_col).alias("vid"), v.alias("v"), *lbl),
        "vid",
    ).select(
        "vid",
        "v",
        F.expr(lsh_bucket_expr("v", dim, n_planes)).alias("bucket"),
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("nrm"),
        *(["lbl"] if exclude_label_col else []),
    ).filter(F.col("nrm") > 0.0).localCheckpoint()
    la = [F.col("lbl").alias("label_a")] if exclude_label_col else []
    lb = [F.col("lbl").alias("label_b")] if exclude_label_col else []
    a = base.select(
        F.col("vid").alias("vec_a"), F.col("v").alias("va"),
        "bucket", F.col("nrm").alias("na"), *la,
    )
    b = base.select(
        F.col("vid").alias("vec_b"), F.col("v").alias("vb"),
        "bucket", F.col("nrm").alias("nb"), *lb,
    )
    pair_filter = F.col("vec_a") != F.col("vec_b")
    if exclude_label_col:
        pair_filter = pair_filter & (F.col("label_a") != F.col("label_b"))
    cos = F.round(
        dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
    )
    out_lbls = ["label_a", "label_b"] if exclude_label_col else []
    scored = (
        a.join(b, "bucket")
        .filter(pair_filter)
        .select("vec_a", "vec_b", *out_lbls, cos.alias("cosine_sim"))
    )
    w = Window.partitionBy("vec_a").orderBy(
        F.desc("cosine_sim"), F.asc("vec_b")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def banded_buckets_expr(
    vec_sql: str, dim: int, n_bands: int, planes_per_band: int
) -> str:
    """Array of per-band LSH bucket ids as ONE SQL expression.

    Band ``b`` hashes with hyperplanes ``b*planes_per_band ..
    (b+1)*planes_per_band - 1`` (globally-indexed, so band 0 of a
    banded scheme IS the single bucket of ``lsh_bucket_expr`` with the
    same plane count — banded with ``n_bands=1`` degenerates exactly
    to the single-bucket operator). Bit positions restart per band:
    bucket ids live in [0, 2^planes_per_band)."""
    bands = []
    for b in range(n_bands):
        terms = []
        for i in range(planes_per_band):
            p = b * planes_per_band + i
            plane = (
                "array("
                + ", ".join(f"{float(v)}D" for v in hyperplane(p, dim))
                + ")"
            )
            terms.append(f"if({dot_expr(vec_sql, plane)} > 0, {2**i}L, 0L)")
        bands.append("(" + " + ".join(terms) + ")")
    return "array(" + ", ".join(bands) + ")"


def knn_join_topk_banded(
    embeddings: DataFrame,
    dim: int,
    k: int,
    n_bands: int = 2,
    planes_per_band: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Band-OR k-NN join: candidates meet if they share a bucket in ANY
    of ``n_bands`` independent hyperplane bands — the OR-of-bands
    coverage extension the MinHash LSH side already has, applied to the
    embedding k-NN join. A single-bucket join (``knn_join_topk``)
    leaves every vector that is alone in its bucket with NO neighbors;
    each extra band re-rolls that vector's bucket with fresh
    hyperplanes, so coverage (and recall) rises monotonically in
    ``n_bands`` at the cost of ~n_bands× candidate volume. Tune
    ``planes_per_band`` ~ log2(N) for O(1) expected bucket size and
    ``n_bands`` for the recall target — the standard S-curve trade.

    Plan shape: one generator expansion (posexplode of the per-band
    bucket array — ×n_bands rows, shuffle-free), a (band, bucket)
    equi-join — never all-pairs — then DISTINCT over the scored pairs
    (a pair matching in several bands must count once; the cosine is
    deterministic, so full-row distinct dedups exactly) and the same
    per-query window rank as the single-bucket join. Zero vectors are
    excluded on both sides (no direction → no cosine; see
    ``knn_join_topk``)."""
    from pyspark.sql.window import Window

    v = _as_double(F.col(vec_col))
    from supplier_performance_data_pipeline_spark.sources.readers import (
        spread_scan,
    )

    # r13: materialize the banded/normed base once for both join sides
    # and spread the single-split local scan first (no-op at scale) —
    # same reasoning as ``knn_join_topk``.
    base = (
        spread_scan(
            embeddings.select(F.col(id_col).alias("vid"), v.alias("v")),
            "vid",
        )
        .select(
            "vid",
            "v",
            F.posexplode(
                F.expr(banded_buckets_expr("v", dim, n_bands, planes_per_band))
            ).alias("band", "bucket"),
            F.sqrt(dot(F.col("v"), F.col("v"))).alias("nrm"),
        )
        .filter(F.col("nrm") > 0.0)
        .localCheckpoint()
    )
    a = base.select(
        F.col("vid").alias("vec_a"), F.col("v").alias("va"),
        "band", "bucket", F.col("nrm").alias("na"),
    )
    b = base.select(
        F.col("vid").alias("vec_b"), F.col("v").alias("vb"),
        "band", "bucket", F.col("nrm").alias("nb"),
    )
    cos = F.round(
        dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
    )
    scored = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("vec_a") != F.col("vec_b"))
        .select("vec_a", "vec_b", cos.alias("cosine_sim"))
        .distinct()
    )
    w = Window.partitionBy("vec_a").orderBy(
        F.desc("cosine_sim"), F.asc("vec_b")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )
