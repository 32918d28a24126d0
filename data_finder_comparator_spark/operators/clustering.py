"""Deterministic distributed k-means (Lloyd) — IVF centroid training.

`operators/similarity.ivf_topk` routes queries through sampled
centroids (its docstring: "a production system would k-means"). This
is that trainer: a fixed number of Lloyd rounds with deterministic
seeds (the k lowest vec_ids) and deterministic tie-breaks (argmin by
(dist², centroid id)), so the result is exactly reproducible and
oracle-checkable — unlike MLlib KMeans, whose random init/parallel
reductions give run-to-run drift. MLlib remains the production answer
when reproducibility-to-the-bit is not a requirement; the shuffle
shape here is the same one it uses (assign via broadcast centroids,
update via per-dimension partial aggregation).

Arithmetic discipline: every cross-engine-compared sum accumulates in
DECIMAL, because double addition is non-associative and Spark's
partial aggregation visits rows in a different order than a
sequential engine — with decimals the sums are exact and
order-independent, so Spark's own retries/partitioning can never
change the result either (same rule as the decimal sums in
queries_relational).

Data layout: vectors arrive flattened as (vec_id, dim, val) — one row
per dimension. The explode costs ×dims rows, but both phases then
become plain hash aggregations: distance = broadcast-join the k×dims
centroid table on `dim` (map-side, no shuffle) + partial-agg
sum((val-cval)²) per (vec, centroid); update = partial-agg decimal
sums per (centroid, dim). Nothing is ever collected to the driver;
centroids stay a k×dims DataFrame end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_DIST_DEC = "decimal(38,18)"
_SUM_DEC = "decimal(28,12)"


def flatten_vectors(vecs: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, array<float>) -> (vec_id, dim, val double), dim 1-based."""
    return vecs.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.posexplode(vec_col).alias("pos", "val"),
    ).select(
        "vec_id", (F.col("pos") + 1).alias("dim"), F.col("val").cast("double").alias("val")
    )


def kmeans_lloyd_dense(
    vecs: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    dims: int,
    iterations: int = 2,
    cache_registry: list | None = None,
) -> DataFrame:
    """Array-native Lloyd: identical results to
    ``kmeans_lloyd(flatten_vectors(vecs, id_col, vec_col), k,
    iterations)`` with ONE exchange per round instead of three.

    The flattened form pays, per round: the ×dims row explode, a
    (vec, centroid) distance partial-aggregation exchange, a
    per-``vec_id`` argmin window sort, and the (centroid, dim) update
    exchange. Here distance + argmin are per-ROW array arithmetic
    against a one-row broadcast of the k centroid vectors (zip_with +
    fold in whole-stage codegen — no dim join, no window), so the only
    exchange left is the k-group update aggregation, whose partial
    aggregation ships k wide rows per task.

    Exactness argument (why this is oracle-hash-safe, the r18 verdict's
    stated risk):

    * each squared-diff term is the same double arithmetic
      ``(x - y) * (x - y)`` cast to scale 18 — identical values to the
      flattened form's per-term cast (decimal precision does not change
      double→decimal rounding, only scale does);
    * the fold accumulates in DECIMAL(37,18): (37,18) + (37,18) types
      as DECIMAL(38,18) — precision exactly 38, so Spark does NOT
      reduce the scale — and the cast back to (37,18) is exact while
      the running sum stays under 10^19 (bounded by dims × max term;
      unit-scale embeddings are ~10^2). Exact decimal sums are
      order-independent, so the fold equals SUM(term) bit-for-bit,
      which is what both the flattened aggregation and the DuckDB
      oracle compute;
    * the argmin takes the array-min of (dist2, cluster_id) structs
      over centroids — the same (dist2, cluster_id) ordering as the
      flattened form's row_number window, on equal dist2 values;
    * the update sums cast each element to DECIMAL(28,12) and SUM —
      the identical aggregate expression as the flattened form, one
      column per dimension (the minhash wide-aggregation pattern).

    ``dims`` is the fixed vector dimensionality (the operator contract
    everywhere else in the similarity family). Returns (cluster_id,
    dim, centroid_val double, n_vectors long) — k×dims rows.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    v = vecs.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.expr(f"transform({vec_col}, x -> cast(x as double))").alias("vec"),
    )
    if cache_registry is not None:
        v = v.persist()
        cache_registry.append(v)

    # round-0 centroids: the k smallest vec_ids' vectors
    cent_rows = v.orderBy("vec_id").limit(k).select(
        F.col("vec_id").alias("cluster_id"), F.col("vec").alias("cvec")
    )

    def as_one_row(c: DataFrame) -> DataFrame:
        # one broadcastable row holding every centroid; sort order is
        # cosmetic (the argmin sorts per row), kept for plan stability
        return c.agg(
            F.sort_array(F.collect_list(F.struct("cluster_id", "cvec"))).alias(
                "cents"
            )
        )

    dist2 = (
        "aggregate(zip_with(vec, c.cvec, (x, y) ->"
        " cast((x - y) * (x - y) as decimal(37,18))),"
        " cast(0 as decimal(37,18)),"
        " (acc, t) -> cast(acc + t as decimal(37,18)))"
    )
    # (d, cluster_id) structs sort lexicographically: element 1 is the
    # minimal dist2 with ties to the lower cluster_id — exactly the
    # flattened form's row_number() over (dist2, cluster_id) pick
    assign_expr = (
        f"element_at(array_sort(transform(cents, c ->"
        f" named_struct('d', {dist2}, 'cluster_id', c.cluster_id))), 1).cluster_id"
    )

    sums = [
        F.sum(F.expr(f"cast(vec[{i}] as decimal(28,12))")).alias(f"_s{i}")
        for i in range(dims)
    ]
    mean_cols = [
        (F.col(f"_s{i}").cast("double") / F.col("n_vectors")) for i in range(dims)
    ]
    cent_wide = None
    for _ in range(iterations):
        assigned = v.crossJoin(F.broadcast(as_one_row(cent_rows))).select(
            "vec_id", "vec", F.expr(assign_expr).alias("cluster_id")
        )
        cent_wide = assigned.groupBy("cluster_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"), *sums
        )
        cent_rows = cent_wide.select(
            "cluster_id", F.array(*mean_cols).alias("cvec")
        )
    return cent_wide.select(
        "cluster_id",
        F.posexplode(F.array(*mean_cols)).alias("pos", "centroid_val"),
        "n_vectors",
    ).select(
        "cluster_id", (F.col("pos") + 1).alias("dim"), "centroid_val", "n_vectors"
    )


def kmeans_lloyd(
    vdim: DataFrame,
    k: int,
    iterations: int = 2,
    cache_registry: list | None = None,
) -> DataFrame:
    """Run ``iterations`` Lloyd rounds over flattened vectors.

    Seeds: the k smallest vec_ids' vectors. Assignment: argmin of
    exact-decimal squared L2, ties to the lower centroid id. Update:
    elementwise mean as exact decimal sum / count. A centroid that
    captures no vectors drops out (standard Lloyd behavior; k shrinks).

    Returns (cluster_id, dim, centroid_val double, n_vectors long) —
    k×dims rows.
    """
    if cache_registry is not None:
        vdim = vdim.persist()
        cache_registry.append(vdim)

    seed_ids = vdim.select("vec_id").distinct().orderBy("vec_id").limit(k)
    cent = (
        vdim.join(F.broadcast(seed_ids), "vec_id")
        .select(
            F.col("vec_id").alias("cluster_id"),
            "dim",
            F.col("val").alias("cval"),
            F.lit(1).cast("long").alias("n_vectors"),
        )
    )

    # argmin via row_number window, NOT min(struct(...)): struct min
    # has no hash-aggregate implementation (Catalyst plans it as a
    # SortAggregate), so the window — whole-stage-codegen'd sort within
    # hash-partitioned vec_id groups — is the faster argmin here.
    w = Window.partitionBy("vec_id").orderBy("dist2", "cluster_id")
    for i in range(iterations):
        sq = (F.col("val") - F.col("cval")) * (F.col("val") - F.col("cval"))
        dist = (
            vdim.join(F.broadcast(cent.select("cluster_id", "dim", "cval")), "dim")
            .groupBy("vec_id", "cluster_id")
            .agg(F.sum(sq.cast(_DIST_DEC)).alias("dist2"))
        )
        assign = (
            dist.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("vec_id", "cluster_id")
        )
        cent = (
            # assign is |V| rows of two longs — tiny at harness scale, so
            # AQE picks a broadcast join from the observed size and the
            # (x dims bigger) flattened side never shuffles; the only
            # exchange per round is the (cluster_id, dim) partial agg.
            # Deliberately NO explicit broadcast() hint: Spark honors a
            # user hint unconditionally, so at 100 TB (|V| past the 8 GB
            # broadcast cap) a hinted plan hard-fails instead of falling
            # back — size-based planning degrades to the shuffled hash
            # join on vec_id that MLlib pays, which is what you want.
            vdim.join(assign, "vec_id")
            .groupBy("cluster_id", "dim")
            .agg(
                (
                    F.sum(F.col("val").cast(_SUM_DEC)).cast("double")
                    / F.count(F.lit(1))
                ).alias("cval"),
                F.count(F.lit(1)).cast("long").alias("n_vectors"),
            )
        )
        # Truncate lineage every SECOND round: each round's plan embeds
        # the prior one's (assign -> dist -> prior cent), so unbounded
        # depth hits the Catalyst-analysis blow-up connected_components
        # documents — but an eager k×dims materialization per round is
        # pure latency. Capping embedded depth at 2 rounds keeps
        # analysis O(1) per checkpoint at half the materializations; the
        # final round never checkpoints (the caller's action
        # materializes it anyway).
        if (i + 1) % 2 == 0 and (i + 1) < iterations:
            cent = cent.localCheckpoint()
    return cent.select(
        "cluster_id", "dim", F.col("cval").alias("centroid_val"), "n_vectors"
    )
