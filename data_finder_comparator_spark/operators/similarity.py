"""Similarity search over embedding columns (array<float>).

North-star extension (BASELINE.json): approximate-nearest-neighbor over
the ``embeddings`` table. Three paths:

* ``cosine_topk`` — brute-force top-k: probe x candidate cross join
  scored with built-in array expressions (zip_with + aggregate — all
  JVM-side codegen, no Python), ranked per probe. Correctness baseline
  and perfectly adequate when either side is small enough to broadcast.
* ``lsh_bucketed_topk`` — scale path A: random-hyperplane LSH
  (SimHash for vectors) buckets both sides; only same-bucket (plus
  optional neighboring-bucket) pairs are scored. Sub-linear candidate
  volume at the cost of recall — the standard trade, tunable by
  n_planes / n_tables.
* ``ivf_topk`` — scale path B: inverted-file cells from a deterministic
  coarse quantizer; probes search their nprobe nearest cells. The
  FAISS-style layout, here with sampled centroids instead of k-means.

All arithmetic is double precision with a deterministic left-to-right
fold, so the DuckDB oracle (list_dot_product over DOUBLE[]) matches
bitwise; similarities are rounded to 6 dp in outputs and ordering uses
(rounded sim, id) so ranks are engine-stable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..partitioning import fanout_partitions as _fanout_partitions


def _as_double(col: str) -> Column:
    return F.expr(f"transform({col}, x -> cast(x as double))")


def dot(a: str, b: str) -> Column:
    """Left-to-right double-precision dot product of two array columns."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
        f" cast(0.0 as double), (acc, v) -> acc + v)"
    )


def cosine(a: str, b: str) -> Column:
    """cos = dot / sqrt(norm_a * norm_b) — the exact formula the oracle
    uses; keep them identical or last-ulp drift breaks rank parity."""
    return dot(a, b) / F.sqrt(dot(a, a) * dot(b, b))


def cosine_topk(
    probes: DataFrame,
    cands: DataFrame,
    k: int = 5,
    id_p: str = "probe_id",
    id_c: str = "cand_id",
    vec_p: str = "vec_p",
    vec_c: str = "vec_c",
) -> DataFrame:
    """Brute-force cosine top-k per probe (self-pairs excluded).
    Candidate side is broadcast — each executor scores its probes
    locally, no shuffle until the per-probe rank. Self-norms are
    precomputed per side BEFORE the join (O(n+m) dot products instead
    of O(n*m) — at 5k candidates this third of the arithmetic was 99%
    redundant); the combining expression dot/sqrt(na*nb) is unchanged
    so the result is bit-identical to the oracle."""
    # probe sets are typically a thin slice of one parquet file — one
    # input split — while the scoring work is |probes| x |cands|;
    # spread probes across the cluster before fanning out
    p = probes.repartition(_fanout_partitions(probes), F.col(id_p)).withColumn(
        "_np", dot(vec_p, vec_p)
    )
    c = cands.withColumn("_nc", dot(vec_c, vec_c))
    pairs = p.crossJoin(F.broadcast(c)).filter(F.col(id_p) != F.col(id_c))
    scored = pairs.withColumn(
        "cos_sim",
        F.round(dot(vec_p, vec_c) / F.sqrt(F.col("_np") * F.col("_nc")), 6),
    )
    w = Window.partitionBy(id_p).orderBy(F.col("cos_sim").desc(), F.col(id_c))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select(id_p, id_c, "cos_sim", "rnk")
    )


def exact_topk_guarded(
    probes: DataFrame,
    cands: DataFrame,
    k: int = 5,
    max_broadcast_cands: int = 1_000_000,
    **lsh_kwargs,
) -> DataFrame:
    """Scale-guarded cosine top-k — the REGISTERED form of the brute
    baseline (r10 verdict: no registered query may plan an
    unconditional all-pairs crossJoin). While the candidate side fits a
    broadcast (row count <= ``max_broadcast_cands``; 64-dim float
    arrays ≈ 600 B/row, so the 1M default is ~0.6 GB — inside Spark's
    8 GB broadcast ceiling with headroom) the plan is the exact
    broadcast score, bit-identical to the SQL oracle. Past the cap it
    switches to the hyperplane-LSH bucketed top-k (equi-join on
    (table, bucket) — sub-quadratic, shuffle-partitioned, the plan that
    survives a 100-TB candidate side), whose recall@5 is the pytest-
    pinned 0.94 — APPROXIMATE: past the cap the result is no longer
    bit-identical to an exact-brute oracle, so the switch is surfaced
    as a loud ``warnings.warn`` (r11 ADVICE: a silent branch would make
    a driver hash mismatch at a larger SF indistinguishable from a real
    regression). The branch-picking ``count()`` runs a Spark count job
    over the candidate side (column-pruned to a scan + partial counts;
    Spark does NOT answer it from parquet footers by default) — cheap
    relative to the top-k itself, and the honest description of its
    cost. The UNGUARDED ``cosine_topk`` stays available as the
    ground-truth baseline inside the recall audits only."""
    n = cands.count()
    if n <= max_broadcast_cands:
        return cosine_topk(probes, cands, k=k)
    import warnings

    warnings.warn(
        f"exact_topk_guarded: candidate side has {n} rows "
        f"(> {max_broadcast_cands}); switching from the exact broadcast "
        "plan to the approximate LSH bucketed plan (pinned recall@5 "
        "0.94) — results will NOT match an exact-cosine oracle",
        stacklevel=2,
    )
    return lsh_bucketed_topk(probes, cands, k=k, **lsh_kwargs)


def centroid_vectors(flat: DataFrame) -> DataFrame:
    """Roll the flattened k-means output (cluster_id, dim,
    centroid_val) back into a (cent_id, vec_cent) table ``ivf_topk``
    can quantize with — array rebuilt in dim order so the cosine fold
    visits dimensions identically everywhere."""
    return flat.groupBy(F.col("cluster_id").cast("long").alias("cent_id")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "centroid_val"))),
            lambda s: s["centroid_val"],
        ).alias("vec_cent")
    )


def nearest_centroid_cells(
    df: DataFrame, cents: DataFrame, id_col: str, vec: str, n: int
) -> DataFrame:
    """Each row's ``n`` nearest centroids by (6-dp rounded cosine desc,
    cent_id) — THE coarse-quantizer assignment, shared by ``ivf_topk``
    and ``semantic_dedup`` so their rounding and tie-break arithmetic
    can never diverge. ``cents`` must carry (cent_id, vec_cent, _ncent);
    returns (id_col, cent_id, <vec>, _nself). Self-norm is computed once
    per row BEFORE the broadcast centroid cross join (not once per
    row x centroid — same fix as cosine_topk)."""
    sim = F.round(
        dot(vec, "vec_cent") / F.sqrt(F.col("_nself") * F.col("_ncent")), 6
    )
    w = Window.partitionBy(id_col).orderBy(F.col("_csim").desc(), "cent_id")
    return (
        df.repartition(_fanout_partitions(df), F.col(id_col))
        .withColumn("_nself", dot(vec, vec))
        .crossJoin(F.broadcast(cents))
        .withColumn("_csim", sim)
        .withColumn("_crn", F.row_number().over(w))
        .filter(F.col("_crn") <= n)
        .select(id_col, "cent_id", vec, "_nself")
    )


def ivf_topk(
    probes: DataFrame,
    cands: DataFrame,
    k: int = 5,
    stride: int = 50,
    nprobe: int = 5,
    n_assign: int = 2,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: a coarse quantizer partitions candidates into
    cells; probes search only their ``nprobe`` nearest cells.

    The default quantizer is deterministic — every ``stride``-th
    candidate vector serves as a centroid (sampled centroids are the
    standard zero-training stand-in and keep the whole computation
    engine-portable). Pass ``centroids`` — a (cent_id, vec_cent) table,
    e.g. ``centroid_vectors(kmeans_lloyd(...))`` — to quantize with a
    TRAINED codebook instead: same plan shape, better cell balance, and
    a measured recall lift (`test_ivf_trained_centroids_recall`). Cell
    assignment and probe routing both rank by (rounded cosine desc,
    centroid id), so the partition is exact and reproducible. Scale
    shape: the centroid table is tiny and broadcast; candidates shuffle
    once on cell id; each probe scores |nprobe| cells instead of n.

    ``n_assign`` is the FAISS-style "spilled assignment" recall lever:
    each candidate is stored in its ``n_assign`` nearest cells instead
    of only its nearest, multiplying the inverted index by n_assign (at
    100 TB: a storage-for-recall trade that leaves the probe-side scan
    shape unchanged). Swept history: r9 (bench_history/ann_sweep_r9.py)
    moved nprobe=3/n_assign=1 (0.62 @ sf0.1) to nprobe=5/n_assign=2
    (0.79 at 3.1x scored pairs); r11
    (bench_history/ivf_centroid_sweep_r11.{py,json}) raised the
    REGISTERED routing to nprobe=8 (0.86 @ sf0.1 at 1.55x pairs,
    Spark-confirmed) and re-measured trained k-means centroids at
    sf0.1 with probes/centroids coincidence controlled: still a clear
    negative on these near-uniform synthetic vectors (best 0.63), so
    the stride sample stays the default and ``centroids`` stays the
    parameter for real clustered embeddings. The r9 confound remains
    instructive: stride-25 "wins" (0.995) only because its centroid
    set is a subset of the probe set — rejected both rounds."""
    base = (
        centroids.select("cent_id", "vec_cent")
        if centroids is not None
        else cands.filter(F.col("cand_id") % stride == 0).select(
            F.col("cand_id").alias("cent_id"), F.col("vec_c").alias("vec_cent")
        )
    )
    cents = base.withColumn("_ncent", dot("vec_cent", "vec_cent"))
    cell = nearest_centroid_cells(cands, cents, "cand_id", "vec_c", n_assign).select(
        "cand_id", "cent_id"
    )
    probe_cells = nearest_centroid_cells(
        probes, cents, "probe_id", "vec_p", nprobe
    ).select("probe_id", "cent_id")
    pair_ids = (
        probe_cells.join(cell, "cent_id")
        .filter(F.col("probe_id") != F.col("cand_id"))
        .select("probe_id", "cand_id")
        .distinct()
    )
    scored = (
        pair_ids.join(probes.withColumn("_np", dot("vec_p", "vec_p")), "probe_id")
        .join(cands.withColumn("_nc", dot("vec_c", "vec_c")), "cand_id")
        .withColumn(
            "cos_sim",
            F.round(dot("vec_p", "vec_c") / F.sqrt(F.col("_np") * F.col("_nc")), 6),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos_sim").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("probe_id", "cand_id", "cos_sim", "rnk")
    )


def sq8_rerank_topk(
    probes: DataFrame,
    cands: DataFrame,
    k: int = 5,
    rerank: int = 20,
) -> DataFrame:
    """Scalar-quantized (SQ8) ANN with exact re-rank — the memory-bound
    scale path: candidate vectors compress to 8-bit codes on a global
    [lo, hi] affine grid (4x smaller than float32, 8x than float64 —
    at 100 TB the difference between a candidate table that fits in
    executor memory and one that doesn't). Stage 1 scans the
    compressed domain: asymmetric cosine of the full-precision probe
    against each RECONSTRUCTED candidate, per-probe top-``rerank``.
    Stage 2 re-scores only that shortlist with full-precision cosine.

    Everything is engine-portable: lo/hi are exact min/max aggregates,
    the (x-lo)/step grid is computed in double on both engines, and
    round() on the nonnegative grid index agrees between Spark
    (HALF_UP) and DuckDB (half away from zero)."""
    b = cands.agg(
        F.min(F.expr("array_min(transform(vec_c, x -> cast(x as double)))")).alias("lo"),
        F.max(F.expr("array_max(transform(vec_c, x -> cast(x as double)))")).alias("hi"),
    ).first()
    if b[0] is None or b[1] is None:  # empty / all-null candidate set
        return probes.sparkSession.createDataFrame(
            [], "probe_id long, cand_id long, cos_sim double, rnk long"
        )
    lo, hi = float(b[0]), float(b[1])
    step = (hi - lo) / 255.0
    # float repr round-trips exactly, so the literals parse back to the
    # identical doubles the oracle's SQL aggregates produce
    recon = F.expr(
        f"transform(vec_c, x -> {lo!r} + "
        f"cast(round((cast(x as double) - {lo!r}) / {step!r}) as double) * {step!r})"
    )

    c = cands.select(
        "cand_id", "vec_c", recon.alias("_rc")
    ).withColumn("_nrc", dot("_rc", "_rc"))
    p = probes.repartition(_fanout_partitions(probes), F.col("probe_id")).withColumn(
        "_np", dot("vec_p", "vec_p")
    )
    stage1 = (
        p.crossJoin(F.broadcast(c.select("cand_id", "_rc", "_nrc")))
        .filter(F.col("probe_id") != F.col("cand_id"))
        .withColumn(
            "qsim",
            F.round(dot("vec_p", "_rc") / F.sqrt(F.col("_np") * F.col("_nrc")), 6),
        )
    )
    w1 = Window.partitionBy("probe_id").orderBy(F.col("qsim").desc(), F.col("cand_id"))
    shortlist = (
        stage1.withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= rerank)
        .select("probe_id", "cand_id")
    )
    scored = (
        shortlist.join(probes.withColumn("_np", dot("vec_p", "vec_p")), "probe_id")
        .join(cands.withColumn("_nc", dot("vec_c", "vec_c")), "cand_id")
        .withColumn(
            "cos_sim",
            F.round(dot("vec_p", "vec_c") / F.sqrt(F.col("_np") * F.col("_nc")), 6),
        )
    )
    w2 = Window.partitionBy("probe_id").orderBy(F.col("cos_sim").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w2).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("probe_id", "cand_id", "cos_sim", "rnk")
    )


def _subspaces(df: DataFrame, id_col: str, vec: str, m: int, w: int) -> DataFrame:
    """(id, j, sub): the vector split into ``m`` width-``w`` double
    subvectors, j = 0..m-1 — the product-quantization decomposition.
    Slice BEFORE the cast-transform commutes with it, so both orders
    give identical doubles; the oracle slices the raw list the same
    way."""
    subs = F.expr(
        f"transform(sequence(0, {m - 1}), j -> struct(j as j, "
        f"slice(transform({vec}, x -> cast(x as double)), j * {w} + 1, {w}) as sub))"
    )
    return df.select(id_col, F.explode(subs).alias("_s")).select(
        id_col, F.col("_s.j").alias("j"), F.col("_s.sub").alias("sub")
    )


def ivf_pq_topk(
    probes: DataFrame,
    cands: DataFrame,
    k: int = 5,
    stride: int = 50,
    nprobe: int = 8,
    n_assign: int = 2,
    m: int = 8,
    dim: int = 64,
    pq_stride: int = 10,
    rerank: int = 120,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """FAISS-style IVF-PQ: coarse cells prune WHICH candidates each
    probe scores (same routing as ``ivf_topk``), product-quantized
    codes compress HOW the surviving pairs are scored, and an exact
    re-rank on the short list restores full precision — the composition
    a 100-TB vector store actually runs, because at that scale the
    candidate vectors themselves (64 dims × 8 B = 512 B/vec here;
    3 KB/vec at 768 dims) do not fit executor memory, while the PQ
    codes (``m`` bytes/vec) and the tiny codebook do.

    PQ mechanics, all engine-portable: vectors split into ``m``
    width-``dim/m`` subspaces; each subspace's codebook is the
    ``pq_stride``-sampled candidate subvectors (zero-training, same
    determinism story as ``ivf_topk``'s coarse quantizer); a candidate's
    code in subspace j is the codebook entry minimizing the 6-dp-rounded
    L2² (computed as xx − 2xc + cc from three sequential-fold dot
    products — no elementwise subtraction to drift), ties to the lower
    id. ADC scoring: each probe precomputes its per-(subspace, entry)
    dot-product lookup table; a pair's approximate dot is the sum of
    ``m`` table hits and the reconstructed norm the sum of the entries'
    norms. Both sums are 6-dp-rounded-then-DECIMAL so the group-by
    addition order cannot produce cross-engine last-ulp drift (the
    repo-wide decimal-stabilization convention).

    Scale shape: codebooks and LUTs are broadcast-sized (m × n/pq_stride
    rows); candidates shuffle once on cell id, codes once on cand_id;
    the ADC join fans each routed pair by m ID-only rows — no vector
    arrays move after encoding. Encoding is the one-off index build,
    linear in n × m × codebook size.

    Defaults from the round-10 PQ sweep (bench_history/pq_sweep_r10
    .json, sf0.1 synthetic near-random vectors — VQ's worst case) plus
    the round-11 routing and re-rank bumps (ivf_centroid_sweep_r11
    .json): recall@5 is CAPPED by the routing stage (plain ivf_topk at
    the same nprobe/n_assign — 0.86 @ sf0.1 since nprobe=8);
    pq_stride=10 × rerank=120 reaches **0.825 @ sf0.1 / 0.96 @ sf0.01**
    — 96% of the routing ceiling — while exact-scoring ~13% of the
    routed candidates per probe (the same proportional policy as
    r10's rerank=60 at nprobe=5; the r11 sweep measured 60→120 as
    +0.043 recall for negligible wall, and 200 as +0.02 more — the
    re-rank is a sliver of the encode cost either way); coarser
    codebooks (pq_stride 25/50) or fewer subspaces (m=4) lose 5-15
    points. Real clustered embeddings quantize better, same as the
    IVF story."""
    w = dim // m
    # coarse routing (shared helpers — identical arithmetic to ivf_topk;
    # ``centroids`` swaps in a trained codebook exactly as there — a
    # parameter, not the default, per the r8/r11 measured negative on
    # near-random synthetic vectors: bench_history/ivf_centroid_sweep_r11.json)
    coarse = (
        centroids.select("cent_id", "vec_cent")
        if centroids is not None
        else cands.filter(F.col("cand_id") % stride == 0).select(
            F.col("cand_id").alias("cent_id"), F.col("vec_c").alias("vec_cent")
        )
    )
    cents = coarse.withColumn("_ncent", dot("vec_cent", "vec_cent"))
    cell = nearest_centroid_cells(cands, cents, "cand_id", "vec_c", n_assign).select(
        "cand_id", "cent_id"
    )
    probe_cells = nearest_centroid_cells(
        probes, cents, "probe_id", "vec_p", nprobe
    ).select("probe_id", "cent_id")
    pair_ids = (
        probe_cells.join(cell, "cent_id")
        .filter(F.col("probe_id") != F.col("cand_id"))
        .select("probe_id", "cand_id")
        .distinct()
    )
    # PQ codebook: stride-sampled candidate subvectors, with each
    # entry's self-norm both raw (for the L2 encode identity) and
    # rounded-decimal (for the reconstructed-norm sum)
    pq_sub = (
        _subspaces(
            cands.filter(F.col("cand_id") % pq_stride == 0).select(
                F.col("cand_id").alias("pq_id"), "vec_c"
            ),
            "pq_id",
            "vec_c",
            m,
            w,
        )
        .withColumnRenamed("sub", "csub")
        .withColumn("_cc", dot("csub", "csub"))
        .withColumn("cdec", F.round(F.col("_cc"), 6).cast("decimal(28,10)"))
    )
    # encode every candidate: argmin rounded L2² per (cand, subspace)
    cand_sub = _subspaces(cands, "cand_id", "vec_c", m, w).withColumn(
        "_xx", dot("sub", "sub")
    )
    enc_w = Window.partitionBy("cand_id", "j").orderBy("l2", "pq_id")
    codes = (
        cand_sub.join(F.broadcast(pq_sub), "j")
        .withColumn(
            "l2",
            F.round(F.col("_xx") - 2 * dot("sub", "csub") + F.col("_cc"), 6),
        )
        .withColumn("_rn", F.row_number().over(enc_w))
        .filter(F.col("_rn") == 1)
        .select("cand_id", "j", F.col("pq_id").alias("code"))
    )
    # per-probe ADC lookup table
    lut = (
        _subspaces(probes, "probe_id", "vec_p", m, w)
        .join(F.broadcast(pq_sub), "j")
        .select(
            F.col("probe_id").alias("_lp"),
            F.col("j").alias("_lj"),
            F.col("pq_id").alias("_lc"),
            F.round(dot("sub", "csub"), 6).cast("decimal(28,10)").alias("pdot"),
            "cdec",
        )
    )
    pnorm = probes.select("probe_id", dot("vec_p", "vec_p").alias("_np"))
    adc = (
        pair_ids.join(codes, "cand_id")
        .join(
            lut,
            (F.col("probe_id") == F.col("_lp"))
            & (F.col("j") == F.col("_lj"))
            & (F.col("code") == F.col("_lc")),
        )
        .groupBy("probe_id", "cand_id")
        .agg(
            F.sum("pdot").cast("double").alias("_adot"),
            F.sum("cdec").cast("double").alias("_rnorm"),
        )
        .join(pnorm, "probe_id")
        .withColumn(
            "qsim",
            F.round(F.col("_adot") / F.sqrt(F.col("_np") * F.col("_rnorm")), 6),
        )
    )
    w1 = Window.partitionBy("probe_id").orderBy(F.col("qsim").desc(), "cand_id")
    shortlist = (
        adc.withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= rerank)
        .select("probe_id", "cand_id")
    )
    scored = (
        shortlist.join(probes.withColumn("_np", dot("vec_p", "vec_p")), "probe_id")
        .join(cands.withColumn("_nc", dot("vec_c", "vec_c")), "cand_id")
        .withColumn(
            "cos_sim",
            F.round(dot("vec_p", "vec_c") / F.sqrt(F.col("_np") * F.col("_nc")), 6),
        )
    )
    w2 = Window.partitionBy("probe_id").orderBy(F.col("cos_sim").desc(), "cand_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w2).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("probe_id", "cand_id", "cos_sim", "rnk")
    )


def hyperplane_bucket(vec: str, n_planes: int, dim: int, seed_tag: str = "hp") -> Column:
    """Random-hyperplane LSH bucket id: sign pattern of <v, h_p> for
    n_planes pseudo-random hyperplanes. Hyperplane components are
    deterministic functions of (plane, dim-index) via md5 — portable,
    no RNG state, reproducible on any engine/cluster."""
    # component h[p][i] in [-0.5, 0.5): (md5-derived int / 2^20) - 0.5
    comp = (
        f"(cast(conv(substring(md5(concat('{seed_tag}', ':', cast(p as string), ':',"
        f" cast(i as string))), 1, 5), 16, 10) as double) / 1048576.0 - 0.5)"
    )
    proj = (
        f"aggregate(zip_with({vec}, sequence(0, {dim - 1}),"
        f" (x, i) -> cast(x as double) * {comp.replace('(p as string)', '(p as string)')}),"
        f" cast(0.0 as double), (acc, v) -> acc + v)"
    )
    bits = (
        f"transform(sequence(0, {n_planes - 1}),"
        f" p -> case when {proj} >= 0 then '1' else '0' end)"
    )
    return F.expr(f"array_join({bits}, '')")


def multiprobe_buckets(bucket: str, n_planes: int) -> Column:
    """The exact bucket plus every Hamming-distance-1 neighbor (one
    sign bit flipped) — the standard multi-probe LSH expansion: a near
    pair that lands one plane on the wrong side still collides, so each
    table recovers most of the recall an extra table would buy WITHOUT
    growing the candidate-side index. Pure string surgery on the
    '0'/'1' pattern, portable to any SQL engine. ``bucket`` is a column
    name (or SQL expression) yielding the n_planes-char '0'/'1' code."""
    expr = bucket
    return F.expr(
        f"concat(array({expr}), transform(sequence(0, {n_planes - 1}),"
        f" b -> concat(substring({expr}, 1, b),"
        f" case when substring({expr}, b + 1, 1) = '1' then '0' else '1' end,"
        f" substring({expr}, b + 2, {n_planes}))))"
    )


def lsh_bucketed_topk(
    probes: DataFrame,
    cands: DataFrame,
    k: int = 5,
    n_planes: int = 6,
    n_tables: int = 8,
    dim: int = 64,
    multiprobe: int = 1,
) -> DataFrame:
    """Scale path: bucket by hyperplane sign pattern, score only
    same-bucket pairs (equi-join on the (table, bucket) key — shuffled
    hash join, no cross product), then per-probe top-k over the union
    of tables. Multi-table is the standard recall lever: a pair at
    angle θ collides in one table with prob (1-θ/π)^n_planes, and in
    ANY of t tables with 1-(1-p)^t. Candidate volume grows linearly in
    t while staying sub-quadratic overall. Pairs found by several
    tables are deduped before scoring.

    ``multiprobe=1`` additionally probes every Hamming-1 bucket on the
    PROBE side (probe rows explode x(1+n_planes); the big candidate
    index stays one row per (table, cand)). Defaults come from the
    round-9 sweep (bench_history/ann_sweep_r9.py / ann_sweep_r9.json):
    the old 4-plane/4-table exact-probe config measured recall@5 = 0.47
    @ sf0.1; 6 planes x 8 tables + multiprobe measures 0.94 at both
    sf0.01 and sf0.1 for 2.6x the scored pairs — better recall-per-pair
    than 16 exact-probe tables (0.95 @ 2.75x) with HALF the index rows,
    which is what matters when the candidate side is 100 TB."""
    def bucketed(df: DataFrame, vec: str, id_col: str) -> DataFrame:
        # n_tables * n_planes * dim multiplies per row from a one-split
        # parquet read: spread rows before projecting.
        # r18 (optimization): one posexplode projection instead of a
        # per-table union — the union re-scanned the vector table once
        # per table (see lsh_neardup_pairs for the identical-rows
        # argument: posexplode's position IS table_id).
        df = df.repartition(_fanout_partitions(df), F.col(id_col))
        return df.select(
            id_col,
            vec,
            F.posexplode(
                F.array(
                    *[
                        hyperplane_bucket(
                            vec, n_planes, dim, seed_tag=f"hp{t}"
                        )
                        for t in range(n_tables)
                    ]
                )
            ).alias("table_id", "bucket"),
        )

    pb = bucketed(probes, "vec_p", "probe_id")
    cb = bucketed(cands, "vec_c", "cand_id").drop("vec_c")
    if multiprobe:
        pb = pb.select(
            "probe_id",
            "table_id",
            F.explode(multiprobe_buckets("bucket", n_planes)).alias("bucket"),
        )
    # candidate id pairs from any table, deduped before the expensive scoring
    pair_ids = (
        pb.select("probe_id", "table_id", "bucket")
        .join(cb, ["table_id", "bucket"])
        .filter(F.col("probe_id") != F.col("cand_id"))
        .select("probe_id", "cand_id")
        .distinct()
    )
    scored = (
        pair_ids.join(probes.withColumn("_np", dot("vec_p", "vec_p")), "probe_id")
        .join(cands.withColumn("_nc", dot("vec_c", "vec_c")), "cand_id")
        .withColumn(
            "cos_sim",
            F.round(dot("vec_p", "vec_c") / F.sqrt(F.col("_np") * F.col("_nc")), 6),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos_sim").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("probe_id", "cand_id", "cos_sim", "rnk")
    )


def lsh_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.35,
    n_planes: int = 6,
    n_tables: int = 8,
    dim: int = 64,
    multiprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cache_registry: list | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs via LSH candidates + exact
    verify — the 100-TB shape for all-pairs similarity: bucket every
    vector into n_tables hyperplane tables, take same-bucket pairs
    (Hamming<=1 when ``multiprobe``; the relation is symmetric, so
    expanding ONE side of the equi-join covers both directions), dedup,
    then score only the candidates with the exact rounded cosine and
    keep those >= threshold.

    Semantics are "LSH-candidate pairs above threshold": every emitted
    pair's cosine is exact, and the SQL oracle restates the identical
    candidate set, so correctness is bit-exact — completeness vs the
    brute-force pair set is the measured LSH recall
    (`test_embedding_neardup_recall_oracle_ready`: 0.93 at the synthetic
    corpus's 0.35 threshold, where "near" pairs sit barely above the
    random-pair cosine; at a production 0.9+ threshold on clustered
    embeddings the same plan prunes far harder). Replaces the previous
    registered O(n^2) broadcast crossJoin, which survives only as the
    ground-truth baseline inside the recall audit."""
    ids = emb.select(
        F.col(id_col).cast("long").alias("vid"), F.col(vec_col).alias("v")
    )
    ids = ids.repartition(_fanout_partitions(ids), F.col("vid"))
    # r18 (optimization): all n_tables bucket codes from ONE projection
    # + posexplode instead of a per-table union — the union plan
    # re-scanned and re-shuffled the vector table once per table per
    # consumer (16 parquet scans / 16 Exchanges at n_tables=8: both the
    # probe and candidate sides of the self-join expand the union).
    # Rows are identical by construction: posexplode's position IS the
    # table_id the per-branch F.lit(t) used to carry, and each array
    # element is the same hyperplane_bucket expression. The persist
    # shares the one bucket computation (8 x n_planes x dim md5-derived
    # components per row) across the self-join's two consumers.
    buckets = ids.select(
        "vid",
        F.posexplode(
            F.array(
                *[
                    hyperplane_bucket(
                        "v", n_planes, dim, seed_tag=f"hp{t}"
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("table_id", "bucket"),
    )
    if cache_registry is not None:
        buckets = buckets.persist()
        cache_registry.append(buckets)
    probe = buckets
    if multiprobe:
        probe = buckets.select(
            "vid",
            "table_id",
            F.explode(multiprobe_buckets("bucket", n_planes)).alias("bucket"),
        )
    pair_ids = (
        probe.join(
            buckets.select(F.col("vid").alias("cvid"), "table_id", "bucket"),
            ["table_id", "bucket"],
        )
        .filter(F.col("vid") != F.col("cvid"))
        .select(
            F.least("vid", "cvid").alias("vec_a"),
            F.greatest("vid", "cvid").alias("vec_b"),
        )
        .distinct()
    )
    a = emb.select(
        F.col(id_col).cast("long").alias("vec_a"), F.col(vec_col).alias("vec_p")
    ).withColumn("_na", dot("vec_p", "vec_p"))
    b = emb.select(
        F.col(id_col).cast("long").alias("vec_b"), F.col(vec_col).alias("vec_c")
    ).withColumn("_nb", dot("vec_c", "vec_c"))
    return (
        pair_ids.join(a, "vec_a")
        .join(b, "vec_b")
        .withColumn(
            "cos_sim",
            F.round(dot("vec_p", "vec_c") / F.sqrt(F.col("_na") * F.col("_nb")), 6),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("vec_a", "vec_b", "cos_sim")
    )


def semantic_dedup(
    emb: DataFrame,
    threshold: float,
    stride: int = 50,
    centroids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cache_registry: list | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540) — the embedding-space dedup a training-data
    pipeline runs after exact/fuzzy text dedup: partition vectors into
    coarse-quantizer cells, score pairwise cosine WITHIN each cell
    only, and drop every vector that has a lower-id neighbor at >=
    ``threshold`` (the published implementation's keep-rule: a point
    survives iff its max similarity to lower-index points in its
    cluster stays below the threshold — chains collapse to the lowest
    id, deterministic, no iteration).

    Plan shape at 100 TB: the quantizer is the same deterministic
    stride sample (or trained ``centroids`` table) as ``ivf_topk`` with
    n_assign=1, so assignment is a broadcast cross join + one window
    and the cell id is a PARTITION of the corpus; the pair join is a
    per-cell self-join whose fanout is bounded by cell population —
    more centroids => smaller cells, the paper's own k-scaling knob —
    and never a global cross product. Cosines are 6-dp rounded so the
    drop decision is engine-exact.

    Returns one row per vector: (vec_id, cell_id, is_kept, dup_of,
    dup_sim) where dup_of is the most-similar lower-id cell-mate above
    threshold (ties -> lowest id) and NULL for survivors.

    ``cache_registry``: ``assigned`` feeds both pair-join sides and the
    final verdict join; it is persisted and registered there (same
    contract as ``lsh_candidate_pairs``) so the centroid assignment
    runs once, not three times. Raises ``ValueError`` when the default
    modulus sample yields NO centroid (an id space with no multiple of
    ``stride`` — pass ``centroids=`` or change ``stride``) instead of
    silently returning zero verdicts."""
    v = emb.select(
        F.col(id_col).cast("long").alias("vec_id"), F.col(vec_col).alias("vec")
    )
    base = (
        centroids.select("cent_id", "vec_cent")
        if centroids is not None
        else v.filter(F.col("vec_id") % stride == 0).select(
            F.col("vec_id").alias("cent_id"), F.col("vec").alias("vec_cent")
        )
    )
    cents = base.withColumn("_ncent", dot("vec_cent", "vec_cent"))
    if base.limit(1).count() == 0:
        raise ValueError(
            f"semantic_dedup: no centroids — no {id_col} is divisible by "
            f"stride={stride}; pass centroids= or a different stride"
        )
    assigned = (
        nearest_centroid_cells(v, cents, "vec_id", "vec", 1)
        .withColumnRenamed("cent_id", "cell_id")
        .persist()
    )
    if cache_registry is not None:
        cache_registry.append(assigned)
    lo = assigned.select(
        F.col("vec_id").alias("vec_a"),
        "cell_id",
        F.col("vec").alias("vec_la"),
        F.col("_nself").alias("_na"),
    )
    hi = assigned.select(
        F.col("vec_id").alias("vec_b"),
        "cell_id",
        F.col("vec").alias("vec_hb"),
        F.col("_nself").alias("_nb"),
    )
    pairs = (
        lo.join(hi, "cell_id")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn(
            "cos_sim",
            F.round(dot("vec_la", "vec_hb") / F.sqrt(F.col("_na") * F.col("_nb")), 6),
        )
        .filter(F.col("cos_sim") >= threshold)
    )
    wd = Window.partitionBy("vec_b").orderBy(F.col("cos_sim").desc(), "vec_a")
    dups = (
        pairs.withColumn("_rn", F.row_number().over(wd))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("vec_b").alias("vec_id"),
            F.col("vec_a").alias("dup_of"),
            F.col("cos_sim").alias("dup_sim"),
        )
    )
    return (
        assigned.select("vec_id", "cell_id")
        .join(dups, "vec_id", "left")
        .withColumn("is_kept", F.col("dup_of").isNull())
        .select("vec_id", "cell_id", "is_kept", "dup_of", "dup_sim")
    )


def label_centroid_outliers(emb: DataFrame, k: int = 5) -> DataFrame:
    """Embedding-space quality control: per-label centroids and each
    label's k most-outlying vectors by cosine-to-centroid — the
    mislabeled/contaminated-sample sweep a training pipeline runs over
    its embedding store.

    Shapes: the per-dimension mean is a (label, dim)-keyed aggregation
    over the posexploded vectors (rows x dim input rows, labels x dim
    output rows — fully distributed); the centroid table is
    labels x dim and broadcasts back for the cosine pass, which is one
    map-side array fold per vector plus a per-label top-k window.

    Determinism: the dimension sums go through DECIMAL (double
    addition is order-sensitive; the decimal sum is exact and
    partition-order-free), the rebuilt centroid is an ordered array,
    and the cosine itself is the module's left-to-right fold — so a
    SQL oracle reproduces every value bitwise.
    """
    vecs = emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("label").cast("long").alias("label"),
        _as_double("embedding").alias("v"),
    )
    dims = vecs.select("label", F.posexplode("v").alias("dim", "x"))
    means = dims.groupBy("label", "dim").agg(
        (
            F.sum(F.col("x").cast("decimal(28,10)")).cast("double")
            / F.count(F.lit(1))
        ).alias("m")
    )
    centroids = means.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "m"))), lambda s: s["m"]
        ).alias("c")
    )
    # zero-norm guard: a zero vector (or an all-zero label centroid)
    # has no defined cosine — Spark's 0/0 yields NULL (which would sort
    # FIRST ascending and crowd the outlier slots) while DuckDB yields
    # NaN (which sorts last), so the only engine-portable semantics is
    # to exclude undefined rows on both sides before ranking
    scored = (
        vecs.join(F.broadcast(centroids), "label")
        .filter((dot("v", "v") > 0) & (dot("c", "c") > 0))
        .select(
            "label",
            "vec_id",
            F.round(cosine("v", "c"), 6).alias("cos_centroid"),
        )
    )
    w = Window.partitionBy("label").orderBy(F.col("cos_centroid"), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )


def ann_recall_audit(
    probes: DataFrame,
    cands: DataFrame,
    k: int = 5,
    ivf_stride: int = 50,
    ivf_nprobe: int = 8,
    ivf_assign: int = 2,
    lsh_planes: int = 6,
    lsh_tables: int = 8,
    lsh_multiprobe: int = 1,
    dim: int = 64,
) -> DataFrame:
    """Recall@k of the three approximate ANN paths (ivf, lsh, ivf_pq)
    against the exact brute-force top-k ground truth — (method,
    truth_pairs, hits, recall), one row per approximate method. The
    audit a pipeline team runs BEFORE trusting (or re-tuning) nprobe /
    table count / PQ rerank depth: the approximate operators give
    things up by design, and this measures what they actually give up
    at the configured parameters instead of assuming it (the
    embedding-space counterpart of the MinHash ``lsh_recall_audit``).
    The ivf vs ivf_pq rows share the same router, so their difference
    isolates the quantization loss from the routing loss.

    Shapes: four top-k computations (each already sub-quadratic and
    individually verified against its own oracle), then three
    (probe_id, cand_id)-keyed inner joins and a three-row aggregation —
    the audit adds only key joins on the top-k tables, so its cost is
    the ANN queries' cost. At 100 TB the probe sample IS the audit,
    exactly as with the shingle-Jaccard version.

    Determinism: every constituent top-k breaks cosine ties by cand_id
    and is bit-reproducible against its SQL restatement, so recall is
    a pure function of the data and the SQL oracle reproduces it
    exactly.
    """
    truth = cosine_topk(probes, cands, k=k).select("probe_id", "cand_id")
    approx = {
        "ivf": ivf_topk(
            probes,
            cands,
            k=k,
            stride=ivf_stride,
            nprobe=ivf_nprobe,
            n_assign=ivf_assign,
        ).select("probe_id", "cand_id"),
        "lsh": lsh_bucketed_topk(
            probes,
            cands,
            k=k,
            n_planes=lsh_planes,
            n_tables=lsh_tables,
            dim=dim,
            multiprobe=lsh_multiprobe,
        ).select("probe_id", "cand_id"),
        # the quantized composition (round 10): same router as "ivf",
        # so its recall gap vs the ivf row isolates what PRODUCT
        # QUANTIZATION gives up, separate from what routing gives up
        "ivf_pq": ivf_pq_topk(
            probes,
            cands,
            k=k,
            stride=ivf_stride,
            nprobe=ivf_nprobe,
            n_assign=ivf_assign,
            dim=dim,
        ).select("probe_id", "cand_id"),
    }
    out = None
    for method, topk in approx.items():
        hits = truth.join(topk, ["probe_id", "cand_id"])
        row = truth.agg(
            F.lit(method).alias("method"),
            F.count(F.lit(1)).cast("long").alias("truth_pairs"),
        ).crossJoin(
            F.broadcast(hits.agg(F.count(F.lit(1)).cast("long").alias("hits")))
        ).select(
            "method",
            "truth_pairs",
            "hits",
            # empty probe set (or k=0) => truth_pairs = 0: emit an
            # explicit NULL recall rather than a divide-by-zero
            F.when(
                F.col("truth_pairs") > 0,
                F.round(F.col("hits") / F.col("truth_pairs"), 4),
            ).otherwise(F.lit(None).cast("double")).alias("recall"),
        )
        out = row if out is None else out.unionByName(row)
    return out


# -- persisted IVF-PQ index: build once / serve many (r12) -------------
#
# The r11 verdict's item 3: every registered ANN query re-runs its
# index BUILD (coarse assignment + all-candidate PQ encode — ~85% of
# ivf_pq_topk's wall) inside the query. Correct at an oracle harness
# that starts from a pristine directory; a scale-killer shape if copied
# as the serving path, because at 100 TB the encode pass is a
# write-once INDEX cost, not a per-query cost. This section splits the
# lifecycle the way FAISS deployments do:
#
#   build_ivf_pq_index(...)   one-off: quantizers sampled + every
#                             candidate encoded, persisted as four
#                             TransactionalTables
#   ivf_pq_index_append(...)  daily ingest: encode ONLY the new rows
#                             under the FROZEN codebooks, append with
#                             txn markers (same idempotence contract as
#                             incremental_lsh_pairs, operators/dedup.py)
#   ivf_pq_search(...)        serving: read the index, never encode
#
# The arithmetic (subspace split, L2² encode identity, rounded-decimal
# ADC) is kept IDENTICAL to ivf_pq_topk — the dress-rehearsal test
# hash-matches the prebuilt search against ivf_pq_topk's own DuckDB
# oracle. ivf_pq_topk itself is deliberately left byte-untouched
# (parked driver query this round); the ~20 shared expression lines are
# duplicated here instead of refactored out from under it.


class IvfPqIndex:
    """Handle to a persisted IVF-PQ index rooted at ``root``
    (five TransactionalTables; ``meta`` holds the frozen build
    parameters and is committed last as the build's completion mark):

    * ``centroids`` — (cent_id, vec_cent): the coarse quantizer.
    * ``codebook``  — (j, pq_id, csub): per-subspace PQ entries.
    * ``cells``     — (cent_id, cand_id): the INVERTED LISTS,
      range-clustered on cent_id so a probe reading ``nprobe`` cells
      opens only the files whose footer range covers those cells —
      per-probe IO is bounded by cell population, the on-disk analogue
      of FAISS's per-list layout.
    * ``codes``     — (cand_id, codes array<long>): one m-length code
      row per candidate, clustered on cand_id.

    Quantizers are FROZEN at build time (the FAISS contract: retraining
    means rebuilding); appends encode new rows under them. Consistency
    across the two mutable tables: writers commit ``codes`` FIRST, then
    ``cells`` — membership is defined by ``cells`` (routing joins it),
    so a crash between the two commits leaves a reachable-and-complete
    index, never a candidate that routes but cannot score; the replayed
    batch's txn markers then no-op the half already applied."""

    def __init__(self, spark: SparkSession, root: str, stores: dict | None = None):
        from ..sinks.lakehouse import TransactionalTable

        s = stores or {}
        self.root = root
        self.centroids = TransactionalTable(
            spark, f"{root}/centroids", store=s.get("centroids")
        )
        self.codebook = TransactionalTable(
            spark, f"{root}/codebook", store=s.get("codebook")
        )
        self.cells = TransactionalTable(
            spark, f"{root}/cells", cluster_by=["cent_id"], store=s.get("cells")
        )
        self.codes = TransactionalTable(
            spark, f"{root}/codes", cluster_by=["cand_id"], store=s.get("codes")
        )
        # one-row build-parameter table, committed LAST by the build so
        # its presence marks a COMPLETE index (a crashed half-build
        # refuses loudly instead of serving partial data)
        self.meta = TransactionalTable(spark, f"{root}/meta", store=s.get("meta"))

    def params(self) -> dict:
        """The FROZEN build parameters from the one-row meta table —
        every derived quantity an append or search needs (m, w, dim,
        n_assign) comes from here, never from caller defaults, so a
        mismatched re-encode is impossible by construction (r12 review
        finding: a free n_assign default could silently halve a
        batch's routing multiplicity). Loud refusal when the index is
        absent or its build never completed."""
        try:
            rows = self.meta.read().limit(2).collect()
        except FileNotFoundError:
            rows = []
        if not rows:
            raise ValueError(
                f"no complete IVF-PQ index at {self.root} — a never-"
                "built root needs build_ivf_pq_index; a build that "
                "CRASHED before its final meta commit also lands here, "
                "and its recovery is a rebuild into a FRESH root "
                "(rerunning the build on this root would layer "
                "duplicate rows onto the half-built tables — the build "
                "itself refuses that). The format has carried meta "
                "since its introduction — there is no pre-meta index "
                "to migrate."
            )
        if len(rows) > 1:
            raise ValueError(
                f"corrupt IVF-PQ index at {self.root}: multiple meta "
                "rows — two builds were layered on one root (builds "
                "refuse this; rebuilds go to a fresh root)"
            )
        row = rows[0]
        d = row.asDict()
        return {
            "m": int(row["m"]),
            "w": int(row["w"]),
            "dim": int(row["dim"]),
            "n_assign": int(row["n_assign"]),
            # build-time recall pin (r14, nullable): the reference
            # point the post-append health audit measures drift
            # against. Absent (None) on indexes built without
            # pin_probes — the audit then reports recall without a
            # drop verdict.
            "pin_recall": d.get("pin_recall"),
            "pin_k": int(d["pin_k"]) if d.get("pin_k") is not None else None,
            "pin_nprobe": (
                int(d["pin_nprobe"]) if d.get("pin_nprobe") is not None else None
            ),
        }


def _pq_encode_under(
    cands: DataFrame, cents: DataFrame, pq_sub: DataFrame, m: int, w: int,
    n_assign: int,
) -> tuple[DataFrame, DataFrame]:
    """Encode ``cands`` under FROZEN quantizers: returns (cells, codes)
    frames — (cent_id, cand_id) inverted-list rows and (cand_id,
    codes array) rows. Arithmetic is ivf_pq_topk's encode stage
    verbatim: argmin of the 6-dp-rounded L2² identity xx − 2xc + cc
    per (cand, subspace), ties to the lower pq_id; join+codegen over
    array-HOF folds per the r11 A/B (SCALE.md §13)."""
    cells = nearest_centroid_cells(cands, cents, "cand_id", "vec_c", n_assign).select(
        "cent_id", "cand_id"
    )
    cand_sub = _subspaces(cands, "cand_id", "vec_c", m, w).withColumn(
        "_xx", dot("sub", "sub")
    )
    enc_w = Window.partitionBy("cand_id", "j").orderBy("l2", "pq_id")
    codes = (
        cand_sub.join(F.broadcast(pq_sub.select("j", "pq_id", "csub", "_cc")), "j")
        .withColumn(
            "l2",
            F.round(F.col("_xx") - 2 * dot("sub", "csub") + F.col("_cc"), 6),
        )
        .withColumn("_rn", F.row_number().over(enc_w))
        .filter(F.col("_rn") == 1)
        .groupBy("cand_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", F.col("pq_id").alias("code")))),
                lambda s: s["code"],
            ).alias("codes")
        )
    )
    return cells, codes


def _index_quantizers(index: IvfPqIndex) -> tuple[DataFrame, DataFrame]:
    """(cents with _ncent, pq_sub with _cc/cdec) read back from the
    index tables — norms recomputed from the persisted double arrays
    (parquet round-trips doubles exactly, so the arithmetic is
    bit-identical to build time)."""
    cents = index.centroids.read().withColumn("_ncent", dot("vec_cent", "vec_cent"))
    pq_sub = (
        index.codebook.read()
        .withColumn("_cc", dot("csub", "csub"))
        .withColumn("cdec", F.round(F.col("_cc"), 6).cast("decimal(28,10)"))
    )
    return cents, pq_sub


def build_ivf_pq_index(
    spark: SparkSession,
    root: str,
    cands: DataFrame,
    stride: int = 50,
    n_assign: int = 2,
    m: int = 8,
    dim: int = 64,
    pq_stride: int = 10,
    centroids: DataFrame | None = None,
    stores: dict | None = None,
    pin_probes: DataFrame | None = None,
    pin_k: int = 5,
    pin_nprobe: int = 8,
) -> IvfPqIndex:
    """One-off index build: sample (or adopt) the coarse centroids and
    per-subspace PQ codebooks from ``cands``, encode every candidate,
    persist all four tables. Parameters and sampling match ivf_pq_topk's
    defaults so a search over the built index reproduces the registered
    query bit-for-bit (pinned by test_ivf_pq_prebuilt_oracle_ready).

    ``pin_probes`` (r14, the r13 verdict's item 4): a probe sample to
    measure the build-time recall PIN against exact ground truth on the
    served path, stored in meta — the reference point
    ``index_health_audit`` compares every later audit to. Costs one
    serve + one brute top-k over the sample at build time; omit it and
    audits still report absolute recall, just no drift verdict."""
    w = dim // m
    # the BUILD is the entry that makes a dimension mismatch permanent:
    # an unguarded mismatched corpus would freeze null-padded centroids/
    # codebooks under a meta that every later (guarded) serve call
    # happily matches — wrong neighbors forever (r13 review finding 1,
    # closing the gap the r12 serve/append guards left open)
    _require_vec_dim(cands, "vec_c", dim, "build corpus")
    index = IvfPqIndex(spark, root, stores=stores)
    # Refuse on ANY constituent table, not just meta: a build that
    # crashed before its final meta commit leaves centroids/codebook/
    # codes/cells rows behind, and a retry would layer duplicates onto
    # them — duplicated code rows double the ADC _adot/_rnorm sums
    # (qsim inflated ~sqrt(2) for bootstrap candidates) and duplicate
    # centroids eat nprobe slots: a "complete" index with silently
    # wrong results (r12 ADVICE, medium). Centroids commits first, so
    # it witnesses every crash point; meta stays checked for depth.
    if index.meta.current_version() > 0 or index.centroids.current_version() > 0:
        raise ValueError(
            f"an IVF-PQ index (complete or crashed mid-build) already "
            f"exists at {root} — layering a second build would mix or "
            "duplicate codebooks/codes/centroids (silently wrong "
            "search results); recover by building into a FRESH root "
            "and swapping readers over, never by rerunning the build "
            "on this root"
        )
    coarse = (
        centroids.select("cent_id", "vec_cent")
        if centroids is not None
        else cands.filter(F.col("cand_id") % stride == 0).select(
            F.col("cand_id").alias("cent_id"), F.col("vec_c").alias("vec_cent")
        )
    )
    cents = coarse.withColumn("_ncent", dot("vec_cent", "vec_cent"))
    pq_sub = (
        _subspaces(
            cands.filter(F.col("cand_id") % pq_stride == 0).select(
                F.col("cand_id").alias("pq_id"), "vec_c"
            ),
            "pq_id",
            "vec_c",
            m,
            w,
        )
        .withColumnRenamed("sub", "csub")
        .withColumn("_cc", dot("csub", "csub"))
    )
    index.centroids.append(coarse.select("cent_id", "vec_cent"))
    index.codebook.append(pq_sub.select("j", "pq_id", "csub"))
    cells, codes = _pq_encode_under(cands, cents, pq_sub, m, w, n_assign)
    # codes before cells: membership (= routability) is defined by
    # cells, so the index is consistent at every commit boundary —
    # and meta LAST, so params() refuses until the build completed
    index.codes.append(codes)
    index.cells.append(cells)
    pin = None
    if pin_probes is not None:
        # measured on the SERVED path over the just-written tables
        # (meta does not exist yet, so the serve takes the params
        # directly) — the pin must be the exact quantity later audits
        # re-measure, or drift arithmetic compares apples to oranges
        pin = _served_recall(
            index,
            pin_probes,
            cands,
            k=pin_k,
            nprobe=pin_nprobe,
            _params={"m": m, "w": w, "dim": dim, "n_assign": n_assign},
        )
    index.meta.append(
        spark.createDataFrame(
            [(m, w, dim, n_assign, pin, pin_k, pin_nprobe)],
            "m int, w int, dim int, n_assign int, "
            "pin_recall double, pin_k int, pin_nprobe int",
        )
    )
    return index


def _served_recall(
    index: IvfPqIndex,
    probes: DataFrame,
    cands: DataFrame,
    k: int,
    nprobe: int,
    _params: dict | None = None,
) -> float:
    """Recall@k of the index's SERVED path (``ivf_pq_search``) against
    exact brute-force cosine ground truth over the same probe sample —
    the audit quantity of SCALE.md's freshness rung. ``cosine_topk``
    is the unguarded exact baseline (its documented audit-only use);
    the probe sample, not the corpus, bounds its broadcast side."""
    ann = ivf_pq_search(index, probes, cands, k=k, nprobe=nprobe, _params=_params)
    gt = cosine_topk(probes, cands, k=k)
    n_gt = gt.count()
    if n_gt == 0:
        return 1.0
    hits = ann.select("probe_id", "cand_id").join(
        gt.select("probe_id", "cand_id"), ["probe_id", "cand_id"]
    )
    return round(hits.count() / n_gt, 4)


def index_health_audit(
    index: IvfPqIndex,
    probes: DataFrame,
    cands: DataFrame,
    k: int | None = None,
    nprobe: int | None = None,
    max_drop: float = 0.02,
) -> dict:
    """The audit-based rebuild trigger from SCALE.md's freshness rung
    (r14, the r13 verdict's item 4), as code instead of prose: measure
    recall@k of the served path against exact ground truth on a probe
    sample, compare to the build-time pin stored in the index meta, and
    recommend a rebuild CANDIDATE when the drop exceeds ``max_drop``
    (default 2 recall points — the rung's threshold).

    The recommendation is deliberately only half the decision: the
    rung measured that at 50% antipodal drift a same-budget rebuild
    LOSES to the aged index (0.7250 vs 0.8175) because a bimodal
    corpus splits the rebuild's quantizer budget across both modes —
    so the naive FAISS retrain-on-gap rule is wrong, and the swap must
    be gated by ``should_swap_rebuild`` on the candidate's OWN audit.
    Defaults for ``k``/``nprobe`` come from the pin's stored
    measurement parameters so drift arithmetic stays apples-to-apples.

    Returns ``{"recall", "pin_recall", "drop", "rebuild_recommended",
    "k", "nprobe"}`` — ``drop`` and the recommendation are None/False
    when the index was built without a pin."""
    p = index.params()
    k = k if k is not None else (p["pin_k"] or 5)
    nprobe = nprobe if nprobe is not None else (p["pin_nprobe"] or 8)
    recall = _served_recall(index, probes, cands, k=k, nprobe=nprobe)
    pin = p["pin_recall"]
    drop = round(pin - recall, 4) if pin is not None else None
    return {
        "recall": recall,
        "pin_recall": pin,
        "drop": drop,
        "rebuild_recommended": drop is not None and drop > max_drop,
        "k": k,
        "nprobe": nprobe,
    }


def should_swap_rebuild(aged_audit: dict, candidate_audit: dict) -> bool:
    """The swap gate the freshness rung prescribes: a rebuild
    recommendation alone NEVER swaps — the candidate (built into a
    fresh root, ideally with a quantizer budget scaled to the grown
    corpus) must beat the aged index on the same audit. On the rung's
    50% antipodal-OOD corpus this gate correctly KEEPS the aged index
    (candidate 0.7250 < aged 0.8175)."""
    return candidate_audit["recall"] > aged_audit["recall"]


def ivf_pq_index_append(
    index: IvfPqIndex,
    new_cands: DataFrame,
    txn_app: str | None = None,
    txn_version: int | None = None,
    audit_probes: DataFrame | None = None,
    audit_corpus: DataFrame | None = None,
    audit_max_drop: float = 0.02,
) -> int:
    """Daily-ingest index maintenance: encode ONLY ``new_cands`` under
    the index's frozen quantizers and append. Cost is linear in the
    batch — never a recompute over the accumulated corpus (the same
    100-TB shape as incremental_lsh_pairs). Idempotent under replay via
    (txn_app, txn_version) markers on both appends; commit order
    codes→cells keeps every routable candidate scoreable across a
    crash between them. Returns the cells table's new version.

    Note the drift contract: appended rows quantize under codebooks
    sampled from the BOOTSTRAP corpus. If the embedding distribution
    shifts, recall decays and the answer is a REBUILD (optimize/retrain)
    — FAISS's contract too; the index never silently resamples.

    Opt-in post-append health check (r14): pass ``audit_probes`` +
    ``audit_corpus`` (the full current corpus, ground-truth side) to
    run ``index_health_audit`` after the append and ``warnings.warn``
    when the served recall dropped more than ``audit_max_drop`` below
    the build-time pin — the per-epoch cadence SCALE.md's freshness
    rung prescribes. The warning recommends building a CANDIDATE into
    a fresh root and gating the swap with ``should_swap_rebuild``; it
    never mutates this index."""
    p = index.params()
    _require_vec_dim(new_cands, "vec_c", p["dim"], "append batch")
    cents, pq_sub = _index_quantizers(index)
    cells, codes = _pq_encode_under(
        new_cands, cents, pq_sub, p["m"], p["w"], p["n_assign"]
    )
    index.codes.append(codes, txn_app=txn_app, txn_version=txn_version)
    version = index.cells.append(cells, txn_app=txn_app, txn_version=txn_version)
    if audit_probes is not None:
        import warnings

        if audit_corpus is None:
            # the pin was measured against the FULL corpus; auditing
            # against only the new batch would compare apples to
            # oranges and mostly report phantom drops
            raise ValueError(
                "ivf_pq_index_append: audit_probes requires audit_corpus "
                "(the full current corpus — the exact ground-truth side "
                "the build-time pin was measured against)"
            )
        audit = index_health_audit(
            index,
            audit_probes,
            audit_corpus,
            max_drop=audit_max_drop,
        )
        if audit["rebuild_recommended"]:
            warnings.warn(
                f"ivf_pq_index_append: post-append audit recall "
                f"{audit['recall']} dropped {audit['drop']} below the "
                f"build-time pin {audit['pin_recall']} "
                f"(threshold {audit_max_drop}) — build a rebuild "
                "CANDIDATE into a fresh root and gate the swap with "
                "should_swap_rebuild (a same-budget rebuild can LOSE "
                "to the aged index on a drifted corpus; see SCALE.md's "
                "freshness rung)",
                stacklevel=2,
            )
    return version


def _require_vec_dim(df: DataFrame, col: str, dim: int, what: str) -> None:
    """Loud dimension guard at every index serve/append entry: a
    probe or candidate batch whose vectors differ from the frozen
    params()['dim'] would otherwise silently yield null-padded
    zip_with projections and garbage/empty routing (r12 ADVICE #3 —
    the 'mismatch impossible by construction' contract covered only
    the PARAMETER side; the data side needs this check). One-row
    control-plane probe, same cost class as params() itself; an empty
    frame passes (vacuously dimension-correct)."""
    row = df.select(F.size(F.col(col)).alias("n")).limit(1).first()
    if row is not None and row["n"] != dim:
        raise ValueError(
            f"{what} vector dimension {row['n']} does not match the "
            f"index's frozen dim {dim} — re-embed the batch or rebuild "
            "the index into a fresh root; serving a mismatched batch "
            "would silently null-pad subspace projections"
        )


def _exact_cosine_topk_over_pairs(
    pair_ids: DataFrame, probes: DataFrame, cands: DataFrame, k: int
) -> DataFrame:
    """Exact-scoring tail shared by the three r12 serve paths
    (ivf_pq_search's re-rank, ivf_search, lsh_search): join the
    full-precision vectors onto (probe_id, cand_id) pairs, 6-dp
    rounded cosine, per-probe (cos desc, cand_id) top-k — one place,
    so a future rounding or tie-break change cannot make the serve
    paths drift from each other (r12 review finding 7). The parked
    build-in-query operators keep their inline copies (byte-stability
    policy); this helper must stay arithmetically identical to them."""
    scored = (
        pair_ids.join(probes.withColumn("_np", dot("vec_p", "vec_p")), "probe_id")
        .join(cands.withColumn("_nc", dot("vec_c", "vec_c")), "cand_id")
        .withColumn(
            "cos_sim",
            F.round(dot("vec_p", "vec_c") / F.sqrt(F.col("_np") * F.col("_nc")), 6),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos_sim").desc(), F.col("cand_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("probe_id", "cand_id", "cos_sim", "rnk")
    )


def ivf_pq_search(
    index: IvfPqIndex,
    probes: DataFrame,
    cands: DataFrame,
    k: int = 5,
    nprobe: int = 8,
    rerank: int = 120,
    _params: dict | None = None,
) -> DataFrame:
    """Serve from the prebuilt index: route probes to ``nprobe`` cells,
    score routed pairs by ADC over the PERSISTED codes, exact-rerank
    the top-``rerank`` shortlist against the full-precision candidate
    vectors. No candidate encode anywhere — the only per-query work
    proportional to corpus size is the inverted-list equi-join, whose
    file IO the cells table's cent_id clustering bounds to the probed
    cells. ``cands`` supplies the full-precision vectors for the
    re-rank only (at 100 TB: a point-lookup join against the vector
    store for rerank x |probes| rows, not a scan).

    ``_params`` is internal: the build's pin measurement serves the
    just-written tables BEFORE the meta commit exists (params() would
    refuse an incomplete index — correctly, for every external
    caller)."""
    p = _params or index.params()  # loud completeness check BEFORE any read
    _require_vec_dim(probes, "vec_p", p["dim"], "probe")
    _require_vec_dim(cands, "vec_c", p["dim"], "candidate (re-rank)")
    cents, pq_sub = _index_quantizers(index)
    m, w = p["m"], p["w"]
    probe_cells = nearest_centroid_cells(
        probes, cents, "probe_id", "vec_p", nprobe
    ).select("probe_id", "cent_id")
    pair_ids = (
        probe_cells.join(index.cells.read(), "cent_id")
        .filter(F.col("probe_id") != F.col("cand_id"))
        .select("probe_id", "cand_id")
        .distinct()
    )
    codes = index.codes.read().select(
        "cand_id", F.posexplode("codes").alias("j", "code")
    )
    lut = (
        _subspaces(probes, "probe_id", "vec_p", m, w)
        .join(F.broadcast(pq_sub), "j")
        .select(
            F.col("probe_id").alias("_lp"),
            F.col("j").alias("_lj"),
            F.col("pq_id").alias("_lc"),
            F.round(dot("sub", "csub"), 6).cast("decimal(28,10)").alias("pdot"),
            "cdec",
        )
    )
    pnorm = probes.select("probe_id", dot("vec_p", "vec_p").alias("_np"))
    adc = (
        pair_ids.join(codes, "cand_id")
        .join(
            lut,
            (F.col("probe_id") == F.col("_lp"))
            & (F.col("j") == F.col("_lj"))
            & (F.col("code") == F.col("_lc")),
        )
        .groupBy("probe_id", "cand_id")
        .agg(
            F.sum("pdot").cast("double").alias("_adot"),
            F.sum("cdec").cast("double").alias("_rnorm"),
        )
        .join(pnorm, "probe_id")
        .withColumn(
            "qsim",
            F.round(F.col("_adot") / F.sqrt(F.col("_np") * F.col("_rnorm")), 6),
        )
    )
    w1 = Window.partitionBy("probe_id").orderBy(F.col("qsim").desc(), "cand_id")
    shortlist = (
        adc.withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= rerank)
        .select("probe_id", "cand_id")
    )
    return _exact_cosine_topk_over_pairs(shortlist, probes, cands, k)


def ivf_search(
    index: IvfPqIndex,
    probes: DataFrame,
    cands: DataFrame,
    k: int = 5,
    nprobe: int = 8,
) -> DataFrame:
    """Plain-IVF serving over the SAME persisted index (r12, verdict
    item 5): the ``centroids`` + ``cells`` tables are exactly an IVF
    index — ivf_pq's extra tables just add the compressed scoring
    path — so one build serves both. Routed pairs come from the
    inverted lists; scoring is exact cosine against the full-precision
    vectors (``ivf_topk``'s arithmetic verbatim). Per-query work is
    routing + the cells equi-join + |routed| exact scores; the encode
    pass ``ivf_topk`` runs per query (cell assignment of every
    candidate) is gone."""
    p = index.params()  # completeness marker: a half-built index refuses
    _require_vec_dim(probes, "vec_p", p["dim"], "probe")
    _require_vec_dim(cands, "vec_c", p["dim"], "candidate (scoring)")
    cents = index.centroids.read().withColumn(
        "_ncent", dot("vec_cent", "vec_cent")
    )
    probe_cells = nearest_centroid_cells(
        probes, cents, "probe_id", "vec_p", nprobe
    ).select("probe_id", "cent_id")
    pair_ids = (
        probe_cells.join(index.cells.read(), "cent_id")
        .filter(F.col("probe_id") != F.col("cand_id"))
        .select("probe_id", "cand_id")
        .distinct()
    )
    return _exact_cosine_topk_over_pairs(pair_ids, probes, cands, k)


def _lsh_bucket_rows(
    cands: DataFrame, n_planes: int, n_tables: int, dim: int
) -> DataFrame:
    """(table_id, bucket, cand_id) hyperplane-bucket rows — the LSH
    index's row form, identical arithmetic to lsh_bucketed_topk's
    candidate side (md5-derived hyperplanes: no RNG state, so build
    and append produce the same buckets on any engine)."""
    df = cands.repartition(_fanout_partitions(cands), F.col("cand_id"))
    out = None
    for t in range(n_tables):
        b = df.select(
            F.lit(t).alias("table_id"),
            hyperplane_bucket("vec_c", n_planes, dim, seed_tag=f"hp{t}").alias(
                "bucket"
            ),
            "cand_id",
        )
        out = b if out is None else out.unionByName(b)
    return out


class LshIndex:
    """Handle to a persisted hyperplane-LSH index rooted at ``root``:
    ``buckets`` — (table_id, bucket, cand_id), range-clustered on
    (table_id, bucket) so a probe's equi-join opens only the files
    whose footer range covers its probed keys (the same inverted-list
    IO bound as the IVF cells table) — and ``meta``, the one-row
    (n_planes, n_tables, dim) build-parameter table, committed LAST so
    its presence marks a complete build. Appends and searches derive
    EVERY hyperplane-defining parameter from ``meta`` — never from
    caller defaults — so mismatched buckets or projections are
    impossible by construction (r12 review findings 1 and 3: free
    n_planes/dim defaults could silently make appended rows invisible
    to every probe)."""

    def __init__(self, spark: SparkSession, root: str, stores: dict | None = None):
        from ..sinks.lakehouse import TransactionalTable

        s = stores or {}
        self.root = root
        self.buckets = TransactionalTable(
            spark,
            f"{root}/buckets",
            cluster_by=["table_id", "bucket"],
            store=s.get("buckets"),
        )
        self.meta = TransactionalTable(spark, f"{root}/meta", store=s.get("meta"))

    def params(self) -> dict:
        """The frozen (n_planes, n_tables, dim) from the one-row meta
        table — a tiny read (one manifest + one small file), not the
        full-index aggregate the first cut ran per query (r12 review
        finding 4). Loud refusal when absent/incomplete."""
        try:
            rows = self.meta.read().limit(2).collect()
        except FileNotFoundError:
            rows = []
        if not rows:
            raise ValueError(
                f"no complete LSH index at {self.root} — a never-built "
                "root needs build_lsh_index; a build that CRASHED "
                "before its final meta commit also lands here, and its "
                "recovery is a rebuild into a FRESH root (rerunning "
                "the build on this root would duplicate bucket rows — "
                "the build itself refuses that). The format has "
                "carried meta since its introduction — there is no "
                "pre-meta index to migrate."
            )
        if len(rows) > 1:
            raise ValueError(
                f"corrupt LSH index at {self.root}: multiple meta "
                "rows — two builds were layered on one root (builds "
                "refuse this; rebuilds go to a fresh root)"
            )
        row = rows[0]
        return {
            "n_planes": int(row["n_planes"]),
            "n_tables": int(row["n_tables"]),
            "dim": int(row["dim"]),
        }


def build_lsh_index(
    spark: SparkSession,
    root: str,
    cands: DataFrame,
    n_planes: int = 6,
    n_tables: int = 8,
    dim: int = 64,
    stores: dict | None = None,
) -> LshIndex:
    """Persist the hyperplane-LSH bucket table (+ its frozen build
    parameters); append new candidates with ``lsh_index_append`` (the
    dedup-side ``incremental_lsh_pairs`` is this exact pattern, built
    in r9). Defaults match the registered ``ann_lsh_topk``."""
    # same build-entry dimension guard as build_ivf_pq_index: a
    # mismatched corpus must refuse here, not serve garbage later
    _require_vec_dim(cands, "vec_c", dim, "build corpus")
    index = LshIndex(spark, root, stores=stores)
    # Same constituent-table guard as build_ivf_pq_index (r12 ADVICE):
    # buckets commits before meta, so a crashed build leaves bucket
    # rows that a retry would duplicate — benign for pair generation
    # only by accident (pair_ids are distinct-deduped today), and a
    # guard keeps that from becoming load-bearing.
    if index.meta.current_version() > 0 or index.buckets.current_version() > 0:
        raise ValueError(
            f"an LSH index (complete or crashed mid-build) already "
            f"exists at {root} — layering a second build would mix "
            "hyperplane families or duplicate bucket rows; recover by "
            "building into a FRESH root and swapping readers over, "
            "never by rerunning the build on this root"
        )
    index.buckets.append(_lsh_bucket_rows(cands, n_planes, n_tables, dim))
    index.meta.append(
        spark.createDataFrame(
            [(n_planes, n_tables, dim)], "n_planes int, n_tables int, dim int"
        )
    )
    return index


def lsh_index_append(
    index: LshIndex,
    new_cands: DataFrame,
    txn_app: str | None = None,
    txn_version: int | None = None,
) -> int:
    """Bucket ONLY the new candidates — under the INDEX's frozen
    hyperplane parameters — and append under a txn marker: per-batch
    cost linear in the batch, replay-idempotent, and a parameter
    mismatch is structurally impossible."""
    p = index.params()
    _require_vec_dim(new_cands, "vec_c", p["dim"], "append batch")
    return index.buckets.append(
        _lsh_bucket_rows(new_cands, p["n_planes"], p["n_tables"], p["dim"]),
        txn_app=txn_app,
        txn_version=txn_version,
    )


def lsh_search(
    index: LshIndex,
    probes: DataFrame,
    cands: DataFrame,
    k: int = 5,
    multiprobe: int = 1,
) -> DataFrame:
    """Serve LSH top-k from the prebuilt bucket table: bucket the
    PROBES (tiny side) under the index's frozen parameters, multiprobe
    their Hamming-1 neighborhoods, and equi-join the persisted index —
    the per-query candidate bucketing pass of ``lsh_bucketed_topk`` is
    gone, and the bucket table is read once per query."""
    p = index.params()
    n_planes, n_tables, dim = p["n_planes"], p["n_tables"], p["dim"]
    _require_vec_dim(probes, "vec_p", dim, "probe")
    _require_vec_dim(cands, "vec_c", dim, "candidate (scoring)")
    df = probes.repartition(_fanout_partitions(probes), F.col("probe_id"))
    pb = None
    for t in range(n_tables):
        b = df.select(
            "probe_id",
            F.lit(t).alias("table_id"),
            hyperplane_bucket("vec_p", n_planes, dim, seed_tag=f"hp{t}").alias(
                "bucket"
            ),
        )
        pb = b if pb is None else pb.unionByName(b)
    if multiprobe:
        pb = pb.select(
            "probe_id",
            "table_id",
            F.explode(multiprobe_buckets("bucket", n_planes)).alias("bucket"),
        )
    pair_ids = (
        pb.join(index.buckets.read(), ["table_id", "bucket"])
        .filter(F.col("probe_id") != F.col("cand_id"))
        .select("probe_id", "cand_id")
        .distinct()
    )
    return _exact_cosine_topk_over_pairs(pair_ids, probes, cands, k)
