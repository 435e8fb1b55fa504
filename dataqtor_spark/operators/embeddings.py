"""Embedding-column utilities for training-data pipelines (north-star
extensions): L2 normalization, symmetric int8 quantization, per-dimension
health statistics.

All pure column expressions / single aggregates over the exploded
(id, dim, value) view — no UDFs, no driver-side vectors; at scale these are
one projection (normalize/quantize) or one shuffle of (dim, partials)
(dim_stats, partial-aggregated map-side so the shuffle is k × dims rows).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dbl(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def l2_normalize(df: DataFrame, vec_col: str, out_col: str = "normalized",
                 eps: float = 1e-12) -> DataFrame:
    """Unit-normalize an embedding column (zero vectors stay zero via the
    ``eps`` guard).  Sequential-fold norm — deterministic summation."""
    v = _dbl(F.col(vec_col))
    norm = F.sqrt(F.aggregate(v, F.lit(0.0).cast("double"),
                              lambda a, x: a + x * x))
    safe = F.greatest(norm, F.lit(eps))
    return df.withColumn(out_col, F.transform(v, lambda x: x / safe))


def quantize_int8(df: DataFrame, id_col: str, vec_col: str,
                  eps: float = 1e-12) -> DataFrame:
    """Symmetric per-vector int8 quantization, exploded to
    (id, scale, dim, q): scale = max|v| / 127, q = round(v / scale).

    The storage-shrink step before shipping embeddings to an ANN index —
    4 bytes → 1 byte per dimension at ≤0.4 % max relative error.  Exploded
    output keeps every value a scalar (engine-portable, columnar-friendly);
    re-pack with collect_list over (id, dim) when an array form is needed.
    """
    v = _dbl(F.col(vec_col))
    # guard AFTER the 9dp round — round(eps, 9) would collapse to 0 and
    # reintroduce the zero-vector division it exists to prevent
    scale = F.greatest(F.round(F.array_max(F.transform(v, F.abs)) / 127.0, 9),
                       F.lit(eps))
    # clamp to the int8 range: when the 9dp round takes scale DOWN,
    # max|v|/scale lands a hair above 127 and round() can emit ±128
    return (df.select(F.col(id_col), v.alias("__v"),
                      scale.alias("scale"))
            .select(id_col, "scale", F.posexplode("__v").alias("dim", "__x"))
            .select(id_col, "scale", "dim",
                    F.greatest(F.lit(-127.0), F.least(
                        F.lit(127.0),
                        F.round(F.col("__x") / F.col("scale"))))
                    .cast("int").alias("q")))


def dim_stats(df: DataFrame, vec_col: str) -> DataFrame:
    """Per-dimension (dim, mean, std, min, max, n_zero) — the embedding
    health check (dead dimensions, scale drift, clipped values).  One
    posexplode + one groupBy on dim: partial aggregation means the shuffle
    carries partitions × dims rows, independent of corpus size."""
    ex = (df.select(F.posexplode(_dbl(F.col(vec_col))).alias("dim", "x")))
    return (ex.groupBy("dim")
            .agg(F.round(F.avg("x"), 6).alias("mean"),
                 F.round(F.stddev_samp("x"), 6).alias("std"),
                 F.round(F.min("x"), 6).alias("min"),
                 F.round(F.max("x"), 6).alias("max"),
                 F.sum(F.when(F.col("x") == 0.0, 1).otherwise(0)).alias("n_zero")))


def embedding_drift(df: DataFrame, split: Column, id_col: str,
                    vec_col: str = "embedding") -> DataFrame:
    """Embedding-space drift report between two corpus snapshots (the
    ``split`` boolean: True = snapshot A, False = B) — what a training
    pipeline monitors between crawl refreshes before trusting a frozen
    ANN index or quantizer on the new data.  One row:

    - ``n_a``/``n_b``: rows per snapshot;
    - ``centroid_cosine``: cosine between the per-snapshot centroids
      (1.0 = no mean shift; the first number that degrades when a new
      crawl changes domain mix);
    - ``cohesion_a``/``cohesion_b``: mean cosine of each vector to its
      OWN snapshot centroid (anisotropy/concentration change);
    - ``norm_mean_a``/``norm_mean_b``: mean vector L2 norm (scale drift
      — the quantizer-killing failure mode).

    Scale shape: one posexplode + groupBy(dim) for the centroids (the
    shuffle carries partitions × dims rows), a broadcast join of the
    dim-row centroid table back onto the exploded view for the per-row
    dot, one final 1-row aggregate.  Determinism: centroids round to
    6 dp before any downstream arithmetic; per-row cosines round to 6 dp
    and are mean'd through exact DECIMAL sums (the e04 device), so the
    report replays bit-identically in ANSI SQL."""
    from dataqtor_spark.functions.exact import round_ratio
    from dataqtor_spark.session import barrier

    # ex feeds BOTH the centroid aggregate and the per-row dot join —
    # pinned (lazy barrier) so the corpus posexplode materializes
    # once instead of once per consumer (a free 2x at 100 TB embedding
    # volume; the blocks spill to disk on executors at cluster scale)
    ex = barrier(
        df.select(F.col(id_col).alias("__id"), split.alias("__a"),
                  F.posexplode(_dbl(F.col(vec_col))).alias("__dim", "__x")),
        eager=False)
    cent = (ex.groupBy("__dim")
            .agg(F.round(F.avg(F.when(F.col("__a"), F.col("__x"))), 6)
                 .alias("ma"),
                 F.round(F.avg(F.when(~F.col("__a"), F.col("__x"))), 6)
                 .alias("mb")))
    cs = cent.agg(
        F.round(F.sum(F.col("ma") * F.col("mb")), 6).alias("__dotab"),
        F.sum(F.col("ma") * F.col("ma")).alias("__na2"),
        F.sum(F.col("mb") * F.col("mb")).alias("__nb2"))
    per = (ex.join(F.broadcast(cent), "__dim")
           .groupBy("__id", "__a")
           .agg(F.sum(F.col("__x") * F.when(F.col("__a"), F.col("ma"))
                      .otherwise(F.col("mb"))).alias("__dotc"),
                F.sum(F.col("__x") * F.col("__x")).alias("__nv2")))
    pc = (per.crossJoin(F.broadcast(cs))
          .select("__a",
                  F.round(F.col("__dotc")
                          / (F.sqrt("__nv2")
                             * F.sqrt(F.when(F.col("__a"), F.col("__na2"))
                                      .otherwise(F.col("__nb2")))), 6)
                  .alias("__cos"),
                  F.round(F.sqrt("__nv2"), 6).alias("__vn")))

    def _dec_mean(col: str, cond: Column, n: Column) -> Column:
        s = F.sum(F.when(cond, F.col(col).cast("decimal(18,6)")))
        return round_ratio((s * 1000000).cast("decimal(38,0)"),
                           F.greatest(n, F.lit(1)) * 1000000, 6)

    n_a = F.sum(F.when(F.col("__a"), 1).otherwise(0)).cast("long")
    n_b = F.sum(F.when(~F.col("__a"), 1).otherwise(0)).cast("long")
    rep = pc.agg(n_a.alias("n_a"), n_b.alias("n_b"),
                 _dec_mean("__cos", F.col("__a"), n_a).alias("cohesion_a"),
                 _dec_mean("__cos", ~F.col("__a"), n_b).alias("cohesion_b"),
                 _dec_mean("__vn", F.col("__a"), n_a).alias("norm_mean_a"),
                 _dec_mean("__vn", ~F.col("__a"), n_b).alias("norm_mean_b"))
    cc = cs.select(F.round(F.col("__dotab")
                           / (F.sqrt("__na2") * F.sqrt("__nb2")), 6)
                   .alias("centroid_cosine"))
    return rep.crossJoin(F.broadcast(cc)).select(
        "n_a", "n_b", "centroid_cosine", "cohesion_a", "cohesion_b",
        "norm_mean_a", "norm_mean_b")


def hash_embedding(col, dims: int = 8):
    """Deterministic pseudo-embedding of a string: dim i =
    scaled md5-derived value of ``text:i`` in [-1, 1).

    NOT a semantic model — a reproducible stand-in with the exact shape,
    scale, and distribution of a real embedding column, so the whole
    downstream pipeline (chunk → embed → index → top-k) is testable AND
    differentially checkable against an ANSI-SQL oracle (md5 replays
    anywhere).  In production this one column expression is replaced by a
    model-serving pandas UDF; nothing else in the pipeline changes.
    """
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    from dataqtor_spark.operators.dedup import PORTABLE_P, portable_string_hash

    c = (F.col(col) if isinstance(col, str) else col).cast("string")
    vals = [
        (portable_string_hash(F.concat(c, F.lit(f":{i}"))).cast("double")
         / F.lit(float(PORTABLE_P))) * 2.0 - 1.0
        for i in range(dims)]
    return F.array(*vals)


def pca_top_component(df: DataFrame, id_col: str, vec_col: str,
                      n_iter: int = 50) -> tuple[DataFrame, dict]:
    """Top principal component of an embedding column via distributed
    covariance + driver-side power iteration.  Returns
    ``(projections, info)``: a (id, pc1) DataFrame of centered
    projections, and a dict with the component ``loadings``, its
    ``eigenvalue`` and ``explained_variance_ratio``.

    Scale shape: the d×d scatter matrix is accumulated per Arrow batch
    inside ``mapInPandas`` (one numpy ``X.T @ X`` per batch — the
    legitimately-Python path, since a d² outer-product explode would
    shuffle d²·rows cells), emitting ONE flattened partial matrix plus
    mean/count partials per batch; a single tiny aggregate sums them.
    Only O(partitions · d²) floats cross the wire — independent of row
    count — and the driver never sees row data, just the d×d matrix
    (d = 64 → 32 KB).  Power iteration (fixed ``n_iter`` rounds from a
    deterministic all-ones start, sign-canonicalized so the first
    nonzero loading is positive) runs on that tiny matrix; the
    projection is a pure column expression.
    """
    import numpy as np
    import pandas as pd

    d = len(df.select(vec_col).first()[0])

    def _partials(batches):
        for pdf in batches:
            X = np.asarray([np.asarray(v, dtype=np.float64)
                            for v in pdf[vec_col]])
            if len(X) == 0:
                continue
            yield pd.DataFrame({
                "n": [float(len(X))],
                "s": [X.sum(axis=0).tolist()],
                "ss": [(X.T @ X).ravel().tolist()],
            })

    schema = "n double, s array<double>, ss array<double>"
    parts = df.select(vec_col).mapInPandas(_partials, schema).collect()
    n = sum(r["n"] for r in parts)
    s = np.sum([np.asarray(r["s"]) for r in parts], axis=0)
    ss = np.sum([np.asarray(r["ss"]).reshape(d, d) for r in parts], axis=0)
    mean = s / n
    cov = ss / n - np.outer(mean, mean)

    v = np.ones(d) / np.sqrt(d)
    for _ in range(n_iter):
        v = cov @ v
        v = v / np.linalg.norm(v)
    nz = np.flatnonzero(np.abs(v) > 1e-12)
    if len(nz) and v[nz[0]] < 0:
        v = -v
    eig = float(v @ cov @ v)
    info = {"loadings": v.tolist(), "eigenvalue": eig,
            "explained_variance_ratio": eig / float(np.trace(cov))}

    mean_arr = F.array(*[F.lit(float(m)) for m in mean])
    load_arr = F.array(*[F.lit(float(x)) for x in v])
    centered = F.zip_with(_dbl(F.col(vec_col)), mean_arr,
                          lambda x, m: x - m)
    proj = F.aggregate(F.zip_with(centered, load_arr, lambda x, w: x * w),
                       F.lit(0.0).cast("double"), lambda a, x: a + x)
    return (df.select(F.col(id_col), F.round(proj, 6).alias("pc1")), info)


def pca2_closed_form(df: DataFrame, id_col: str, x_col: str,
                     y_col: str) -> DataFrame:
    """Top-principal-component projection of a 2-feature space via the
    ANALYTIC 2×2 eigendecomposition — the SQL-replayable companion to
    ``pca_top_component`` (whose d-dimensional power iteration has no
    closed form).  For covariance [[vx, cxy], [cxy, vy]] the top
    eigenvalue is λ = (vx+vy)/2 + √(((vx−vy)/2)² + cxy²) and (since
    λ ≥ vx) an eigenvector is (cxy, λ−vx), sign-canonicalized so the
    first loading is positive; in the degenerate cxy ≈ 0 case the
    component is the higher-variance axis.  The guard is RELATIVE
    (cxy² > 1e-18·vx·vy) so both engines take the same branch under
    float noise.

    Plan shape: one map-side-combinable aggregate produces the five
    moments; the ≤ 1-row moment table broadcasts back onto the rows and
    the projection is a pure column expression — no driver-side math,
    no second scan.
    """
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    src = (df.filter(x.isNotNull() & y.isNotNull())
           .select(F.col(id_col), x.alias("__x"), y.alias("__y")))
    m = src.agg(F.avg("__x").alias("mx"), F.avg("__y").alias("my"),
                F.var_pop("__x").alias("vx"), F.var_pop("__y").alias("vy"),
                F.covar_pop("__x", "__y").alias("cxy"))
    j = src.crossJoin(F.broadcast(m))
    vx, vy, cxy = F.col("vx"), F.col("vy"), F.col("cxy")
    # squares via multiplication, not pow(): libm pow implementations
    # aren't guaranteed bit-identical across engines, x*x is
    half = (vx - vy) / 2
    lam = (vx + vy) / 2 + F.sqrt(half * half + cxy * cxy)
    norm = F.sqrt(cxy * cxy + (lam - vx) * (lam - vx))
    coupled = cxy * cxy > F.lit(1e-18) * vx * vy
    u1 = F.when(coupled, F.abs(cxy) / norm) \
          .otherwise(F.when(vx >= vy, F.lit(1.0)).otherwise(F.lit(0.0)))
    u2 = F.when(coupled, F.signum(cxy) * (lam - vx) / norm) \
          .otherwise(F.when(vx >= vy, F.lit(0.0)).otherwise(F.lit(1.0)))
    score = (F.col("__x") - F.col("mx")) * u1 \
        + (F.col("__y") - F.col("my")) * u2
    return j.select(F.col(id_col), F.round(score, 4).alias("pc1"))
