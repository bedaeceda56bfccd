"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: the correctness baseline; native F.zip_with /
  F.aggregate dot products (JVM-side), window top-k.
- sign-LSH (random hyperplanes) bucketed ANN: one scale path — candidates
  share at least one band bucket, so the join is per-bucket instead of n².
  Recall vs brute force is measured in tests.
- IVF (inverted-file) ANN: the other scale path — a small codebook of cell
  centroids partitions the corpus; queries probe only their n_probe nearest
  cells, so the candidate join is per-cell. Codebook "training" here is a
  deterministic h60-ordered sample (the k-means plug point is the
  (cell_id, cvec) DataFrame shape), which keeps every step recomputable by
  the ANSI-SQL correctness oracle.

Hyperplanes are xxhash64-derived pseudo-randoms (deterministic, seeded) —
no numpy RNG state at plan-build time, so plans are reproducible.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    d = norm(a) * norm(b)
    return F.when(d == 0, F.lit(0.0)).otherwise(dot(a, b) / d)


def brute_force_topk(
    df: DataFrame, queries: DataFrame, k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
    q_id_col: str = "q_id", q_vec_col: str = "q_vec",
) -> DataFrame:
    """Top-k cosine neighbours per query. queries is broadcast (queries are
    few; the corpus is big — never the other way around)."""
    q = queries.select(F.col(q_id_col).alias("q_id"), F.col(q_vec_col).alias("q_vec"))
    scored = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")).join(F.broadcast(q)).withColumn(
        "cos", F.round(cosine(F.col("vec"), F.col("q_vec")), 6)
    )
    # Rank over the ROUNDED cosine (the emitted value): sub-1e-6 float
    # differences between engines must not flip neighbour order, so ties at
    # 6 decimals break deterministically by vec_id.
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "vec_id", "cos", F.col("rk").alias("rank"))
    )


def _hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane from a hash chain."""
    vals = []
    state = (plane_idx + 1) * 0x9E3779B97F4A7C15 % (1 << 64)
    for i in range(dim):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        vals.append(((state >> 11) / float(1 << 53)) * 2.0 - 1.0)
    return vals


def sign_lsh_bucket_udf(dim: int, n_planes: int = 128, bands: int = 8):
    """Vectorized bucketer: vec -> array<long> of `bands` band keys (index =
    band id). One numpy matmul per Arrow batch; the (n_planes x dim) plane
    matrix rides in the UDF closure (~800KB at dim 768), NOT in the plan —
    the previous expression-tree encoding baked n_planes*dim literals into
    every plan and exploded at dim>=768.

    Band key = big-endian sign bits of the band's planes — the same encoding
    as the retired expression version (assignments can differ only where a
    dot product sits within float-summation-order distance of 0).

    Defaults give 16 sign bits (65,536 buckets) per band — the standard
    bits-per-band regime. The retired 16-plane/8-band default left 2 bits
    (4 buckets) per band, so ~90% of ALL pairs shared some band and the
    "bucketed" self-join degenerated toward n² at corpus scale; 16-bit bands
    collide random pairs at ~(1/2)^16 per band while near-identical vectors
    (sign agreement ~ 1 - theta/pi per plane) still collide with probability
    ~1 in at least one band."""
    if n_planes % bands != 0:
        raise ValueError(f"n_planes={n_planes} not divisible by bands={bands}")
    per = n_planes // bands
    planes_t = np.asarray(
        [_hyperplane(dim, p) for p in range(n_planes)], dtype=np.float64
    ).T  # (dim, n_planes)
    weights = (1 << np.arange(per - 1, -1, -1)).astype(np.int64)  # big-endian

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def buckets(vs: pd.Series) -> pd.Series:
        n = len(vs)
        mat = np.zeros((n, planes_t.shape[0]), dtype=np.float64)
        ok = np.zeros(n, dtype=bool)
        for i, v in enumerate(vs):
            if v is not None and len(v) == planes_t.shape[0]:
                mat[i] = v
                ok[i] = True
        bits = (mat @ planes_t >= 0).astype(np.int64)  # (n, n_planes)
        keys = bits.reshape(n, bands, per) @ weights  # (n, bands)
        out = [list(k) if o else None for k, o in zip(keys, ok)]
        return pd.Series(out)

    return buckets


def lsh_ann_topk(
    df: DataFrame, queries: DataFrame, dim: int, k: int = 10,
    n_planes: int = 128, bands: int = 8,
    id_col: str = "vec_id", vec_col: str = "embedding",
    q_id_col: str = "q_id", q_vec_col: str = "q_vec",
) -> DataFrame:
    """Approximate top-k: candidates = corpus rows sharing any LSH band
    bucket with the query, then exact cosine + window top-k on candidates."""
    buckets = sign_lsh_bucket_udf(dim, n_planes, bands)
    base = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")).select(
        "vec_id", "vec", F.posexplode(buckets(F.col("vec"))).alias("band", "bucket")
    )
    q = queries.select(F.col(q_id_col).alias("q_id"), F.col(q_vec_col).alias("q_vec")).select(
        "q_id", "q_vec", F.posexplode(buckets(F.col("q_vec"))).alias("band", "bucket")
    )
    cand = base.join(F.broadcast(q), ["band", "bucket"]).dropDuplicates(["q_id", "vec_id"])
    scored = cand.withColumn("cos", F.round(cosine(F.col("vec"), F.col("q_vec")), 6))
    # Rounded-cosine ranking: same engine-independent ordering as
    # brute_force_topk (ties at 1e-6 break by vec_id).
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "vec_id", "cos", F.col("rk").alias("rank"))
    )


def train_centroids(df: DataFrame, n_cells: int = 16,
                    id_col: str = "vec_id", vec_col: str = "vec") -> DataFrame:
    """Deterministic IVF codebook: the n_cells corpus vectors that come
    first in h60(id) order (a seed-free pseudo-random sample). orderBy +
    limit compiles to TakeOrderedAndProject — a distributed top-n, no
    global sort — so this is cheap at any corpus size. A real k-means
    codebook drops in as any (cell_id, cvec) DataFrame of the same shape;
    the hash-sample keeps the whole pipeline recomputable by the ANSI-SQL
    oracle (md5 on both engines), which k-means iterations would not be."""
    from webscraper_spark.functions.canon import h60

    return (
        df.select(F.col(id_col).alias("cell_id"), F.col(vec_col).alias("cvec"))
        .orderBy(h60(F.col("cell_id").cast("string")).asc(), F.col("cell_id").asc())
        .limit(n_cells)
    )


def train_centroids_kmeans(
    df: DataFrame, n_cells: int = 16, n_iters: int = 10, sample_n: int = 4096,
    id_col: str = "vec_id", vec_col: str = "vec",
) -> DataFrame:
    """Trained IVF codebook: deterministic Lloyd's k-means (spherical /
    cosine assignment) over an h60-ordered corpus sample.

    Fully seed-free and partition-order independent: the sample is the first
    `sample_n` vectors in h60(id) order (TakeOrderedAndProject — a
    distributed top-n, no global sort), init is the sample's first n_cells
    vectors (exactly the train_centroids codebook), iterations are fixed,
    and argmax ties resolve to the lower cell index. The sample is
    configuration-sized (sample_n x dim — a few MB), so the driver-side
    numpy Lloyd's loop is not a data-scale operation; the corpus itself
    never leaves the executors. Returns (cell_id 0..k-1, cvec) — the same
    shape ivf_topk's `codebook` parameter accepts. This is ivf_topk's
    DEFAULT codebook (recall on clustered data is strictly better than the
    plain h60 sample — tested); train_centroids stays available for paths
    that must be recomputable by the ANSI-SQL correctness oracle, which
    k-means iterations would not be."""
    from webscraper_spark.functions.canon import h60

    rows = (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .orderBy(h60(F.col("id").cast("string")).asc(), F.col("id").asc())
        .limit(sample_n)
        .collect()
    )
    x = np.asarray([list(r["v"]) for r in rows], dtype=np.float64)
    k = min(n_cells, len(x))
    cents = x[:k].copy()
    xn = np.linalg.norm(x, axis=1)
    for _ in range(n_iters):
        cn = np.linalg.norm(cents, axis=1)
        denom = np.outer(xn, cn)
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(denom > 0, (x @ cents.T) / denom, 0.0)
        assign = np.argmax(cos, axis=1)  # first max wins -> lower cell id
        for j in range(k):
            members = assign == j
            if members.any():
                cents[j] = x[members].mean(axis=0)  # empty cells keep prior
    return df.sparkSession.createDataFrame(
        [(j, [float(v) for v in cents[j]]) for j in range(k)],
        "cell_id long, cvec array<double>",
    )


def ivf_cells_udf(cent_ids: np.ndarray, cent_mat: np.ndarray, n_probe: int):
    """Vectorized cell router: vec -> array<long> of the n_probe nearest
    cell ids by cosine rounded to 6 decimals (ties break toward the smaller
    cell_id — the same engine-independent ordering the top-k rankers use).
    The codebook rides in the UDF closure (n_cells x dim float64 — KBs),
    not the plan; one numpy matmul per Arrow batch."""
    order_ids = np.argsort(cent_ids, kind="stable")
    cent_ids = np.asarray(cent_ids)[order_ids]
    cent_mat = np.asarray(cent_mat, dtype=np.float64)[order_ids]
    cnorm = np.linalg.norm(cent_mat, axis=1)
    dim = cent_mat.shape[1]
    p = min(n_probe, len(cent_ids))

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def cells(vs: pd.Series) -> pd.Series:
        n = len(vs)
        mat = np.zeros((n, dim), dtype=np.float64)
        ok = np.zeros(n, dtype=bool)
        for i, v in enumerate(vs):
            if v is not None and len(v) == dim:
                mat[i] = v
                ok[i] = True
        vnorm = np.linalg.norm(mat, axis=1)
        denom = np.outer(vnorm, cnorm)
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(denom > 0, (mat @ cent_mat.T) / denom, 0.0)
        cos = np.round(cos, 6)
        # stable argsort of -cos: ties resolve to the earlier index, and
        # cent_* rows are pre-sorted by cell_id asc -> smaller id wins.
        order = np.argsort(-cos, axis=1, kind="stable")[:, :p]
        keys = cent_ids[order]
        return pd.Series([list(r) if o else None for r, o in zip(keys, ok)])

    return cells


def ivf_topk(
    df: DataFrame, queries: DataFrame, k: int = 10,
    n_cells: int = 16, n_probe: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding",
    q_id_col: str = "q_id", q_vec_col: str = "q_vec",
    codebook: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: assign every corpus vector to its nearest
    codebook cell (embarrassingly parallel map — no shuffle), route each
    query to its n_probe nearest cells, join candidates per cell, then
    exact rounded-cosine + window top-k on candidates only.

    `codebook` is any (cell_id, cvec) DataFrame. Default is the TRAINED
    deterministic-k-means codebook (train_centroids_kmeans — recall beats
    the plain sample on clustered data, tested); pass
    train_centroids(base, n_cells) explicitly for the h60-sample codebook
    when every step must be recomputable by an ANSI-SQL oracle (the driver
    correctness query does this). The codebook is collected to the driver
    to build the router closure — it is configuration-sized (n_cells
    rows), not data; the corpus itself never leaves the executors."""
    base = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec"))
    if codebook is None:
        codebook = train_centroids_kmeans(base, n_cells)
    cent_rows = sorted(codebook.collect(), key=lambda r: r["cell_id"])
    cent_ids = np.asarray([r["cell_id"] for r in cent_rows], dtype=np.int64)
    cent_mat = np.asarray([list(r["cvec"]) for r in cent_rows], dtype=np.float64)

    assign = base.withColumn("cell", ivf_cells_udf(cent_ids, cent_mat, 1)(F.col("vec")).getItem(0))
    probe = queries.select(F.col(q_id_col).alias("q_id"), F.col(q_vec_col).alias("q_vec")).select(
        "q_id", "q_vec",
        F.explode(ivf_cells_udf(cent_ids, cent_mat, n_probe)(F.col("q_vec"))).alias("cell"),
    )
    cand = assign.join(F.broadcast(probe), "cell")
    scored = cand.withColumn("cos", F.round(cosine(F.col("vec"), F.col("q_vec")), 6))
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "vec_id", "cos", F.col("rk").alias("rank"))
    )
