"""Similarity search over embedding columns (array<float>).

Three tiers, as a 100 TB design requires:

- ``cosine_topk``: brute-force exact top-k. The probe set broadcasts
  (it is small by definition); the corpus streams through one scan —
  no shuffle of the corpus at all, the only shuffle is the final
  per-probe top-k aggregation on k·|probes| rows. This is the oracle
  and the right choice whenever |probes|·|corpus| work fits the
  cluster.
- ``hyperplane_lsh_topk``: approximate scale path. Sign-of-projection
  signatures against ``n_tables`` independent sets of ``n_planes``
  random hyperplanes bucket the corpus; probes score only their own
  buckets (plus multi-probe Hamming neighbors). Sublinearity is a
  measurable property here, not a claim: ``hyperplane_lsh_candidates``
  exposes the candidate pairs, and pytest pins candidate fraction
  ≤ 10 % together with recall@5 ≥ 0.9 on a clustered corpus
  (tests/test_operators.py).
- ``ivf_topk``: centroid-bucketed alternative (IVF coarse quantizer) —
  data-adaptive, wins on clustered corpora. Candidate pairs exposed by
  ``ivf_candidates`` with the same fraction pin.

Signature / cell-assignment math runs as an Arrow-batched Pandas UDF
(one numpy matmul per batch against a closure-captured plane/centroid
matrix). The earlier all-expression formulation (one fold per plane,
64 literals per plane) was JVM-side but scaled its *plan* with
n_tables × n_planes — at the selective parameterization (8 × 12 = 96
planes) Catalyst analysis + codegen dominated the runtime. One matmul
per Arrow batch is how a production system computes 96 projections;
the *scoring* stays in JVM expressions (``cosine_from_norms``) so
returned scores are bit-identical to the exact tier.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from deep_query_optimization_spark.functions import (
    cosine_from_norms,
    cosine_similarity,
    parallelize_input,
    vector_norm,
)


def _batch_matrix(v: pd.Series, dim: int) -> np.ndarray:
    """Stack an Arrow batch of embedding arrays into a (batch × dim)
    float matrix. Guards the two executor-side failure modes that
    otherwise surface as opaque ValueErrors deep in the matmul: an
    EMPTY batch (``np.array([...])`` of nothing has shape (0,), which
    breaks ``X @ P``) and ragged/null rows (object dtype). ``np.stack``
    raises on ragged input; we re-raise with the offending row ids so
    the error is actionable from the driver."""
    if len(v) == 0:
        return np.zeros((0, dim), dtype=np.float64)
    try:
        return np.stack([np.asarray(x, dtype=np.float64) for x in v])
    except (ValueError, TypeError) as e:
        lens = sorted({len(x) if x is not None else None for x in v}, key=str)
        raise ValueError(
            f"embedding column is ragged or has nulls: row lengths {lens} "
            f"(expected uniform {dim}-d float arrays)"
        ) from e


def cosine_topk(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors for each probe (excluding self), ranked by
    cosine desc with id tie-break — fully deterministic."""
    c = parallelize_input(corpus).select(
        F.col(id_col).alias("nn_id"), F.col(vec_col).alias("vc"), vector_norm(F.col(vec_col)).alias("nc")
    )
    p = F.broadcast(
        probes.select(F.col(id_col).alias("probe_id"), F.col(vec_col).alias("vp"), vector_norm(F.col(vec_col)).alias("np"))
    )
    cos = cosine_from_norms(F.col("vp"), F.col("vc"), F.col("np"), F.col("nc"))
    w = Window.partitionBy("probe_id").orderBy(F.col("cos_raw").desc(), F.col("nn_id"))
    return (
        c.join(p, F.col("probe_id") != F.col("nn_id"))
        .select("probe_id", "nn_id", cos.alias("cos_raw"))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("probe_id", "nn_id", F.round(F.col("cos_raw"), 4).alias("cos"), "rnk")
    )


def hyperplanes(dim: int, n_planes: int = 12, seed: int = 13) -> list[list[float]]:
    """Deterministic random hyperplanes (unit-free; sign only)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def lsh_signature(vec_col, planes: list[list[float]]):
    """Sign-bit signature of a vector column against fixed planes —
    a single integer bucket id, computed JVM-side. The pure-expression
    formulation; used for small plane counts and kept as the reference
    semantics for ``_signatures_udf`` (same planes → same signatures up
    to float-summation order)."""
    sig = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        arr = F.array(*[F.lit(x) for x in plane])
        dot = F.aggregate(
            F.zip_with(vec_col, arr, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        sig = sig + F.when(dot > 0, F.lit(2**j).cast("long")).otherwise(F.lit(0).cast("long"))
    return sig


def _signatures_udf(plane_sets: list[list[list[float]]]):
    """Arrow-batched signature computation: one (batch × dim) @
    (dim × L·b) matmul per Arrow batch, then sign-bits packed into L
    int64 bucket ids. The plane matrix is closure-captured (tiny —
    L·b·dim doubles) and ships once per executor with the serialized
    UDF, the broadcast-variable pattern without the explicit
    broadcast."""
    from pyspark.sql.pandas.functions import pandas_udf

    n_tables = len(plane_sets)
    n_planes = len(plane_sets[0])
    P = np.array(plane_sets, dtype=np.float64).reshape(n_tables * n_planes, -1).T  # dim × L·b
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    dim = P.shape[0]

    @pandas_udf(T.ArrayType(T.LongType()))
    def sigs(v: pd.Series) -> pd.Series:
        X = _batch_matrix(v, dim)
        bits = (X @ P) > 0  # batch × L·b
        bits = bits.reshape(len(X), n_tables, n_planes)
        out = (bits * weights).sum(axis=2)  # batch × L
        return pd.Series(list(out))

    return sigs


def kmeans_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    nlist: int = 16,
    sample_n: int = 2048,
    iters: int = 8,
    seed: int = 13,
) -> list[list[float]]:
    """Seeded k-means centroids from a BOUNDED deterministic sample
    (lowest ids) — the IVF coarse quantizer's training step. The
    driver-side work is capped at ``sample_n`` vectors regardless of
    corpus size (0.5 MB at 2048×64f); everything distributed happens in
    ``ivf_topk``. numpy Lloyd iterations, deterministic init."""
    rows = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.col(id_col))
        .limit(sample_n)
        .collect()
    )
    X = np.array([list(r[1]) for r in rows], dtype=np.float64)
    return lloyd_centroids(X, nlist, iters, seed)


def lloyd_centroids(X: np.ndarray, nlist: int, iters: int = 8, seed: int = 13) -> list[list[float]]:
    """Deterministic numpy Lloyd iterations (shared by ``ivf_topk`` and
    its DuckDB oracle builder, ``oracles.sim_topk_ivf`` — both sides
    must derive the IDENTICAL centroids from the same bounded sample)."""
    rng = np.random.default_rng(seed)
    cents = X[rng.choice(len(X), size=min(nlist, len(X)), replace=False)]
    for _ in range(iters):
        # distances computed per-centroid instead of via the
        # (n × k × d) broadcast temporary — ~1.7× faster (smaller
        # working set) and BIT-IDENTICAL: each d2[i, j] is the same
        # subtract-square-pairwise-sum over the same d values in the
        # same order, so centroids (and every oracle literal derived
        # from them) are unchanged. The ‖v‖²−2v·c form would be faster
        # still but changes float rounding → different centroid
        # literals → different gate results; deliberately not taken.
        d2 = np.empty((len(X), len(cents)))
        for j in range(len(cents)):
            diff = X - cents[j]
            d2[:, j] = (diff * diff).sum(axis=1)
        assign = d2.argmin(axis=1)
        for j in range(len(cents)):
            members = X[assign == j]
            if len(members):
                cents[j] = members.mean(axis=0)
    return [[float(v) for v in c] for c in cents]


def _cells_udf(cents: list[list[float]], n_cells: int):
    """Arrow-batched nearest-cell assignment: squared distance via
    ‖v‖²−2v·c+‖c‖² argsort, returning the ``n_cells`` nearest cell ids
    per vector (1 for corpus assignment, nprobe for probes)."""
    from pyspark.sql.pandas.functions import pandas_udf

    C = np.array(cents, dtype=np.float64)  # nlist × dim
    c2 = (C * C).sum(axis=1)

    dim = C.shape[1]

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def cells(v: pd.Series) -> pd.Series:
        X = _batch_matrix(v, dim)
        score = c2[None, :] - 2.0 * (X @ C.T)  # batch × nlist (− row-constant ‖v‖²)
        idx = np.argsort(score, axis=1)[:, :n_cells].astype(np.int32)
        return pd.Series(list(idx))

    return cells


def ivf_candidates(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 64,
    nprobe: int = 6,
    sample_n: int = 2048,
    seed: int = 13,
) -> DataFrame:
    """Scored IVF candidate pairs (probe_id, nn_id, cos_raw).

    Scale shape: one corpus scan assigns each vector to its nearest of
    ``nlist`` centroids (Arrow-batched matmul, no shuffle); the
    candidate join is cell-local with the probe side broadcast; cells
    are disjoint so no pair dedup is needed. Expected candidate
    fraction ≈ nprobe/nlist with balanced cells — pinned ≤ 10 % in
    pytest alongside recall on a clustered corpus."""
    cents = kmeans_centroids(corpus, id_col, vec_col, nlist, sample_n, seed=seed)
    assign1 = _cells_udf(cents, 1)
    assignp = _cells_udf(cents, nprobe)
    c = parallelize_input(corpus, max_partitions=8).select(
        F.col(id_col).alias("nn_id"),
        F.col(vec_col).alias("vc"),
        vector_norm(F.col(vec_col)).alias("nc"),
        assign1(F.col(vec_col)).getItem(0).alias("cell"),
    )
    p = F.broadcast(
        probes.select(
            F.col(id_col).alias("probe_id"),
            F.col(vec_col).alias("vp"),
            vector_norm(F.col(vec_col)).alias("np"),
            F.explode(assignp(F.col(vec_col))).alias("cell"),
        )
    )
    cos = cosine_from_norms(F.col("vp"), F.col("vc"), F.col("np"), F.col("nc"))
    return (
        c.join(p, ["cell"])
        .filter(F.col("probe_id") != F.col("nn_id"))
        .select("probe_id", "nn_id", cos.alias("cos_raw"))
    )


def ivf_topk(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nlist: int = 64,
    nprobe: int = 6,
    sample_n: int = 2048,
    seed: int = 13,
) -> DataFrame:
    """IVF approximate top-k — the centroid-bucketed alternative to
    hyperplane LSH: a coarse k-means quantizer (trained on a bounded
    sample) assigns every corpus vector to its nearest of ``nlist``
    centroids; probes scan only their ``nprobe`` nearest cells. On
    clustered corpora IVF beats data-oblivious hyperplanes at equal
    cost; candidate generation in ``ivf_candidates``."""
    pairs = ivf_candidates(corpus, probes, id_col, vec_col, nlist, nprobe, sample_n, seed)
    w = Window.partitionBy("probe_id").orderBy(F.col("cos_raw").desc(), F.col("nn_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("probe_id", "nn_id", F.round(F.col("cos_raw"), 4).alias("cos"), "rnk")
    )


def _probe_buckets(sig, n_planes: int, probe_dist: int):
    """Bucket ids within Hamming distance ``probe_dist`` of ``sig`` —
    classic multi-probe LSH (query nearby buckets instead of building
    more tables; Lv et al., VLDB'07). Pure bit-flip expressions."""
    buckets = [sig]
    if probe_dist >= 1:
        buckets += [sig.bitwiseXOR(F.lit(1 << i).cast("long")) for i in range(n_planes)]
    if probe_dist >= 2:
        buckets += [
            sig.bitwiseXOR(F.lit((1 << i) | (1 << j)).cast("long"))
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    return buckets


def hyperplane_lsh_candidates(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 12,
    seed: int = 13,
    n_tables: int = 8,
    probe_dist: int = 1,
) -> DataFrame:
    """Scored, deduped LSH candidate pairs (probe_id, nn_id, cos_raw).

    Recall engineering: one table of b planes catches a neighbor at
    angular bit-agreement p with probability ~p^b — far too low for
    moderate-similarity neighbors. Two standard amplifiers compose
    here: OR over ``n_tables`` independent plane sets, and probing all
    buckets within Hamming distance ``probe_dist`` of the probe's
    signature (multi-probe buys table-equivalents without extra corpus
    index rows). Per-table recall r = Σ_{i≤d} C(b,i) p^(b-i)(1-p)^i;
    total = 1-(1-r)^L.

    The defaults (b=12, L=8, d=1) are tuned for the high-similarity
    regime real embedding retrieval lives in (p≥0.85, i.e. neighbor
    cosine ≥0.9): recall ≈ 0.99 while probing 13 of 4096 buckets per
    table → candidate fraction ≈ 1−(1−13/4096)⁸ ≈ 2.5 % on
    hash-uniform data. Both properties are PINNED in pytest (recall ≥
    0.9 AND fraction ≤ 10 % on a clustered corpus; fraction ≤ 10 % on
    the adversarial near-random driver corpus, where no sublinear
    index can also hold recall — that regime belongs to the exact
    tier).

    Scale shape: corpus index = one scan emitting L rows per vector
    keyed (table, bucket) — the candidate join is bucket-local, the
    probe side broadcasts, and candidate pairs are deduped BEFORE the
    top-k (a pair found by several tables scores once; the dedup
    shuffle carries one double per pair, not two vectors)."""
    plane_sets = [hyperplanes(dim, n_planes, seed + 1000 * l) for l in range(n_tables)]
    sigs = _signatures_udf(plane_sets)
    c = parallelize_input(corpus, max_partitions=8).select(
        F.col(id_col).alias("nn_id"),
        F.col(vec_col).alias("vc"),
        vector_norm(F.col(vec_col)).alias("nc"),
        sigs(F.col(vec_col)).alias("sig"),
    )
    c_idx = c.select(
        "nn_id",
        "vc",
        "nc",
        F.posexplode("sig").alias("tbl", "bucket"),
    )

    p = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).alias("vp"),
        vector_norm(F.col(vec_col)).alias("np"),
        F.posexplode(sigs(F.col(vec_col))).alias("tbl", "sig"),
    )
    probe_buckets = F.array(*_probe_buckets(F.col("sig"), n_planes, probe_dist))
    p_idx = F.broadcast(
        p.select("probe_id", "vp", "np", "tbl", F.explode(probe_buckets).alias("bucket"))
    )

    # score in the map stage, dedup after: a pair found by several
    # tables computes its (cheap, 64-d) cosine up to L times, but the
    # dedup shuffle then carries ONE double per pair instead of two
    # full vectors — at scale the shuffle bytes dominate the redundant
    # arithmetic
    cos = cosine_from_norms(F.col("vp"), F.col("vc"), F.col("np"), F.col("nc"))
    return (
        c_idx.join(p_idx, ["tbl", "bucket"])
        .filter(F.col("probe_id") != F.col("nn_id"))
        .select("probe_id", "nn_id", cos.alias("cos_dup"))
        .groupBy("probe_id", "nn_id")
        .agg(F.max("cos_dup").alias("cos_raw"))
    )


def hyperplane_lsh_topk(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
    n_planes: int = 12,
    seed: int = 13,
    n_tables: int = 8,
    probe_dist: int = 1,
) -> DataFrame:
    """Approximate top-k with L independent hash tables × multi-probe;
    candidate generation (and the sublinearity story) in
    ``hyperplane_lsh_candidates``."""
    pairs = hyperplane_lsh_candidates(
        corpus, probes, id_col, vec_col, dim, n_planes, seed, n_tables, probe_dist
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos_raw").desc(), F.col("nn_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("probe_id", "nn_id", F.round(F.col("cos_raw"), 4).alias("cos"), "rnk")
    )
