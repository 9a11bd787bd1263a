"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine.

Scale design notes (the whole point of each variant):

- ``exact_duplicates``: hash-groupBy on a digest of the content — ONE
  shuffle keyed by digest, never by the full payload. At 100 TB the
  shuffle carries 32-byte keys, not documents.
- ``jaccard_pairs``: exact pairwise n-gram Jaccard via shingle
  explode → co-shingle join → group count. Quadratic in the worst case
  — correct but only affordable after candidate pruning; it is the
  verifier stage, not the scale path.
- ``minhash_lsh_candidates``: the scale path. Per-doc k-minhash
  signature (one explode + one groupBy), banded into b keys; candidate
  pairs only join within equal band buckets. Cost is O(docs × k) + a
  join whose fan-out is the true-duplicate density, not |docs|².
- ``simhash``: 64→``bits``-bit locality hash via per-token bit votes;
  near-dups differ in few bits. One explode + one groupBy.
- ``embedding_near_dup``: cosine threshold pairs; brute-force verifier
  (bounded by a probe-side filter) — the ANN scale path lives in
  ``operators/similarity.py``.

Every hash here is the cross-engine ``md5``-prefix hash
(``functions.hash32``), so each operator has an exact DuckDB oracle
(``operators/oracles.py`` generates the matching SQL).
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from deep_query_optimization_spark.functions import (
    MINHASH_PRIME,
    cache_index,
    hash32,
    parallelize_input,
    shingle_hash_array,
)

# Default scale guards. Shingles shared by more than MAX_SHINGLE_DF
# documents carry no dedup signal but drive the co-shingle join's
# Σ df² fan-out (power-law shingle frequencies: one 3-gram in 1M docs
# is 10^12 join rows). Band buckets larger than MAX_BAND_BUCKET are
# degenerate (empty/boilerplate docs sharing a signature) and would be
# a quadratic self-join; true duplicate groups that large are caught
# by exact_duplicates first.
MAX_SHINGLE_DF = 1000
MAX_BAND_BUCKET = 100


def minhash_params(k: int = 16, seed: int = 7) -> list[tuple[int, int]]:
    """k universal-hash (a, b) pairs, deterministic from seed.
    a, b < 2^30 so a*h32 + b < 2^62 stays in int64 in any engine."""
    rng = random.Random(seed)
    return [(rng.randrange(1, 2**30), rng.randrange(0, 2**30)) for _ in range(k)]


def exact_duplicates(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """Exact-dup groups: digest → (keep_id, dup_cnt). Reference-free
    extension (BASELINE.json north star)."""
    return (
        df.groupBy(F.md5(F.col(content_col)).alias("digest"))
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_cnt"))
    )


def shingle_hashes(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle_hash) exploded rows; distinct per doc.

    The per-doc distinct is computed map-side inside the row
    (``shingle_hash_array``), not by a ``.distinct()`` over the
    exploded rows: a dedup whose scope never leaves one row needs no
    Exchange or HashAggregate (guide §2.4)."""
    return parallelize_input(df).select(
        F.col(id_col).alias("id"), F.explode(shingle_hash_array(text_col, n)).alias("hv")
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = MAX_SHINGLE_DF,
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs (id_a < id_b, jaccard ≥ t).

    inter/(|A|+|B|-inter) computed from co-shingle counts. The
    co-shingle step is a groupBy(hv) bucket list + IN-PARTITION pair
    expansion, not a self-join: one Exchange keyed by hv, with the
    df-cap riding the same aggregation. A self-join would need three
    (a window for the df-cap, then both join sides re-exchanged,
    because the AQE-wrapped cached plan exposes no partitioning)
    (guide §2.4: remove shuffles outright). Pairs agree
    exactly with the join: ids are sorted ascending per bucket, so
    (i, j>i) enumerates each unordered co-shingle pair once with
    id_a < id_b. The bucket table is the materialized shingle index
    (persisted; one live per operator — a new call releases the
    previous call's cache).

    ``max_shingle_df`` drops shingles present in more than that many
    documents BEFORE both the size and intersection counts (Jaccard
    over the retained shingle set — consistent numerator and
    denominator). The co-shingle join's fan-out is Σ df(shingle)²,
    which a single stop-phrase 3-gram makes quadratic at corpus scale;
    dropped shingles discriminate nothing. Pass None for the exact
    unguarded computation.

    Exact duplicates COLLAPSE before the shingle join (the standard
    pipeline ordering: exact dedup, then near-dup): the quadratic work
    runs on one representative per distinct text, then pairs expand
    back to documents — intra-group pairs at Jaccard 1.0, cross-group
    pairs inheriting their representatives' score. Document-level
    semantics are preserved exactly: the df cap counts DOCUMENTS via
    the group-count weight (identical texts contribute identical
    shingle sets), so dropped shingles, sizes, and scores match the
    uncollapsed computation bit-for-bit (duplicate-heavy corpora are
    pytest-checked against a direct reference computation; the driver
    oracle stays the plain document-level SQL). On a 10×-duplicated
    corpus the co-shingle work shrinks 100×."""
    digest = F.md5(F.col(text_col)).alias("digest")
    groups = df.groupBy(digest).agg(
        F.min(id_col).alias("rep_id"), F.count(F.lit(1)).alias("cnt")
    )
    members = (
        df.select(F.col(id_col).alias("id"), digest)
        .join(groups.select("digest", "rep_id"), "digest")
        .select("id", "rep_id")
    )
    # members is read by TWO consumers (the ma/mb expansion sides);
    # uncached, each would re-run the documents scan + digest
    # aggregation + join. Persist the narrow (id, rep_id) table once
    # (guide §5: reuse-justified caching; released via release_caches
    # like the shingle index).
    members = cache_index(members, "jaccard_members")
    reps = df.join(
        groups.select(F.col("rep_id").alias(id_col), "cnt"), id_col
    )

    # the group-count weight rides along from the reps row into the
    # exploded shingle rows (one extra long per row) instead of being
    # joined back on id, which would re-scan reps and pay a join for a
    # column the explode already has in hand (guide §2.4)
    sh = parallelize_input(reps).select(
        F.col(id_col).alias("id"),
        F.col("cnt"),
        F.explode(shingle_hash_array(text_col, n)).alias("hv"),
    )
    # ONE groupBy(hv) computes the document-level df (sum of group
    # counts — the weight that makes the cap count DOCUMENTS) AND
    # pre-groups the bucket for pair expansion, so the cap needs no
    # Window Exchange+Sort and no self-join side is re-exchanged on hv
    # (interleaved A/B against the self-join form: 2.57→2.11 s
    # min-of-4 at sf0.1, 2.34→2.09 s on the 10×-dup corpus;
    # rows-identical both, exceptAll 0/0).
    byhv = sh.groupBy("hv").agg(
        F.sum("cnt").alias("df_cnt"), F.sort_array(F.collect_list("id")).alias("ids")
    )
    if max_shingle_df is not None:
        byhv = byhv.filter(F.col("df_cnt") <= max_shingle_df)
    # the capped bucket-list index is what gets cached (two consumers:
    # pair expansion + sizes); df-cap bounds any bucket at
    # max_shingle_df ids, so a row is ≤ ~8 KB at the default cap
    byhv = cache_index(byhv.select("ids"), "jaccard_shingles")
    # sizes feeds three consumers (sz_a, sz_b, the diagonal); cache
    # the tiny per-doc aggregate instead of re-deriving it
    sizes = cache_index(
        byhv.select(F.explode("ids").alias("id")).groupBy("id").agg(F.count(F.lit(1)).alias("sz")),
        "jaccard_sizes",
    )
    # in-partition pair expansion: ids ascending ⇒ (i, j>i) enumerates
    # each unordered pair once with id_a < id_b — exactly the old
    # (a.hv = b.hv AND a.id < b.id) self-join rows, minus the join
    inter = (
        byhv.select(F.posexplode("ids").alias("i", "id_a"), F.col("ids"))
        .select(
            "id_a",
            F.explode(F.slice("ids", F.col("i") + 2, F.size("ids") - F.col("i") - 1)).alias("id_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    rep_pairs = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )

    # expand representative pairs back to document pairs — ONE join
    # pass. Intra-group pairs (Jaccard 1.0 between exact duplicates)
    # ride the same expansion as cross-group pairs: the diagonal
    # (rep, rep, 1.0) is appended to rep_pairs for every rep that kept
    # ≥1 shingle (shingle-free docs produce no rows in an uncollapsed
    # join either), and the diagonal's expansion keeps each unordered
    # member pair once via doc_a < doc_b. Off-diagonal rows have
    # id_a < id_b strictly (the inter join's a.id < b.id), so the
    # filter's first branch keeps all of them. Two joins over a union
    # of already-small inputs, instead of separate cross and intra
    # branches (oracle-checked).
    diag = sizes.select(
        F.col("id").alias("id_a"),
        F.col("id").alias("id_b"),
        F.round(F.lit(1.0), 6).alias("jaccard"),
    ).filter(F.lit(1.0) >= threshold)
    ma = members.select(F.col("rep_id").alias("id_a"), F.col("id").alias("doc_a"))
    mb = members.select(F.col("rep_id").alias("id_b"), F.col("id").alias("doc_b"))
    return (
        rep_pairs.unionAll(diag)
        .join(ma, "id_a")
        .join(mb, "id_b")
        .filter((F.col("id_a") != F.col("id_b")) | (F.col("doc_a") < F.col("doc_b")))
        .select(
            F.least("doc_a", "doc_b").alias("id_a"),
            F.greatest("doc_a", "doc_b").alias("id_b"),
            "jaccard",
        )
    )


def minhash_signatures(df: DataFrame, id_col: str, text_col: str, k: int = 16, n: int = 3, seed: int = 7) -> DataFrame:
    """Per-doc k-minhash signature columns m0..m{k-1} — one aggregation
    over exploded shingle hashes; partial min happens map-side, so the
    shuffle carries one row per (doc, k) not per shingle.

    The per-doc distinct happens inside the row
    (``shingle_hash_array`` via ``shingle_hashes``), so no
    ``.distinct()`` Exchange + double HashAggregate runs. The min itself
    stays an exploded-row groupBy on purpose: a measured alternative
    computing the k mins as ``array_min(transform(...))`` per row was
    ~3× slower — higher-order functions evaluate interpreted,
    per-element, while the exploded aggregate is whole-stage-codegen'd
    (guide §1.1: switch back to the empirical loop when the "ideal"
    plan loses)."""
    sh = shingle_hashes(df, id_col, text_col, n)
    aggs = [
        F.min((F.lit(a) * F.col("hv") + F.lit(b)) % MINHASH_PRIME).alias(f"m{i}")
        for i, (a, b) in enumerate(minhash_params(k, seed))
    ]
    return sh.groupBy("id").agg(*aggs)


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    seed: int = 7,
    max_bucket_size: int | None = MAX_BAND_BUCKET,
) -> DataFrame:
    """Candidate duplicate pairs via banded minhash (b bands × r=k/b
    rows). Pairs agreeing on ANY band are emitted (distinct).

    ``max_bucket_size`` excludes band buckets holding more than that
    many docs from the candidate expansion: one degenerate hot key
    (near-empty or boilerplate docs sharing a signature) is a size²
    blowup at corpus scale, and a genuine duplicate group that large is
    already collapsed by ``exact_duplicates``. Pass None to disable.

    Candidates come from ONE groupBy(band, key) bucket list +
    in-partition pair expansion, not a band-key self-join over a
    persisted index. The self-join pays a bucket-size Window
    (Exchange+Sort), the index materialization, and a join of the
    cache against a BroadcastExchange of ITSELF (the static planner
    broadcasts the whole band index because it is small at sf0.1 — a
    shape that cannot survive at corpus scale, where the index exceeds
    the broadcast cap and the join degrades to Exchange+Sort per
    side). Here the bucket size is just size(ids) and each unordered
    pair is enumerated once in-partition (ids sorted ascending ⇒
    id_a < id_b, exactly the self-join's a.id < b.id rows).
    Interleaved A/B against the self-join: 1.33→1.19 s min-of-4 at
    sf0.1, 2.44→2.16 s on the 10×-dup corpus; rows-identical
    (exceptAll 0/0). The bucket table has a single consumer, so
    nothing needs persisting (guide §5:
    cache only on reuse)."""
    assert k % bands == 0
    r = k // bands
    sig = minhash_signatures(df, id_col, text_col, k, n, seed)
    # bands as ONE explode projection (a union of per-band selects would
    # recompute the signature pipeline once per band)
    band_structs = [
        F.struct(
            F.lit(bi).alias("band"),
            F.concat_ws("-", *[F.col(f"m{bi * r + j}").cast("string") for j in range(r)]).alias("key"),
        )
        for bi in range(bands)
    ]
    all_bands = sig.select(F.col("id"), F.explode(F.array(*band_structs)).alias("bk")).select(
        "id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    byband = all_bands.groupBy("band", "key").agg(F.sort_array(F.collect_list("id")).alias("ids"))
    if max_bucket_size is not None:
        # (id, band, key) is unique per doc×band, so bucket size IS the
        # list length — the cap needs no extra shuffle at all
        byband = byband.filter(F.size("ids") <= max_bucket_size)
    return (
        byband.select(F.posexplode("ids").alias("i", "id_a"), F.col("ids"))
        .select(
            "id_a",
            F.explode(F.slice("ids", F.col("i") + 2, F.size("ids") - F.col("i") - 1)).alias("id_b"),
        )
        .distinct()
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 16) -> DataFrame:
    """Per-doc ``bits``-bit SimHash: bit j is the sign of the sum of
    votes (±1) of token-hash bit j over all tokens (with multiplicity).

    Explode → groupBy(id) with ±1 vote sums, deliberately rather than
    a map-side form (token-hash array + 16 × ``size(filter(...))`` per
    row). The exploded aggregate does PARTIAL map-side aggregation
    (plan: ``partial_sum`` below the Exchange), so the shuffle carries
    one row per doc-partition — never one per token — while the vote
    sums run whole-stage-codegen'd. The array form evaluates 16
    interpreted HOF passes per row instead (guide §2.3 "aggregate
    before you shuffle" + §1.1 empirical loop): quiet-box interleaved
    A/B shows explode winning at BOTH scales — 1.03 vs 1.19 s (sf0.1,
    min-of-5) and 0.86 vs 1.02 s (sf1, min-of-4) — and a single-pass
    packed-lane fold of the array form measures flat, because
    per-element interpreted dispatch, not the pass count, is the cost.
    Docs with no tokens explode to no rows and get no signature."""
    toks = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != F.lit("")
    )
    tok = parallelize_input(df).select(F.col(id_col).alias("id"), F.explode(toks).alias("t"))
    h = tok.select("id", hash32(F.col("t")).alias("hv"))
    aggs = [
        F.sum(F.when(F.shiftright("hv", j).bitwiseAND(1) == 1, 1).otherwise(-1)).alias(f"v{j}")
        for j in range(bits)
    ]
    votes = h.groupBy("id").agg(*aggs)
    sig: Column = F.lit(0).cast("long")
    for j in range(bits):
        sig = sig + F.when(F.col(f"v{j}") > 0, F.lit(2**j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return votes.select("id", sig.alias("simhash"))


def embedding_near_dup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.4,
    probe_filter: Column | None = None,
    allow_full_scan: bool = False,
) -> DataFrame:
    """Cosine-threshold near-duplicate pairs. ``probe_filter`` bounds
    the left side (correctness verifier); unbounded all-pairs at scale
    must go through LSH bucketing first (similarity.py).

    The plan is a CartesianProduct — quadratic in the corpus unless the
    probe side is bounded. To keep a 100 TB caller from launching an
    O(n^2) join by omission, an unbounded call raises unless it opts in
    explicitly with ``allow_full_scan=True``."""
    if probe_filter is None and not allow_full_scan:
        raise ValueError(
            "embedding_near_dup without probe_filter plans a CartesianProduct "
            "(quadratic in the corpus). Pass probe_filter to bound the probe "
            "side, use the LSH path (similarity.topk_lsh) at scale, or opt in "
            "explicitly with allow_full_scan=True."
        )
    from deep_query_optimization_spark.functions import cosine_from_norms, vector_norm

    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), vector_norm(F.col(vec_col)).alias("na"))
    if probe_filter is not None:
        # broadcast the BOUNDED probe side explicitly. Left alone, the
        # planner builds the nested-loop join on the corpus side and
        # streams the (single-partition, post-filter) probe scan — the
        # whole pairwise cosine runs in ONE task. Broadcasting the probe
        # side streams the parallelized corpus instead, spreading the
        # per-pair work across the cluster (guide §3.1: pick the build
        # side deliberately; estimates after filters are unreliable).
        a = F.broadcast(a.filter(probe_filter))
    b = parallelize_input(df).select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), vector_norm(F.col(vec_col)).alias("nb")
    )
    cos = cosine_from_norms(F.col("va"), F.col("vb"), F.col("na"), F.col("nb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cos, 4).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )
