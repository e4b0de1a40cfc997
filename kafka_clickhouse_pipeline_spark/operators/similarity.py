"""Similarity search over the ``embeddings`` table (array<float>, 64-d).

Two paths:
- ``q_ann_bruteforce_topk``: exact cosine top-k for a query set.
  Queries are broadcast (small side), the corpus streams through one
  scan; per-query top-k via a rank window partitioned by query id.
  All arithmetic float64 + sequential accumulation -> deterministic and
  bit-identical to the DuckDB oracle.
- ``q_ann_ivf_topk``: IVF-style bucketed ANN -- the 100 TB path.
  A deterministic subset of vectors acts as centroids (broadcast);
  every vector is assigned to its nearest centroid (one scan x
  n_centroids dot products, no shuffle); a query probes only the
  ``NPROBE`` nearest centroid buckets, so the search join touches
  ~nprobe/n_centroids of the corpus instead of all of it. Recall < 1
  vs brute force by construction (measured in tests), but the stride
  variant is itself fully DETERMINISTIC, so it carries an exact DuckDB
  oracle (_ann_ivf_oracle) that re-derives the same centroid set,
  assignment, probe lists, and ranking.

The exact, oracle-checked operator (brute force) uses built-in
higher-order array functions (``zip_with`` / ``aggregate``) -- JVM
arithmetic, bit-identical to DuckDB. The bucketed variants use
Arrow-batched pandas UDFs for centroid/code scoring: built-in HOF
expressions are interpreted (no whole-stage codegen), so n_centroids x
dim lambda evaluations per row is the wrong hot path at scale. The
UDFs use sequential-cumsum arithmetic (``_seq_sims``, ``seq_dot_arrow``)
that is BIT-IDENTICAL to the JVM/DuckDB left-to-right fold, so even the
bucketed operators keep exact oracles. No row-at-a-time Python
anywhere; no driver-side loops over data.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from ..catalog import load_table
from ..lineage import cut_lineage
from .topk import grouped_topk

TOP_K = 5
N_QUERIES = 10  # vec_id < 10 are the query vectors
N_CENTROIDS = 32
NPROBE = 8


def _dot(u: Column, v: Column) -> Column:
    return F.aggregate(F.zip_with(u, v, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v")
    )


def q_ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: for each query vector (vec_id < N_QUERIES),
    the TOP_K nearest other vectors. Broadcast the queries; norms are
    hoisted to the per-side projections (computed once per vector, not
    once per pair -- higher-order array expressions are interpreted,
    so per-pair work is the scale cost; the arithmetic is unchanged:
    same sqrt(sum) then multiply/divide, bit-identical to the oracle)."""
    vecs = _with_norm(_vectors(spark, sf_dir))
    queries = vecs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("vn").alias("qn"),
    )
    corpus = vecs.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("nv"),
        F.col("vn").alias("nn"),
    )
    scored = (
        corpus.join(broadcast(queries), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn")), 6
            ).alias("cosine"),
        )
    )
    # map-side pruned top-k: only ~batches x queries x k rows reach the
    # rank shuffle instead of corpus x queries (see topk.py)
    return grouped_topk(
        scored, ["query_id"], [("cosine", False), ("neighbor_id", True)], TOP_K
    ).orderBy("query_id", "rank")


def _centroid_rows(centroids: DataFrame) -> list[tuple[int, list[float]]]:
    """Collect the (tiny, bounded: N_CENTROIDS) centroid table to the
    driver. Centroids are model metadata, not data -- folding them into
    the plan as literals is the Spark-idiomatic broadcast for a
    fixed-size constant side and makes every consumer a pure map."""
    return [(r["centroid_id"], list(r["cv"])) for r in centroids.collect()]


def _centroid_matrix(rows: list[tuple[int, list[float]]]):
    """(cids asc, centroid matrix, centroid norms) as numpy arrays for
    the vectorized assignment/probe UDFs. Ascending-cid order makes
    argmax/stable-argsort tie-breaking deterministic (first max = the
    smallest centroid id). Norms use the sequential cumsum fold, not
    np.linalg.norm (pairwise summation), so every similarity the UDFs
    emit is bit-identical to a left-to-right fold -- see _seq_sims."""
    ordered = sorted(rows)
    cids = np.array([cid for cid, _ in ordered], dtype="int64")
    C = np.stack([np.asarray(cv, dtype="float64") for _, cv in ordered])
    return cids, C, np.sqrt(np.cumsum(C * C, axis=1)[:, -1])


def _seq_sims(M, C, Cn):
    """Cosine similarities of every row of M against every centroid,
    with BIT-IDENTICAL arithmetic to the sequential left-to-right fold
    (JVM ``aggregate`` / DuckDB ``list_sum``): products are exact IEEE
    ops, ``np.cumsum`` forces sequential summation order (a matmul
    would sum pairwise -- ULP-different), sqrt/divide are correctly
    rounded. This makes the IVF centroid decisions reproducible in
    ANSI SQL *unconditionally*, not merely because the fixture's
    argmax margins dwarf summation noise."""
    Mn = np.sqrt(np.cumsum(M * M, axis=1)[:, -1])
    dots = np.cumsum(M[:, None, :] * C[None, :, :], axis=2)[:, :, -1]
    return dots / (Mn[:, None] * Cn[None, :])


def _nearest_centroid_udf(rows: list[tuple[int, list[float]]]):
    """Arrow-batched nearest-centroid assignment: one vectorized numpy
    pass per batch. The interpreted higher-order-function alternative
    costs ~n_centroids x dim lambda evaluations PER ROW -- the
    sanctioned vectorized-pandas-UDF case. Arithmetic is the
    bit-portable sequential-cumsum form (_seq_sims), so the assignment
    decisions reproduce exactly in the DuckDB oracles. Still a pure
    map: no shuffle, centroids ride the task closure (N_CENTROIDS x
    dim floats)."""
    cids, C, Cn = _centroid_matrix(rows)

    @F.pandas_udf("long")
    def nearest(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype="int64")
        sims = _seq_sims(np.stack(v.to_numpy()), C, Cn)
        return pd.Series(cids[np.argmax(sims, axis=1)])

    return nearest


def _probe_centroids_udf(rows: list[tuple[int, list[float]]], nprobe: int):
    """Arrow-batched probe-list computation: NPROBE nearest centroid
    ids per query vector (stable argsort -> deterministic ties)."""
    cids, C, Cn = _centroid_matrix(rows)

    @F.pandas_udf("array<long>")
    def probes(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype="object")
        sims = _seq_sims(np.stack(v.to_numpy()), C, Cn)
        idx = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
        return pd.Series([cids[i].tolist() for i in idx])

    return probes


def _with_norm(vecs: DataFrame) -> DataFrame:
    return vecs.withColumn("vn", F.sqrt(_dot(F.col("v"), F.col("v"))))


def _spread_vectors(vecs: DataFrame) -> DataFrame:
    """Spread + materialize the vector corpus for MULTI-PASS consumers
    (r12; guide section 2.5 input skew + section 5 caching). The
    embeddings fixture is one parquet row group -> a 1-TASK scan, and
    the k-means/IVF-split operators drive 4-7 ACTIONS over ``vecs``
    (one per training round / occupancy pass / search leg), so every
    pass re-read the parquet AND ran its Arrow assignment kernel
    serially while 31 cores idled (r12 profile: each round a 0.4-4.2 s
    single-task stage; the cold 4.2 s one is a single Python worker
    spinning up, which the spread also parallelizes). One round-robin
    exchange + localCheckpoint makes every later pass a cluster-wide
    scan of materialized blocks. Single-pass ANN consumers keep the
    bare scan -- an exchange per query would cost more than it buys
    there (same reasoning as _spread_scan's width condition)."""
    return cut_lineage(
        vecs.repartition(vecs.sparkSession.sparkContext.defaultParallelism)
    )


def kmeans_centroids(vecs: DataFrame, iters: int = 3) -> DataFrame:
    """Lloyd's k-means over the embedding column, all DataFrame ops,
    FULLY DETERMINISTIC (and therefore oracle-reproducible).

    Init: deterministic stride sample. Each iteration: assign every
    vector to its nearest centroid by cosine (Arrow-batched, the
    bit-portable sequential-cumsum arithmetic of _seq_sims; ties to
    the smallest centroid id), then recompute each centroid as the
    element-wise mean of its ORIGINAL float32 member vectors. The mean
    uses the exact-decimal trick from q_embedding_label_centroids:
    component -> float32 shortest-repr string -> DECIMAL(28,18)
    (exact for unit-scale float32s), decimal sum (order-independent),
    decimal -> string -> double, divide by count -- so the centroid
    doubles are identical regardless of partitioning AND identical in
    DuckDB, which is what lets q_ann_ivf_kmeans_topk carry an exact
    oracle with the iterations unrolled in SQL.

    The driver only runs the loop and holds the N_CENTROIDS centroid
    rows; vectors never leave the executors. One shuffle per round
    keyed (centroid, component) with map-side partial sums, plus a
    tiny regroup to reassemble arrays. Fixed iteration count keeps
    runtime deterministic (classic k-means converges most of the way
    in 2-3 rounds). Empty clusters drop out of the groupBy on both
    engines."""
    first = vecs.select("v").first()
    if first is None:  # empty corpus -> no centroids, search yields nothing
        return vecs.select(
            F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv")
        )
    centroids = _stride_centroids(vecs)
    for _ in range(iters):
        rows = _centroid_rows(centroids)
        assigned = vecs.select(
            "vec_id", "v", _nearest_centroid_udf(rows)(F.col("v")).alias("centroid_id")
        )
        per_comp = (
            assigned.select("centroid_id", F.posexplode("v").alias("pos", "x"))
            .groupBy("centroid_id", "pos")
            .agg(
                # v is the double-cast of a float32: casting back to
                # float is exact and its shortest-repr string has <= 9
                # significant digits, so DECIMAL(28,18) holds the value
                # exactly (the q_embedding_label_centroids contract)
                F.sum(
                    F.col("x").cast("float").cast("string").cast("decimal(28,18)")
                ).alias("s"),
                F.count(F.lit(1)).alias("cnt"),
            )
            .select(
                "centroid_id",
                "pos",
                (F.col("s").cast("string").cast("double") / F.col("cnt")).alias("m"),
            )
        )
        centroids = per_comp.groupBy("centroid_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("cv")
        )
        # no per-round lineage cut (r11): every round (and every
        # consumer) COLLECTS the centroid table into UDF literals via
        # _centroid_rows, so each round's plan is already rooted at
        # ``vecs`` plus constants -- lineage cannot nest across rounds.
        # The old eager localCheckpoint here was one extra scheduled
        # job per round that materialized rows the very next statement
        # collected anyway (guide section 5.3: don't persist what you
        # immediately drain to the driver).
    return centroids


def q_ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with k-means-trained centroids: the production variant of
    q_ann_ivf_topk (same bucketed search mechanics, better-placed
    centroids -> higher recall at the same nprobe). Oracle-checked:
    the deterministic k-means (see kmeans_centroids) unrolls as CTE
    pairs in the DuckDB twin (_ann_ivf_kmeans_oracle); recall is
    additionally measured against brute force in tests."""
    vecs = _spread_vectors(_vectors(spark, sf_dir))
    centroids = kmeans_centroids(vecs)
    return _ivf_search(vecs, centroids)


#: Topic terms surfaced per embedding cluster.
CLUSTER_TOPIC_TERMS = 3


def q_cluster_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-then-describe corpus cartography: k-means over the
    embedding corpus, then label every cluster with its most
    distinctive terms (cluster-level TF-IDF: term count in the
    cluster's documents x ln(n_clusters / clusters-containing-term)).
    This is the standard corpus-map/auto-topic step of embedding-based
    curation (SemDeDup-style cluster pruning, data maps, mixture
    audits) -- the human-readable answer to 'what IS in this cluster?'.

    Composition: the deterministic kmeans_centroids model (decimal-
    exact means, bit-portable assignment -> oracle-reproducible), one
    doc->cluster assignment map (pure Arrow-batched map, no shuffle),
    a doc-id join to the text corpus, then two counting aggregations
    bounded by (clusters x vocabulary), NOT corpus size. The heavy
    passes are the same explode/count shapes as q_tfidf_top_terms;
    top-terms use the map-side-pruned grouped_topk, and the per-
    cluster size table (<= N_CENTROIDS rows) broadcasts back.

    n_clusters is read off the (bounded, <= N_CENTROIDS-row) size
    aggregate -- model metadata, like the centroid collect that
    kmeans_centroids itself performs."""
    vecs = _spread_vectors(_vectors(spark, sf_dir))
    centroids = kmeans_centroids(vecs)
    rows = _centroid_rows(centroids)
    if not rows:  # empty corpus
        rows = [(0, [0.0])]
    assigned = vecs.select(
        "vec_id", _nearest_centroid_udf(rows)(F.col("v")).alias("cluster_id")
    )
    sizes = assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    n_clusters = sizes.count()  # bounded by N_CENTROIDS
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.join(
        assigned, docs["doc_id"] == assigned["vec_id"]
    ).select(
        "cluster_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term"),
    )
    ctf = terms.groupBy("cluster_id", "term").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    cdf = ctf.groupBy("term").agg(F.count(F.lit(1)).alias("cdf"))
    scored = ctf.join(cdf, "term").select(
        "cluster_id",
        "term",
        "cnt",
        F.round(
            F.col("cnt")
            * F.log(F.lit(float(n_clusters)) / F.col("cdf").cast("double")),
            6,
        ).alias("score"),
    )
    top = grouped_topk(
        scored,
        ["cluster_id"],
        [("score", False), ("term", True)],
        CLUSTER_TOPIC_TERMS,
        rank_col="rnk",
    )
    return (
        top.join(broadcast(sizes), "cluster_id")
        .select("cluster_id", "n_docs", "term", "cnt", "score", "rnk")
        .orderBy("cluster_id", "rnk")
    )


def _cluster_topics_oracle(iters: int = 3) -> str:
    """Exact DuckDB twin of q_cluster_topics: the shared unrolled
    k-means prefix, one more assignment round over the final
    centroids, then the cluster-TF-IDF scoring."""
    return f"""
        {_kmeans_ctes(iters)},
        {_centroid_sims_sql(f"c{iters}", "simsf")},
        af AS (
          SELECT vec_id, centroid_id AS cluster_id FROM (
            SELECT vec_id, centroid_id,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sim DESC, centroid_id) AS rn
            FROM simsf) WHERE rn = 1),
        terms AS (
          SELECT af.cluster_id,
                 unnest(string_split_regex(trim(d.text), '\\s+')) AS term
          FROM documents d JOIN af ON d.doc_id = af.vec_id),
        ctf AS (SELECT cluster_id, term, count(*) AS cnt
                FROM terms GROUP BY 1, 2),
        cdfc AS (SELECT term, count(*) AS cdf FROM ctf GROUP BY 1),
        nc AS (SELECT count(DISTINCT cluster_id) AS n_clusters FROM af),
        sizes AS (SELECT cluster_id, count(*) AS n_docs
                  FROM af GROUP BY 1),
        scored AS (
          SELECT cluster_id, ctf.term AS term, cnt,
                 round(cnt * ln(CAST(n_clusters AS DOUBLE) / cdf), 6)
                   AS score
          FROM ctf JOIN cdfc ON ctf.term = cdfc.term CROSS JOIN nc),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY cluster_id
                                       ORDER BY score DESC, term) AS rnk
          FROM scored)
        SELECT r.cluster_id, s.n_docs, r.term, r.cnt, r.score,
               CAST(r.rnk AS BIGINT) AS rnk
        FROM ranked r JOIN sizes s ON r.cluster_id = s.cluster_id
        WHERE r.rnk <= {CLUSTER_TOPIC_TERMS}
        ORDER BY r.cluster_id, r.rnk
    """


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-k.

    Centroids: vectors with vec_id % (corpus/N_CENTROIDS-ish stride) --
    deterministic, no training step (a production build would k-means
    them; assignment/probing mechanics are identical). Assignment and
    probing both broadcast the centroid set.
    """
    vecs = _vectors(spark, sf_dir)
    return _ivf_search(vecs, _stride_centroids(vecs))


def _stride_centroids(vecs: DataFrame) -> DataFrame:
    """~N_CENTROIDS deterministic stride-sampled centroids regardless
    of corpus size. The centroid count must NOT scale with the corpus:
    assignment costs n x n_centroids dot products, so corpus-
    proportional centroids turn IVF quadratic (measured: 55s at 20k
    vectors vs 0.8s brute force before this fix)."""
    n = vecs.count()
    stride = max(1, n // N_CENTROIDS)
    return vecs.filter(F.col("vec_id") % stride == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv")
    )


def _ivf_search(vecs: DataFrame, centroids: DataFrame) -> DataFrame:
    rows = _centroid_rows(centroids)
    if not rows:  # empty corpus
        rows = [(0, [0.0])]
    normed = _with_norm(vecs)

    # assignment is a pure map over the corpus scan: Arrow-batched
    # numpy matmul against the (tiny) centroid matrix, no shuffle
    assigned = normed.select(
        "vec_id", "v", "vn", _nearest_centroid_udf(rows)(F.col("v")).alias("centroid_id")
    )

    # queries probe their NPROBE nearest centroid buckets -- same
    # vectorized scoring, one array<long> of probe ids per query
    probed = (
        normed.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("vn").alias("qn"),
            F.explode(
                _probe_centroids_udf(rows, NPROBE)(F.col("v"))
            ).alias("centroid_id"),
        )
    )

    # search only within probed buckets: the probe set (queries x
    # nprobe) is broadcast, so the corpus never shuffles -- the only
    # shuffle left is the pruned per-query top-k merge over candidates
    scored = (
        broadcast(probed).join(assigned, "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("vn")), 6
            ).alias("cosine"),
        )
    )
    return grouped_topk(
        scored, ["query_id"], [("cosine", False), ("neighbor_id", True)], TOP_K
    ).orderBy("query_id", "rank")


N_PLANES = 16
LSH_BANDS = 4  # 4 bands x (N_PLANES // LSH_BANDS)-bit keys

#: Code geometry is THE corpus-size knob for sign-LSH (SCALE.md,
#: Dedup): candidate volume per band is ~n^2 / 2^(bits per band), so a
#: bigger corpus needs more planes (wider band keys), not more code.
#: Every geometry-dependent helper below takes (n_planes, bands)
#: parameters defaulting to the fixture/oracle geometry -- the
#: defaults are contractual (oracles embed them); overrides are for
#: scale deployments and the scaling-ladder measurements.


def choose_geometry(
    threshold: float, *, miss_budget: float = 0.01, max_bands: int = 16
) -> tuple[int, int]:
    """(n_planes, bands) for sign-LSH targeting cosine ``threshold``
    with per-pair miss probability <= ``miss_budget`` -- the SCALE.md
    selection rule made executable (VERDICT r3 #4).

    Sign-random-projection collision math: two vectors at angle theta
    agree on one hyperplane with p = 1 - theta/pi, on a ``bits``-wide
    band with p^bits, and survive ``bands`` independent bands with miss
    (1 - p^bits)^bands. The knob tension: more bits per band prune
    candidates harder (volume ~ bands * n^2 / 2^bits) but need more
    bands to hold recall. This picks the WIDEST band (max pruning)
    whose required band count stays within ``max_bands``:

        bits  = max b such that ceil(log(miss)/log(1 - p^b)) <= max_bands
        bands = that ceil at the chosen bits

    High thresholds earn wide bands (0.9 -> 8-bit bands: p=0.856,
    p^8=0.29 survives per band); low thresholds cannot (0.45 -> 3-bit
    bands) -- the speedup is a function of the TARGET similarity, never
    free. Returns n_planes = bits * bands (always divisible, satisfying
    lsh_band_keys)."""
    import math

    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if not 0.0 < miss_budget < 1.0:
        raise ValueError(f"miss_budget must be in (0, 1), got {miss_budget}")
    p = 1.0 - math.acos(threshold) / math.pi
    for bits in range(63, 0, -1):
        p_band = p**bits
        if p_band <= 0.0 or p_band >= 1.0:
            continue
        bands = math.ceil(math.log(miss_budget) / math.log(1.0 - p_band))
        if bands <= max_bands:
            return bits * bands, bands
    raise ValueError(
        f"no geometry meets miss_budget={miss_budget} within "
        f"max_bands={max_bands} at threshold={threshold}; raise max_bands"
    )


def _hyperplanes(
    dim: int = 64, seed: int = 42, n_planes: int = N_PLANES
) -> list[list[float]]:
    """Deterministic +-1 random hyperplanes (Python-side literals --
    no UDF, folded into the plan as constants)."""
    import random

    rng = random.Random(seed)
    return [[rng.choice((-1.0, 1.0)) for _ in range(dim)] for _ in range(n_planes)]


def lsh_planes_values_sql() -> str:
    """The hyperplanes as a DuckDB VALUES list -- generated from the
    SAME Python source as the Spark literal (_hyperplanes), so both
    engines compute identical sign codes."""
    return ", ".join(
        "({w}, [{p}])".format(w=1 << j, p=", ".join(repr(float(x)) for x in plane))
        for j, plane in enumerate(_hyperplanes())
    )


def _planes_literal() -> Column:
    """The 16 hyperplanes as ONE array-of-structs literal expression
    (per-literal Column calls are py4j round-trips; 16 x 64 of them
    would dominate planning)."""
    return F.expr(
        "array("
        + ",".join(
            "named_struct('w', {w}, 'p', array({p}))".format(
                w=1 << j, p=",".join(f"CAST({float(x)!r} AS DOUBLE)" for x in plane)
            )
            for j, plane in enumerate(_hyperplanes())
        )
        + ")"
    )


def lsh_code(vcol: Column) -> Column:
    """16-bit sign-random-projection code of a double-array column.
    Portable arithmetic: each bit is sign(dot(v, plane)) with the
    planes +-1.0, so the dot is a sequential double sum of +-v[i] --
    bit-identical in any engine that folds lists left-to-right (the
    DuckDB oracles mirror it with list_sum/list_transform)."""
    bits = F.transform(
        _planes_literal(),
        lambda pl: F.when(_dot(vcol, pl["p"]) >= 0, pl["w"]).otherwise(F.lit(0)),
    )
    return F.aggregate(bits, F.lit(0), lambda a, x: a + x).cast("int")


def lsh_code_arrow(n_planes: int = N_PLANES):
    """Arrow-batched twin of :func:`lsh_code`: identical 16-bit sign
    codes, BIT-IDENTICAL arithmetic. ``np.cumsum`` emits every prefix,
    so its summation order is forced to sequential left-to-right --
    the same fold as the interpreted ``aggregate`` expression and
    DuckDB's ``list_sum`` -- which keeps the oracle contract intact
    while replacing ~n_planes x dim interpreted lambda evaluations per
    vector with one vectorized C pass (measured bit-equal to the
    expression form across the fixture ladder; guarded by
    tests/test_extensions.py::test_arrow_lsh_twins_bit_identical)."""
    P = np.array(_hyperplanes(n_planes=n_planes), dtype="float64")
    W = np.array([1 << j for j in range(n_planes)], dtype="int64")

    @F.pandas_udf("long")
    def code(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype="int64")
        M = np.stack(v.to_numpy())
        dots = np.cumsum(M[:, None, :] * P[None, :, :], axis=2)[:, :, -1]
        return pd.Series(((dots >= 0) * W).sum(axis=1))

    return code


def seq_dot_arrow():
    """Arrow-batched sequential dot product of two double-array
    columns -- bit-identical to the ``aggregate(zip_with(...))`` fold
    (and to DuckDB's ``list_sum``) because ``np.cumsum`` sums strictly
    left-to-right; element-wise products are exact IEEE ops in any
    order. The vectorized escape hatch for candidate-verification hot
    paths that must keep oracle bit-equality."""

    @F.pandas_udf("double")
    def dot(u: pd.Series, v: pd.Series) -> pd.Series:
        if not len(u):
            return pd.Series([], dtype="float64")
        U = np.stack(u.to_numpy())
        V = np.stack(v.to_numpy())
        return pd.Series(np.cumsum(U * V, axis=1)[:, -1])

    return dot


#: Byte gate for the id-keyed pair-scoring fast path (r11, guide
#: section 8 "decide with small rows, move big rows once"): when the
#: whole normalized corpus fits comfortably as ONE executor-shared
#: Spark broadcast (ids + matrix + norms; fetched once per worker,
#: NOT per task), candidate pairs are scored by BARE ID -- the
#: per-pair vector payloads never ride the pair shuffle and never
#: cross the Arrow boundary (measured r11: the join+seq_dot shape
#: shipped ~2 GB of duplicated 128-dim arrays JVM->Python for ~1M
#: pairs at sf0.1 -- 145 s task runtime vs 25 s CPU in the kNN stage,
#: the gap all Python-transfer wait). Above the gate (the 100 TB
#: regime) callers keep the join + seq_dot_arrow shape: a corpus that
#: big cannot broadcast, and paying the exchange is correct.
PAIR_SCORE_BROADCAST_MAX_BYTES = 256 * 1024 * 1024


def pair_cosine_by_id(
    normed: DataFrame, pairs: DataFrame, qcol: str, ncol: str
):
    """Gated fast path: ``pairs`` + a ``cosine`` column (round 6),
    scored by an Arrow kernel that looks both vectors up in a
    broadcast (ids, matrix, norms) snapshot of ``normed`` -- or None
    when the corpus exceeds PAIR_SCORE_BROADCAST_MAX_BYTES, in which
    case the caller keeps its join shape.

    Bit-exactness: the matrix/norms are COLLECTED from the same
    ``normed`` frame the join shape would attach (identical IEEE
    doubles -- vn is not recomputed), the dot is the same
    left-to-right np.cumsum fold as seq_dot_arrow, and the final
    dot / (qn * nn) is the same two correctly-rounded IEEE ops the
    SQL expression performs, so the scores -- and the oracle hash --
    are unchanged."""
    import numpy as _np

    spark = normed.sparkSession
    size_row = normed.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.max(F.size("v")), F.lit(0)).alias("d"),
    ).collect()[0]
    if (
        size_row.n == 0
        or size_row.n * size_row.d * 8 > PAIR_SCORE_BROADCAST_MAX_BYTES
    ):
        return None
    pdf = normed.select("vec_id", "v", "vn").toPandas()
    ids = pdf["vec_id"].to_numpy(dtype="int64")
    order = _np.argsort(ids)
    ids = ids[order]
    M = _np.stack(pdf["v"].to_numpy()[order])
    Vn = pdf["vn"].to_numpy(dtype="float64")[order]
    bc = spark.sparkContext.broadcast((ids, M, Vn))

    @F.pandas_udf("double")
    def cos(q: pd.Series, n: pd.Series) -> pd.Series:
        if not len(q):
            return pd.Series([], dtype="float64")
        ids_, M_, Vn_ = bc.value
        qi = _np.searchsorted(ids_, q.to_numpy())
        ni = _np.searchsorted(ids_, n.to_numpy())
        dots = _np.cumsum(M_[qi] * M_[ni], axis=1)[:, -1]
        return pd.Series(dots / (Vn_[qi] * Vn_[ni]))

    return pairs.withColumn(
        "cosine", F.round(cos(F.col(qcol), F.col(ncol)), 6)
    )


def lsh_band_keys(
    code: Column, bands: int = LSH_BANDS, n_planes: int = N_PLANES
) -> Column:
    """array of ``bands`` band keys, each (n_planes // bands) bits wide
    (band index folded in, so keys from different bands never collide).
    The default 4x4-bit geometry is the fixture/oracle contract; scale
    deployments pass wider geometry (see module note).

    ``n_planes`` must divide evenly into ``bands``: integer division
    would otherwise silently discard the top ``n_planes % bands`` code
    bits -- planes computed and paid for but never influencing banding
    (ADVICE r3)."""
    if n_planes % bands != 0:
        raise ValueError(
            f"n_planes ({n_planes}) must be divisible by bands ({bands}); "
            f"{n_planes % bands} code bits would be silently dropped"
        )
    bits = n_planes // bands
    mask = (1 << bits) - 1
    return F.array(
        *[
            (
                F.shiftright(code, b * bits).bitwiseAND(F.lit(mask))
                + F.lit(b << bits)
            )
            for b in range(bands)
        ]
    )


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: sign-random-projection codes (16 hyperplanes),
    banded into 4x4-bit buckets; candidates share >= 1 band bucket with
    the query, then are ranked by true cosine. Approximate relative to
    brute force (recall tested), but -- unlike the numpy-scored IVF/PQ
    variants -- fully ORACLE-CHECKED: the +-1-plane sign codes and the
    candidate cosine ranking are bit-portable to DuckDB (sequential
    double sums; see dedup.q_dedup_embedding_lsh), so the oracle
    reproduces the exact candidate set and ranking.

    At 100 TB: each vector carries a 16-bit code (2 bytes of state);
    the candidate join touches only same-bucket vectors -- like IVF but
    training-free and insert-friendly (a new vector's bucket is a pure
    function of the vector)."""
    vecs = _vectors(spark, sf_dir)
    # Arrow cumsum twin of lsh_code: bit-identical sign codes (guarded
    # by test_arrow_lsh_twins_bit_identical), one vectorized pass
    # instead of n_planes x dim interpreted lambdas per vector
    coded = _with_norm(vecs).select(
        "vec_id", "v", "vn", lsh_code_arrow()(F.col("v")).alias("code")
    )
    band_keys = lsh_band_keys(F.col("code"))
    banded = coded.select(
        "vec_id", "v", "vn", F.explode(band_keys).alias("band_key")
    )
    queries = banded.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("vn").alias("qn"),
        "band_key",
    )
    candidates = (
        queries.join(banded.withColumnRenamed("vec_id", "neighbor_id"), "band_key")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "qv", "qn", "neighbor_id", "v", "vn")
        .distinct()
    )
    scored = candidates.select(
        "query_id",
        "neighbor_id",
        F.round(
            _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("vn")), 6
        ).alias("cosine"),
    )
    return grouped_topk(
        scored, ["query_id"], [("cosine", False), ("neighbor_id", True)], TOP_K
    ).orderBy("query_id", "rank")


KNN_K = 3


def q_knn_graph(
    spark: SparkSession,
    sf_dir: str,
    *,
    target_cosine: float | None = None,
    n_planes: int | None = None,
    bands: int | None = None,
) -> DataFrame:
    """k-NN graph construction over the embedding corpus: for EVERY
    vector, its KNN_K nearest band-candidate neighbors by exact cosine
    -- the building block for graph-based clustering, HNSW-style index
    bootstrap, and kNN-classification smoke checks. Differs from
    q_ann_lsh_topk only in the query set (all vectors, not a 10-vector
    probe set), which changes the scale shape: the candidate volume is
    the full banded pair space (the q_dedup_embedding_lsh cost model
    and geometry knob apply verbatim -- ``n_planes``/``bands``
    override the contractual default, or pass ``target_cosine`` alone
    to derive them from :func:`choose_geometry`: neighbors at or above
    that similarity are retained with >= 99% probability per pair).

    Bit-portable end to end (sign codes + sequential-cumsum dots), so
    the oracle reproduces the exact neighbor lists. Vectors whose
    band buckets contain no other vector produce no rows (isolated
    under this geometry -- mirrored in the oracle)."""
    if target_cosine is not None and n_planes is None and bands is None:
        n_planes, bands = choose_geometry(target_cosine)
    n_planes = N_PLANES if n_planes is None else n_planes
    bands = LSH_BANDS if bands is None else bands
    vecs = _vectors(spark, sf_dir)
    normed = _with_norm(vecs)
    # band join + pair distinct on BARE IDS; vectors rejoin by id for
    # scoring (the q_dedup_embedding_lsh shuffle-volume lesson --
    # carrying both vectors through the pair distinct measured ~25 s
    # vs ~3 s warm at sf0.1)
    banded = normed.select(
        "vec_id",
        F.explode(
            lsh_band_keys(
                lsh_code_arrow(n_planes)(F.col("v")),
                bands=bands,
                n_planes=n_planes,
            )
        ).alias("band_key"),
    )
    # DIRECTED pairs, each scored independently. The tempting
    # score-each-unordered-pair-once-then-mirror refactor was measured
    # SLOWER (5.9 s vs 3.1 s warm at sf0.1): mirroring needs either an
    # eager materialization of the scored pairs (whose checkpoint cost
    # exceeds the saved Arrow dots) or a union that re-executes the
    # join+UDF subtree per branch (same total work plus union
    # overhead). The symmetric double-scoring is the cheaper shape in
    # this engine.
    pairs = (
        banded.select(F.col("vec_id").alias("query_id"), "band_key")
        .join(
            banded.select(F.col("vec_id").alias("neighbor_id"), "band_key"),
            "band_key",
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
        # the bare-id pair set is a few MB, so AQE coalesces it to a
        # handful of partitions -- but every pair downstream pays two
        # vector joins + an Arrow dot, cost the byte heuristic cannot
        # see (r11 profile: 8.5 s CPU across 6 tasks on 32 cores).
        # Spread the pairs before the scoring stage.
        .repartition(spark.sparkContext.defaultParallelism)
    )
    # id-keyed scoring under the broadcast gate: the pair frame stays
    # two bare ids end to end and the corpus matrix ships once per
    # worker (r11, guide section 8); past the gate the vectors rejoin
    # by id and seq_dot_arrow scores them (the prior shape, correct at
    # corpus sizes that cannot broadcast)
    scored = pair_cosine_by_id(normed, pairs, "query_id", "neighbor_id")
    if scored is None:
        dot = seq_dot_arrow()
        scored = (
            pairs.join(
                normed.select(
                    F.col("vec_id").alias("query_id"),
                    F.col("v").alias("qv"),
                    F.col("vn").alias("qn"),
                ),
                "query_id",
            )
            .join(
                normed.select(
                    F.col("vec_id").alias("neighbor_id"),
                    F.col("v").alias("nv"),
                    F.col("vn").alias("nn"),
                ),
                "neighbor_id",
            )
            .select(
                "query_id",
                "neighbor_id",
                F.round(
                    dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn")),
                    6,
                ).alias("cosine"),
            )
        )
    else:
        scored = scored.select("query_id", "neighbor_id", "cosine")
    return grouped_topk(
        scored, ["query_id"], [("cosine", False), ("neighbor_id", True)], KNN_K
    ).orderBy("query_id", "rank")


_COS_SQL = """
 list_sum(list_transform(generate_series(1, len(q.v)), i -> q.v[i] * c.v[i])) /
 (sqrt(list_sum(list_transform(generate_series(1, len(q.v)), i -> q.v[i] * q.v[i]))) *
  sqrt(list_sum(list_transform(generate_series(1, len(c.v)), i -> c.v[i] * c.v[i]))))
"""

def q_embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids: the elementwise mean vector of
    every label class -- the bootstrap for IVF/k-means initialization
    and the standard per-class drift diagnostic over an embedding
    corpus.

    Determinism: float sums are reduce-order-dependent, so each
    component is summed exactly. The float travels float -> shortest
    decimal string -> DECIMAL(28,18): a float32's shortest repr has
    <= 9 significant digits, so for unit-scale embeddings (>= 1e-6
    magnitude) scale 18 holds it EXACTLY -- no rounding mode involved,
    both engines parse the identical value, and the decimal sum is
    order-insensitive. Mean divides as IEEE double at the end --
    bit-identical to the DuckDB oracle. (A direct float->decimal cast
    is NOT portable: Spark rounds the double expansion HALF_UP,
    DuckDB half-even -- one low bit per ~10^10 components flips.)

    Scale shape: posexplode fans each vector into dim rows of
    (label, pos, x) -- map-side -- then ONE shuffle keyed (label, pos)
    with partial aggregation, then a tiny (labels x dim) regroup to
    reassemble arrays. Shuffle volume is corpus x dim scalars of
    partial sums reduced map-side first; no collect, no UDF."""
    emb = load_table(spark, sf_dir, "embeddings")
    per_comp = (
        emb.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(
            F.sum(F.col("x").cast("string").cast("decimal(28,18)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "label",
            "pos",
            # decimal->double differs by 1 ulp between engines (int128
            # scaling vs BigDecimal); decimal->string->double is exact
            # then correctly-rounded strtod in both
            (F.col("s").cast("string").cast("double") / F.col("n")).alias("m"),
            "n",
        )
    )
    # Long format (one row per component), not array<double>: array
    # VALUES are engine-identical here, but array RENDERING through the
    # driver's canonicalization is not trusted (same reason
    # q_array_agg_parts_per_brand stringifies its list) -- scalar rows
    # hash portably and reassemble trivially.
    return per_comp.select(
        "label",
        F.col("pos").cast("long").alias("pos"),
        F.col("m").alias("centroid_component"),
        F.col("n").alias("n_vectors"),
    ).orderBy("label", "pos")


def _ann_ivf_oracle() -> str:
    """Exact DuckDB twin of q_ann_ivf_topk (the VERDICT r2 stretch
    goal). Everything in the stride-IVF pipeline is deterministic:
    centroid choice (vec_id % stride), nearest-centroid assignment
    (argmax over cosine, first-max tie-break = smallest centroid_id),
    probe lists (stable argsort -> centroid_id-ascending ties), and the
    final candidate scoring (JVM sequential arithmetic, same _COS_SQL
    contract as the brute-force oracle). The centroid similarities are
    computed with the bit-portable sequential-cumsum arithmetic
    (_seq_sims), so the assignment/probe decisions reproduce in DuckDB
    unconditionally -- exact float ties break to the smallest centroid
    id on both sides (numpy first-max == row_number's (sim DESC, cid)
    order). A fixture margin test additionally shows top1-top2 argmax
    margins >= 1e-6, nine orders above any summation-order noise."""
    return f"""
        WITH e AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        stride AS (SELECT greatest(1, count(*) // {N_CENTROIDS}) AS s FROM e),
        cent AS (
          SELECT vec_id AS centroid_id, v AS cv
          FROM e, stride WHERE vec_id % stride.s = 0),
        {_ivf_search_sql("cent")}
    """


def _centroid_sims_sql(cent_cte: str, alias: str, where: str = "") -> str:
    """corpus-x-centroid cosine similarities against the ``cent_cte``
    centroid relation -- sequential list_sum arithmetic, bit-identical
    to the Spark side's _seq_sims cumsum fold."""
    return f"""
        {alias} AS (
          SELECT e.vec_id, cc.centroid_id,
                 list_sum(list_transform(generate_series(1, len(e.v)),
                                         i -> e.v[i] * cc.cv[i])) /
                 (sqrt(list_sum(list_transform(generate_series(1, len(e.v)),
                                               i -> e.v[i] * e.v[i]))) *
                  sqrt(list_sum(list_transform(generate_series(1, len(cc.cv)),
                                               i -> cc.cv[i] * cc.cv[i]))))
                   AS sim
          FROM e, {cent_cte} cc {where})
    """


def _ivf_search_sql(cent_cte: str) -> str:
    """The IVF assignment/probe/search/rank tail, shared by the stride
    and k-means oracles: expects CTEs ``e`` (vec_id, v double list) and
    ``cent_cte`` (centroid_id, cv double list) to be in scope, emits
    the final SELECT."""
    return f"""
        {_centroid_sims_sql(cent_cte, "sims")},
        assign AS (
          SELECT vec_id, centroid_id FROM (
            SELECT vec_id, centroid_id,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sim DESC, centroid_id) AS rn
            FROM sims) WHERE rn = 1),
        probes AS (
          SELECT vec_id AS query_id, centroid_id FROM (
            SELECT vec_id, centroid_id,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sim DESC, centroid_id) AS rn
            FROM sims WHERE vec_id < {N_QUERIES}) WHERE rn <= {NPROBE}),
        cand AS (
          SELECT p.query_id, a.vec_id AS neighbor_id
          FROM probes p JOIN assign a ON a.centroid_id = p.centroid_id
          WHERE a.vec_id <> p.query_id),
        scored AS (
          SELECT query_id, neighbor_id, round({_COS_SQL}, 6) AS cosine
          FROM cand
          JOIN e q ON q.vec_id = query_id
          JOIN e c ON c.vec_id = neighbor_id),
        ranked AS (
          SELECT query_id, neighbor_id, cosine,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, neighbor_id) AS rank
          FROM scored)
        SELECT query_id, neighbor_id, cosine, rank
        FROM ranked WHERE rank <= {TOP_K}
        ORDER BY query_id, rank
    """


def _kmeans_ctes(iters: int = 3) -> str:
    """The unrolled-Lloyd's CTE prefix shared by the k-means oracles:
    ``WITH e/comp/stride/c0`` through the final centroid relation
    ``c{iters}``. Reproducible because every step is: sequential-fold
    cosine (bit-identical to _seq_sims' cumsum), first-max/smallest-id
    tie-breaks (row_number OVER (sim DESC, centroid_id)), and
    order-independent decimal sums of float32 shortest-repr strings
    for the means (the q_embedding_label_centroids contract). The
    centroid doubles after every iteration are therefore bit-equal
    across engines."""
    parts = [
        f"""
        WITH e AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        comp AS (SELECT vec_id,
                        CAST(CAST(x AS VARCHAR) AS DECIMAL(28,18)) AS xdec,
                        pos
                 FROM (SELECT vec_id,
                              unnest(embedding) AS x,
                              generate_subscripts(embedding, 1) AS pos
                       FROM embeddings)),
        stride AS (SELECT greatest(1, count(*) // {N_CENTROIDS}) AS s FROM e),
        c0 AS (
          SELECT vec_id AS centroid_id, v AS cv
          FROM e, stride WHERE vec_id % stride.s = 0)
        """
    ]
    for it in range(iters):
        parts.append("," + _centroid_sims_sql(f"c{it}", f"sims{it}"))
        parts.append(
            f""",
        a{it} AS (
          SELECT vec_id, centroid_id FROM (
            SELECT vec_id, centroid_id,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sim DESC, centroid_id) AS rn
            FROM sims{it}) WHERE rn = 1),
        c{it + 1} AS (
          SELECT centroid_id, list(m ORDER BY pos) AS cv FROM (
            SELECT a.centroid_id, comp.pos,
                   CAST(CAST(sum(comp.xdec) AS VARCHAR) AS DOUBLE)
                     / count(*) AS m
            FROM a{it} a JOIN comp USING (vec_id)
            GROUP BY 1, 2)
          GROUP BY 1)
            """
        )
    return "".join(parts)


def _ann_ivf_kmeans_oracle(iters: int = 3) -> str:
    """Exact DuckDB twin of q_ann_ivf_kmeans_topk: the shared unrolled
    k-means prefix (_kmeans_ctes), then the IVF search tail over the
    final centroids."""
    return _kmeans_ctes(iters) + "," + _ivf_search_sql(f"c{iters}")


def _ann_lsh_oracle() -> str:
    """Exact DuckDB twin of q_ann_lsh_topk: same sign codes (shared
    plane constants via lsh_planes_values_sql), same banding, same
    cosine ranking -- candidate set and order reproduce bit-for-bit."""
    return f"""
        WITH e AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        coded AS (
          SELECT e.vec_id,
                 CAST(sum(CASE WHEN list_sum(list_transform(
                            generate_series(1, len(e.v)),
                            i -> e.v[i] * pl.p[i])) >= 0
                          THEN pl.w ELSE 0 END) AS INT) AS code
          FROM e, (VALUES {lsh_planes_values_sql()}) AS pl(w, p)
          GROUP BY e.vec_id),
        banded AS (
          SELECT vec_id, ((code >> (bb.b * 4)) & 15) + bb.b * 16 AS band_key
          FROM coded, (VALUES (0), (1), (2), (3)) AS bb(b)),
        cand AS (
          SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
          FROM banded qb JOIN banded cb ON qb.band_key = cb.band_key
          WHERE qb.vec_id < {N_QUERIES} AND cb.vec_id <> qb.vec_id),
        scored AS (
          SELECT query_id, neighbor_id, round({_COS_SQL}, 6) AS cosine
          FROM cand
          JOIN e q ON q.vec_id = query_id
          JOIN e c ON c.vec_id = neighbor_id),
        ranked AS (
          SELECT query_id, neighbor_id, cosine,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, neighbor_id) AS rank
          FROM scored)
        SELECT query_id, neighbor_id, cosine, rank
        FROM ranked WHERE rank <= {TOP_K}
        ORDER BY query_id, rank
    """


def _knn_graph_oracle() -> str:
    """Exact DuckDB twin of q_knn_graph: q_ann_lsh_topk's oracle with
    every vector as a query and rank <= KNN_K."""
    return f"""
        WITH e AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        coded AS (
          SELECT e.vec_id,
                 CAST(sum(CASE WHEN list_sum(list_transform(
                            generate_series(1, len(e.v)),
                            i -> e.v[i] * pl.p[i])) >= 0
                          THEN pl.w ELSE 0 END) AS BIGINT) AS code
          FROM e, (VALUES {lsh_planes_values_sql()}) AS pl(w, p)
          GROUP BY e.vec_id),
        banded AS (
          SELECT vec_id, ((code >> (bb.b * 4)) & 15) + bb.b * 16 AS band_key
          FROM coded, (VALUES (0), (1), (2), (3)) AS bb(b)),
        cand AS (
          SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
          FROM banded qb JOIN banded cb ON qb.band_key = cb.band_key
          WHERE cb.vec_id <> qb.vec_id),
        scored AS (
          SELECT query_id, neighbor_id, round({_COS_SQL}, 6) AS cosine
          FROM cand
          JOIN e q ON q.vec_id = query_id
          JOIN e c ON c.vec_id = neighbor_id),
        ranked AS (
          SELECT query_id, neighbor_id, cosine,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, neighbor_id) AS rank
          FROM scored)
        SELECT query_id, neighbor_id, cosine, rank
        FROM ranked WHERE rank <= {KNN_K}
        ORDER BY query_id, rank
    """


def q_hard_negatives(
    spark: SparkSession,
    sf_dir: str,
    *,
    target_cosine: float | None = None,
    n_planes: int | None = None,
    bands: int | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: for
    each vector, the single most similar LSH band-candidate with a
    DIFFERENT label -- the negative a contrastive loss learns most
    from (dataset curation for retrieval/embedding finetunes mines
    exactly this at corpus scale). Vectors whose candidate buckets
    hold no other-label vector produce no row (no hard negative under
    this geometry), mirrored in the oracle.

    Plan shape = q_knn_graph with a label anti-filter before scoring:
    band join + pair distinct on bare ids, labels joined by id (two
    O(n) joins, no vectors through the distinct), exact cosine on the
    filtered candidates only, map-side-pruned top-1 per query. Same
    bit-portable arithmetic (sign codes + sequential-cumsum dots), so
    the oracle reproduces the exact winners. Same geometry knob as
    q_knn_graph/q_triplet_mining: ``n_planes``/``bands`` override the
    contractual default, ``target_cosine`` alone derives them via
    :func:`choose_geometry`."""
    if target_cosine is not None and n_planes is None and bands is None:
        n_planes, bands = choose_geometry(target_cosine)
    n_planes = N_PLANES if n_planes is None else n_planes
    bands = LSH_BANDS if bands is None else bands
    emb = load_table(spark, sf_dir, "embeddings")
    labels = emb.select("vec_id", "label")
    normed = _with_norm(_vectors(spark, sf_dir))
    banded = normed.select(
        "vec_id",
        F.explode(
            lsh_band_keys(
                lsh_code_arrow(n_planes)(F.col("v")),
                bands=bands,
                n_planes=n_planes,
            )
        ).alias("band_key"),
    )
    pairs = (
        banded.select(F.col("vec_id").alias("query_id"), "band_key")
        .join(
            banded.select(F.col("vec_id").alias("neighbor_id"), "band_key"),
            "band_key",
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
        # spread the AQE-coalesced pair set before the label/vector
        # joins + Arrow scoring (see q_knn_graph)
        .repartition(spark.sparkContext.defaultParallelism)
        .join(
            labels.select(F.col("vec_id").alias("query_id"), "label"),
            "query_id",
        )
        .join(
            labels.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("neg_label"),
            ),
            "neighbor_id",
        )
        .filter(F.col("neg_label") != F.col("label"))
    )
    # id-keyed scoring under the broadcast gate (see q_knn_graph /
    # pair_cosine_by_id); past the gate the vectors rejoin by id
    fast = pair_cosine_by_id(normed, pairs, "query_id", "neighbor_id")
    if fast is not None:
        scored = fast.select(
            "query_id",
            "label",
            F.col("neighbor_id").alias("negative_id"),
            "neg_label",
            "cosine",
        )
    else:
        dot = seq_dot_arrow()
        scored = (
            pairs.join(
                normed.select(
                    F.col("vec_id").alias("query_id"),
                    F.col("v").alias("qv"),
                    F.col("vn").alias("qn"),
                ),
                "query_id",
            )
            .join(
                normed.select(
                    F.col("vec_id").alias("neighbor_id"),
                    F.col("v").alias("nv"),
                    F.col("vn").alias("nn"),
                ),
                "neighbor_id",
            )
            .select(
                "query_id",
                "label",
                F.col("neighbor_id").alias("negative_id"),
                "neg_label",
                F.round(
                    dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn")),
                    6,
                ).alias("cosine"),
            )
        )
    return (
        grouped_topk(
            scored, ["query_id"], [("cosine", False), ("negative_id", True)], 1
        )
        .select("query_id", "label", "negative_id", "neg_label", "cosine")
        .orderBy("query_id")
    )


def q_triplet_mining(
    spark: SparkSession,
    sf_dir: str,
    *,
    target_cosine: float | None = None,
    n_planes: int | None = None,
    bands: int | None = None,
) -> DataFrame:
    """(anchor, positive, negative) triplet mining for contrastive
    training: per anchor vector, the most similar SAME-label LSH
    band-candidate (hardest easy positive) and the most similar
    DIFFERENT-label candidate (hard negative), emitted only when both
    exist -- exactly the triplets a margin/InfoNCE loss consumes, and
    the margin column (pos - neg cosine) is the curriculum signal
    (small/negative margin = the informative triplet).

    Plan shape: ONE band join + bare-id pair distinct + ONE scoring
    pass over the candidates (vectors rejoin by id), then two map-side
    pruned top-1 reductions (grouped_topk) split by label match, and a
    final anchor-keyed join of the two 1-row-per-anchor sides. Compared
    to running q_hard_negatives twice, the candidate generation and
    cosine scoring are shared -- at corpus scale those passes are the
    whole cost. Bit-portable arithmetic throughout (sign codes +
    sequential-cumsum dots), so the oracle reproduces the exact
    winners.

    Scale: candidate volume is the banded pair space (~bands x n^2 /
    2^bits) -- quadratic at FIXED geometry (measured 5.3/22.4/82.7 s
    on the 1x/4x/10x salted ladder), linear-ish once geometry scales
    with the corpus. ``n_planes``/``bands`` override the contractual
    default; ``target_cosine`` alone derives them via
    :func:`choose_geometry` (triplet partners at or above that
    similarity retained with >= 99% probability per pair)."""
    if target_cosine is not None and n_planes is None and bands is None:
        n_planes, bands = choose_geometry(target_cosine)
    n_planes = N_PLANES if n_planes is None else n_planes
    bands = LSH_BANDS if bands is None else bands
    emb = load_table(spark, sf_dir, "embeddings")
    labels = emb.select("vec_id", "label")
    normed = _with_norm(_vectors(spark, sf_dir))
    banded = normed.select(
        "vec_id",
        F.explode(
            lsh_band_keys(
                lsh_code_arrow(n_planes)(F.col("v")),
                bands=bands,
                n_planes=n_planes,
            )
        ).alias("band_key"),
    )
    cand = (
        banded.select(F.col("vec_id").alias("anchor_id"), "band_key")
        .join(
            banded.select(F.col("vec_id").alias("other_id"), "band_key"),
            "band_key",
        )
        .filter(F.col("other_id") != F.col("anchor_id"))
        .select("anchor_id", "other_id")
        .distinct()
        # spread the AQE-coalesced pair set before the label/vector
        # joins + Arrow scoring (see q_knn_graph)
        .repartition(spark.sparkContext.defaultParallelism)
        .join(
            labels.select(F.col("vec_id").alias("anchor_id"), "label"),
            "anchor_id",
        )
        .join(
            labels.select(
                F.col("vec_id").alias("other_id"),
                F.col("label").alias("other_label"),
            ),
            "other_id",
        )
    )
    # id-keyed scoring under the broadcast gate (see q_knn_graph /
    # pair_cosine_by_id); past the gate the vectors rejoin by id
    fast = pair_cosine_by_id(normed, cand, "anchor_id", "other_id")
    if fast is not None:
        scored = fast.select(
            "anchor_id", "label", "other_id", "other_label", "cosine"
        )
    else:
        dot = seq_dot_arrow()
        scored = (
            cand.join(
                normed.select(
                    F.col("vec_id").alias("anchor_id"),
                    F.col("v").alias("qv"),
                    F.col("vn").alias("qn"),
                ),
                "anchor_id",
            )
            .join(
                normed.select(
                    F.col("vec_id").alias("other_id"),
                    F.col("v").alias("ov"),
                    F.col("vn").alias("on_"),
                ),
                "other_id",
            )
            .select(
                "anchor_id",
                "label",
                "other_id",
                "other_label",
                F.round(
                    dot(F.col("qv"), F.col("ov")) / (F.col("qn") * F.col("on_")),
                    6,
                ).alias("cosine"),
            )
        )
    pos = grouped_topk(
        scored.filter(F.col("other_label") == F.col("label")),
        ["anchor_id"],
        [("cosine", False), ("other_id", True)],
        1,
    ).select(
        "anchor_id",
        "label",
        F.col("other_id").alias("positive_id"),
        F.col("cosine").alias("pos_cosine"),
    )
    neg = grouped_topk(
        scored.filter(F.col("other_label") != F.col("label")),
        ["anchor_id"],
        [("cosine", False), ("other_id", True)],
        1,
    ).select(
        "anchor_id",
        F.col("other_id").alias("negative_id"),
        F.col("other_label").alias("neg_label"),
        F.col("cosine").alias("neg_cosine"),
    )
    return (
        pos.join(neg, "anchor_id")
        .select(
            "anchor_id",
            "label",
            "positive_id",
            "pos_cosine",
            "negative_id",
            "neg_label",
            "neg_cosine",
            F.round(F.col("pos_cosine") - F.col("neg_cosine"), 6).alias(
                "margin"
            ),
        )
        .orderBy("anchor_id")
    )


def _triplet_mining_oracle() -> str:
    """q_hard_negatives' oracle generalized: one scored candidate set,
    two rank-1 branches (same-label / different-label), inner join."""
    return f"""
        WITH e AS (SELECT vec_id, label,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        coded AS (
          SELECT e.vec_id,
                 CAST(sum(CASE WHEN list_sum(list_transform(
                            generate_series(1, len(e.v)),
                            i -> e.v[i] * pl.p[i])) >= 0
                          THEN pl.w ELSE 0 END) AS BIGINT) AS code
          FROM e, (VALUES {lsh_planes_values_sql()}) AS pl(w, p)
          GROUP BY e.vec_id),
        banded AS (
          SELECT vec_id, ((code >> (bb.b * 4)) & 15) + bb.b * 16 AS band_key
          FROM coded, (VALUES (0), (1), (2), (3)) AS bb(b)),
        cand AS (
          SELECT DISTINCT qb.vec_id AS anchor_id, cb.vec_id AS other_id
          FROM banded qb JOIN banded cb ON qb.band_key = cb.band_key
          WHERE cb.vec_id <> qb.vec_id),
        scored AS (
          SELECT anchor_id, ql.label AS label, other_id,
                 cl.label AS other_label,
                 round({_COS_SQL.replace("q.v", "qe.v").replace("c.v", "ce.v")}, 6)
                   AS cosine
          FROM cand
          JOIN e ql ON ql.vec_id = anchor_id
          JOIN e cl ON cl.vec_id = other_id
          JOIN e qe ON qe.vec_id = anchor_id
          JOIN e ce ON ce.vec_id = other_id),
        pos AS (
          SELECT anchor_id, label, other_id AS positive_id,
                 cosine AS pos_cosine
          FROM (SELECT *,
                       row_number() OVER (PARTITION BY anchor_id
                                          ORDER BY cosine DESC, other_id)
                         AS rn
                FROM scored WHERE other_label = label)
          WHERE rn = 1),
        neg AS (
          SELECT anchor_id, other_id AS negative_id,
                 other_label AS neg_label, cosine AS neg_cosine
          FROM (SELECT *,
                       row_number() OVER (PARTITION BY anchor_id
                                          ORDER BY cosine DESC, other_id)
                         AS rn
                FROM scored WHERE other_label <> label)
          WHERE rn = 1)
        SELECT p.anchor_id, p.label, p.positive_id, p.pos_cosine,
               n.negative_id, n.neg_label, n.neg_cosine,
               round(p.pos_cosine - n.neg_cosine, 6) AS margin
        FROM pos p JOIN neg n ON p.anchor_id = n.anchor_id
        ORDER BY p.anchor_id
    """


def _hard_negatives_oracle() -> str:
    """q_knn_graph's oracle with a label anti-filter and rank 1."""
    return f"""
        WITH e AS (SELECT vec_id, label,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        coded AS (
          SELECT e.vec_id,
                 CAST(sum(CASE WHEN list_sum(list_transform(
                            generate_series(1, len(e.v)),
                            i -> e.v[i] * pl.p[i])) >= 0
                          THEN pl.w ELSE 0 END) AS BIGINT) AS code
          FROM e, (VALUES {lsh_planes_values_sql()}) AS pl(w, p)
          GROUP BY e.vec_id),
        banded AS (
          SELECT vec_id, ((code >> (bb.b * 4)) & 15) + bb.b * 16 AS band_key
          FROM coded, (VALUES (0), (1), (2), (3)) AS bb(b)),
        cand AS (
          SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
          FROM banded qb JOIN banded cb ON qb.band_key = cb.band_key
          WHERE cb.vec_id <> qb.vec_id),
        labeled AS (
          SELECT query_id, neighbor_id, ql.label AS label,
                 cl.label AS neg_label
          FROM cand
          JOIN e ql ON ql.vec_id = query_id
          JOIN e cl ON cl.vec_id = neighbor_id
          WHERE ql.label <> cl.label),
        scored AS (
          SELECT query_id, labeled.label, neighbor_id AS negative_id,
                 neg_label, round({_COS_SQL}, 6) AS cosine
          FROM labeled
          JOIN e q ON q.vec_id = query_id
          JOIN e c ON c.vec_id = neighbor_id),
        ranked AS (
          SELECT *,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, negative_id)
                   AS rank
          FROM scored)
        SELECT query_id, label, negative_id, neg_label, cosine
        FROM ranked WHERE rank = 1
        ORDER BY query_id
    """


def q_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall self-audit of the approximate index: per query vector,
    how many of the TRUE top-K (brute force) the LSH index returned --
    the sample-audit SCALE.md prescribes for every approximate
    operator at 100 TB (run the cheap index corpus-wide, brute-force a
    query sample, report recall@K; a recall regression is the signal
    the LSH geometry no longer fits the corpus).

    Pure composition of two oracle-checked operators (exact top-k +
    LSH top-k) joined on (query, neighbor) -- so the audit itself is
    oracle-checked end to end, and its cost is the query-sample brute
    force, not a corpus scan."""
    bf = q_ann_bruteforce_topk(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    lsh = q_ann_lsh_topk(spark, sf_dir).select(
        F.col("query_id").alias("lq"), F.col("neighbor_id").alias("ln")
    )
    return (
        bf.join(
            lsh,
            (F.col("query_id") == F.col("lq"))
            & (F.col("neighbor_id") == F.col("ln")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_true"),
            F.count("ln").cast("long").alias("n_hit"),
        )
        .select(
            "query_id",
            "n_true",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_true"), 6).alias("recall"),
        )
        .orderBy("query_id")
    )


def _ann_recall_audit_oracle() -> str:
    return f"""
        WITH bf AS ({SIMILARITY_ORACLES["q_ann_bruteforce_topk"]}),
        lsh AS ({_ann_lsh_oracle()})
        SELECT bf.query_id,
               CAST(count(*) AS BIGINT) AS n_true,
               CAST(count(lsh.neighbor_id) AS BIGINT) AS n_hit,
               round(count(lsh.neighbor_id) * 1.0 / count(*), 6) AS recall
        FROM bf LEFT JOIN lsh
          ON bf.query_id = lsh.query_id
         AND bf.neighbor_id = lsh.neighbor_id
        GROUP BY bf.query_id ORDER BY bf.query_id
    """


#: Power-iteration rounds for the top-principal-component operator.
#: Fixed (not convergence-tested) so runtime is deterministic and the
#: oracle can unroll the loop; 6 rounds from a constant start vector
#: put the Rayleigh quotient within a fraction of a percent of the
#: dominant eigenvalue on any spectrum with a visible gap.
PCA_POWER_ITERS = 6


def q_embedding_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by power
    iteration, emitted as each vector's projection score -- the
    whitening / drift-diagnostic / curriculum axis of embedding
    curation (e.g. removing the dominant 'common-crawl direction'
    before similarity search, or ordering a corpus along its main
    variance axis).

    Distributed part (the corpus-sized work):
      1. per-component mean -- decimal-exact, the
         q_embedding_label_centroids contract (one shuffle keyed pos);
      2. centered covariance -- upper-triangle outer-product cells
         accumulated as 1e12-scaled long fixed-point (order-
         independent exact integer addition, partial-agg friendly:
         the shuffle carries ~tasks x dim^2 partial cells, not
         n x dim^2 products);
      3. per-vector projection -- Arrow-batched sequential-cumsum dot
         against the finished component (pure map).
    Driver part: the power iteration itself runs on the COLLECTED
    dim x dim covariance -- bounded model metadata (dim^2 doubles,
    like a centroid table), with every sum a cumsum fold so each
    iterate is bit-identical to the oracle's ``list_sum(list(...
    ORDER BY ...))`` unrolled CTE chain. No float ever crosses
    engines un-pinned, so the projections match bit-for-bit."""
    vecs, mc, vc = _top_pc_model(spark, sf_dir)
    if mc is None:  # empty corpus -> empty projection table
        return vecs.select("vec_id", F.lit(0.0).alias("proj")).limit(0)

    @F.pandas_udf("double")
    def proj(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype="float64")
        M = np.stack(vs.to_numpy())
        return pd.Series(np.cumsum((M - mc[None, :]) * vc[None, :], axis=1)[:, -1])

    return vecs.select(
        "vec_id", F.round(proj(F.col("v")), 6).alias("proj")
    ).orderBy("vec_id")


def _top_pc_model(spark: SparkSession, sf_dir: str):
    """(vecs, mean, component) -- the distributed mean/covariance pass
    plus the driver-side bit-portable power iteration shared by
    q_embedding_top_pc and q_embedding_debias_abtt. Returns
    (vecs, None, None) on an empty corpus."""
    import math

    vecs = _vectors(spark, sf_dir)
    comp = vecs.select("vec_id", F.posexplode("v").alias("pos", "x"))
    mean_rows = (
        comp.groupBy("pos")
        .agg(
            F.sum(
                F.col("x").cast("float").cast("string").cast("decimal(28,18)")
            ).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "pos",
            (F.col("s").cast("string").cast("double") / F.col("n")).alias("m"),
            "n",
        )
        .collect()
    )
    if not mean_rows:
        return vecs, None, None
    d = len(mean_rows)
    n = mean_rows[0]["n"]
    m = np.zeros(d)
    for r in mean_rows:
        m[r["pos"]] = r["m"]

    # Centered components as a long frame, then the outer product as a
    # vec_id-keyed self-join restricted to the upper triangle (the
    # matrix is symmetric; the lower half is mirrored after collect):
    # ~d^2/2 product rows per vector, immediately reduced by map-side
    # partial aggregation so the shuffle carries ~tasks x dim^2
    # partials, not n x dim^2 products.
    #
    # Order-independent exact accumulation WITHOUT per-row decimals:
    # each product is scaled by 1e12/n and HALF_UP-rounded to a LONG
    # fixed-point contribution, summed as plain codegen'd long
    # arithmetic (measured 20 s -> ~4 s vs the round-to-DECIMAL(38,12)
    # form at sf0.1). Pre-dividing by n bounds every cell's sum by
    # max|product| x 1e12 REGARDLESS of corpus size, so the long
    # accumulator cannot overflow at any n; the +-0.5e-12 per-cell
    # quantization is ~9 orders below the covariance values and, like
    # every constant here, is reproduced exactly by the oracle.
    mean_df = spark.createDataFrame(
        [(int(r["pos"]), float(r["m"])) for r in mean_rows], "i int, m double"
    )
    comp2 = (
        vecs.select("vec_id", F.posexplode("v").alias("i", "x"))
        .join(broadcast(mean_df), "i")
        .select("vec_id", "i", (F.col("x") - F.col("m")).alias("ci"))
    )
    cov_rows = (
        comp2.join(
            comp2.select(
                "vec_id", F.col("i").alias("j"), F.col("ci").alias("cj")
            ),
            "vec_id",
        )
        .filter(F.col("j") >= F.col("i"))
        .groupBy("i", "j")
        .agg(
            F.sum(
                F.round(
                    F.col("ci") * F.col("cj") * F.lit(1e12 / n)
                ).cast("long")
            ).alias("k")
        )
        .select(
            "i",
            "j",
            (F.col("k").cast("double") / F.lit(1e12)).alias("c"),
        )
        .collect()  # bounded: dim^2/2 cells of model metadata
    )
    C = np.zeros((d, d))
    for r in cov_rows:
        C[r["i"], r["j"]] = r["c"]
        C[r["j"], r["i"]] = r["c"]

    v = np.full(d, 1.0 / math.sqrt(d))
    for _ in range(PCA_POWER_ITERS):
        u = np.cumsum(C * v[None, :], axis=1)[:, -1]  # fold over j asc
        nm = math.sqrt(np.cumsum(u * u)[-1])  # fold over i asc
        v = u / nm
    return vecs, m.copy(), v.copy()


def q_embedding_debias_abtt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-But-The-Top embedding post-processing audit (Mu &
    Viswanath 2018): center the corpus and remove the top principal
    component -- the standard isotropy fix applied to embedding spaces
    before similarity search (the dominant direction is usually
    frequency/corpus artifact, not meaning). Emits, per vector, the
    removed projection and the centered norm before/after removal --
    the audit a pipeline stores alongside the corrected corpus (the
    corrected vectors themselves would be written columnar; arrays are
    hash-unsafe driver outputs).

    Same model pass as q_embedding_top_pc (shared _top_pc_model); the
    apply step is one Arrow-batched map computing all three statistics
    with sequential-cumsum folds, so the oracle -- the shared
    power-iteration CTE prefix plus two ordered list folds over the
    centered components -- matches bit-for-bit. The residual uses the
    RAW (unrounded) projection, mirrored in SQL."""
    vecs, mc, vc = _top_pc_model(spark, sf_dir)
    if mc is None:
        return vecs.select(
            "vec_id",
            F.lit(0.0).alias("proj"),
            F.lit(0.0).alias("norm_before"),
            F.lit(0.0).alias("norm_after"),
        ).limit(0)

    @F.pandas_udf("proj double, norm_before double, norm_after double")
    def abtt(vs: pd.Series) -> pd.DataFrame:
        if not len(vs):
            return pd.DataFrame(
                {"proj": [], "norm_before": [], "norm_after": []}
            )
        M = np.stack(vs.to_numpy()) - mc[None, :]
        P = np.cumsum(M * vc[None, :], axis=1)[:, -1]
        nb = np.sqrt(np.cumsum(M * M, axis=1)[:, -1])
        R = M - P[:, None] * vc[None, :]
        na = np.sqrt(np.cumsum(R * R, axis=1)[:, -1])
        return pd.DataFrame({"proj": P, "norm_before": nb, "norm_after": na})

    out = vecs.select("vec_id", abtt(F.col("v")).alias("s"))
    return out.select(
        "vec_id",
        F.round(F.col("s.proj"), 6).alias("proj"),
        F.round(F.col("s.norm_before"), 6).alias("norm_before"),
        F.round(F.col("s.norm_after"), 6).alias("norm_after"),
    ).orderBy("vec_id")


def _embedding_debias_abtt_oracle(iters: int = PCA_POWER_ITERS) -> str:
    """DuckDB twin of q_embedding_debias_abtt: shared prefix, raw
    projection fold, then the residual folds ordered by component."""
    return f"""
        {_top_pc_ctes(iters)},
        pc0 AS MATERIALIZED (
          SELECT c.vec_id,
                 list_sum(list(c.cxv * vf.vv ORDER BY c.i)) AS proj
          FROM cx c JOIN v{iters} vf ON c.i = vf.i
          GROUP BY c.vec_id),
        resid AS (
          SELECT c.vec_id, c.i,
                 c.cxv AS cxv,
                 c.cxv - (p.proj * vf.vv) AS r
          FROM cx c
          JOIN v{iters} vf ON c.i = vf.i
          JOIN pc0 p ON p.vec_id = c.vec_id)
        SELECT vec_id,
               round(any_value(proj), 6) AS proj,
               round(sqrt(list_sum(list(cxv * cxv ORDER BY i))), 6)
                 AS norm_before,
               round(sqrt(list_sum(list(r * r ORDER BY i))), 6)
                 AS norm_after
        FROM resid JOIN pc0 USING (vec_id)
        GROUP BY vec_id ORDER BY vec_id
    """


def _top_pc_ctes(iters: int = PCA_POWER_ITERS) -> str:
    """Shared CTE prefix for the power-iteration oracles: decimal-exact
    mean, long-fixed-point covariance (upper triangle + mirror), and
    the power iteration unrolled as (u_k, norm_k, v_k) CTE triples
    whose sums are all sequential list folds -- bit-identical to the
    driver-side cumsum iteration. Ends with the final component
    relation ``v{iters}(i, vv)``; ``cx(vec_id, i, cxv)`` stays in
    scope for consumers. Heavy CTEs are MATERIALIZED: DuckDB inlines
    CTEs by default, and the iteration chain would otherwise re-inline
    the covariance subtree ~2^iters times."""
    parts = [
        """
        WITH comp AS (
          SELECT vec_id, pos,
                 CAST(CAST(x AS VARCHAR) AS DECIMAL(28,18)) AS xdec,
                 CAST(x AS DOUBLE) AS xd
          FROM (SELECT vec_id, unnest(embedding) AS x,
                       generate_subscripts(embedding, 1) AS pos
                FROM embeddings)),
        mean AS (
          SELECT pos, CAST(CAST(sum(xdec) AS VARCHAR) AS DOUBLE)
                        / count(*) AS m,
                 count(*) AS n
          FROM comp GROUP BY pos),
        nn AS (SELECT max(n) AS n FROM mean),
        cx AS MATERIALIZED (
          SELECT c.vec_id, c.pos AS i, c.xd - m.m AS cxv
          FROM comp c JOIN mean m ON c.pos = m.pos),
        covh AS MATERIALIZED (
          SELECT a.i AS i, b.i AS j,
                 CAST(sum(CAST(round(a.cxv * b.cxv
                                     * (1000000000000.0
                                        / (SELECT n FROM nn)))
                               AS BIGINT)) AS DOUBLE)
                   / 1000000000000.0 AS c
          FROM cx a JOIN cx b ON a.vec_id = b.vec_id AND b.i >= a.i
          GROUP BY 1, 2),
        cov AS MATERIALIZED (
          SELECT i, j, c FROM covh
          UNION ALL
          SELECT j AS i, i AS j, c FROM covh WHERE i <> j),
        dims AS (SELECT count(*) AS dim FROM mean),
        v0 AS (SELECT pos AS i, 1.0 / sqrt(dim) AS vv FROM mean, dims)
        """
    ]
    for k in range(iters):
        parts.append(
            f""",
        u{k} AS MATERIALIZED (
          SELECT cov.i, list_sum(list(cov.c * vk.vv ORDER BY cov.j)) AS u
          FROM cov JOIN v{k} vk ON cov.j = vk.i
          GROUP BY cov.i),
        nrm{k} AS (SELECT sqrt(list_sum(list(u * u ORDER BY i))) AS nm
                   FROM u{k}),
        v{k + 1} AS (SELECT i, u / nm AS vv FROM u{k}, nrm{k})
            """
        )
    return "".join(parts)


def _embedding_top_pc_oracle(iters: int = PCA_POWER_ITERS) -> str:
    """Exact DuckDB twin of q_embedding_top_pc: the shared prefix plus
    the per-vector projection fold."""
    return f"""
        {_top_pc_ctes(iters)},
        pc AS (
          SELECT c.vec_id, c.i, c.cxv * vf.vv AS contrib
          FROM cx c JOIN v{iters} vf ON c.i = vf.i)
        SELECT vec_id,
               round(list_sum(list(contrib ORDER BY i)), 6) AS proj
        FROM pc GROUP BY vec_id ORDER BY vec_id
    """


def q_embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization with
    reconstruction-error audit -- the standard 4x storage/bandwidth
    reduction for an embedding corpus (float32 -> int8 + one scale per
    vector). Output per vector: the scale, the exact integer sum of
    the quantized codes (an integrity checksum), the max absolute
    reconstruction error, and the MSE.

    Portable arithmetic by construction: quantize as
    ``floor(x / scale + 0.5)`` (floor is IEEE-exact; round() tie
    semantics differ subtly across engines), scale = max|x| / 127
    (max and divide exact), error sums via the sequential
    left-to-right fold both engines share (the cumsum-portability
    contract). Zero vectors quantize to all-zero codes with scale 0.

    Scale shape: pure map over the scan -- no shuffle, no UDF, no
    state; the one-row-per-vector output is the audit artifact, the
    codes themselves would be written columnar next to the scale."""
    vecs = _vectors(spark, sf_dir)
    amax = F.array_max(F.transform(F.col("v"), lambda x: F.abs(x)))
    with_scale = vecs.select(
        "vec_id", "v", (amax / F.lit(127.0)).alias("scale")
    )
    q = F.when(
        F.col("scale") == 0.0,
        F.transform(F.col("v"), lambda x: F.lit(0).cast("long")),
    ).otherwise(
        F.transform(
            F.col("v"),
            lambda x: F.floor(x / F.col("scale") + F.lit(0.5)).cast("long"),
        )
    )
    quant = with_scale.select("vec_id", "v", "scale", q.alias("q"))
    err = F.zip_with(
        F.col("q"),
        F.col("v"),
        lambda qq, x: F.abs(qq.cast("double") * F.col("scale") - x),
    )
    sq = F.zip_with(
        F.col("q"),
        F.col("v"),
        lambda qq, x: F.pow(qq.cast("double") * F.col("scale") - x, F.lit(2.0)),
    )
    # two projection steps: the final one renames 'scale' to its
    # rounded form, so the error lambdas (which need the UNROUNDED
    # scale) must live in an earlier select -- a same-select alias
    # would shadow the input column for later expressions
    stats = quant.select(
        "vec_id",
        "scale",
        F.aggregate(F.col("q"), F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "q_sum"
        ),
        F.array_max(err).alias("mx"),
        (F.aggregate(sq, F.lit(0.0), lambda a, x: a + x) / F.size("v")).alias(
            "ms"
        ),
    )
    return stats.select(
        "vec_id",
        F.round(F.col("scale"), 6).alias("scale"),
        "q_sum",
        F.round(F.col("mx"), 6).alias("max_abs_err"),
        F.round(F.col("ms"), 6).alias("mse"),
    ).orderBy("vec_id")


_INT8_QUANT_SQL = """
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    s AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      FROM v),
    q AS (
      SELECT vec_id, v, scale,
             CASE WHEN scale = 0
               THEN list_transform(v, x -> CAST(0 AS BIGINT))
               ELSE list_transform(
                      v, x -> CAST(floor(x / scale + 0.5) AS BIGINT))
             END AS q
      FROM s)
    SELECT vec_id,
           round(scale, 6) AS scale,
           CAST(list_sum(q) AS BIGINT) AS q_sum,
           round(list_max(list_transform(
             generate_series(1, len(v)),
             i -> abs(CAST(q[i] AS DOUBLE) * scale - v[i]))), 6)
             AS max_abs_err,
           round(list_sum(list_transform(
             generate_series(1, len(v)),
             i -> pow(CAST(q[i] AS DOUBLE) * scale - v[i], 2.0))) / len(v), 6)
             AS mse
    FROM q ORDER BY vec_id
"""


SIMILARITY_ORACLES: dict[str, str] = {
    "q_embedding_int8_quantize": _INT8_QUANT_SQL,
    "q_hard_negatives": _hard_negatives_oracle(),
    "q_triplet_mining": _triplet_mining_oracle(),
    "q_knn_graph": _knn_graph_oracle(),
    "q_ann_ivf_topk": _ann_ivf_oracle(),
    "q_ann_ivf_kmeans_topk": _ann_ivf_kmeans_oracle(),
    "q_cluster_topics": _cluster_topics_oracle(),
    "q_embedding_top_pc": _embedding_top_pc_oracle(),
    "q_embedding_debias_abtt": _embedding_debias_abtt_oracle(),
    "q_ann_lsh_topk": _ann_lsh_oracle(),
    "q_embedding_label_centroids": """
        WITH comp AS (
          SELECT label, pos,
                 CAST(CAST(x AS VARCHAR) AS DECIMAL(28,18)) AS xdec
          FROM (SELECT label,
                       unnest(embedding) AS x,
                       generate_subscripts(embedding, 1) AS pos
                FROM embeddings)),
        agg AS (
          SELECT label, pos,
                 CAST(CAST(sum(xdec) AS VARCHAR) AS DOUBLE) / count(*) AS m,
                 count(*) AS n
          FROM comp GROUP BY 1, 2)
        SELECT label, CAST(pos - 1 AS BIGINT) AS pos,
               m AS centroid_component, n AS n_vectors
        FROM agg ORDER BY label, pos
    """,
    "q_ann_bruteforce_topk": f"""
        WITH e AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 round({_COS_SQL}, 6) AS cosine
          FROM e q JOIN e c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id),
        ranked AS (
          SELECT query_id, neighbor_id, cosine,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, neighbor_id) AS rank
          FROM scored)
        SELECT query_id, neighbor_id, cosine, rank
        FROM ranked WHERE rank <= {TOP_K}
        ORDER BY query_id, rank
    """,
}

SIMILARITY_QUERIES = {
    "q_ann_bruteforce_topk": q_ann_bruteforce_topk,
    "q_ann_ivf_topk": q_ann_ivf_topk,  # oracle-checked (deterministic stride IVF)
    "q_ann_ivf_kmeans_topk": q_ann_ivf_kmeans_topk,  # oracle-checked (decimal-exact
    # centroid means + bit-portable cumsum sims; iterations unrolled in SQL)
    "q_ann_lsh_topk": q_ann_lsh_topk,  # oracle-checked (bit-portable LSH)
    "q_cluster_topics": q_cluster_topics,  # oracle-checked (kmeans + cluster TF-IDF)
    "q_knn_graph": q_knn_graph,  # oracle-checked (bit-portable LSH, all queries)
    "q_embedding_label_centroids": q_embedding_label_centroids,
    "q_embedding_int8_quantize": q_embedding_int8_quantize,
    "q_embedding_top_pc": q_embedding_top_pc,
    "q_embedding_debias_abtt": q_embedding_debias_abtt,
    "q_hard_negatives": q_hard_negatives,
    "q_triplet_mining": q_triplet_mining,
    "q_ann_recall_audit": q_ann_recall_audit,
}

# composed AFTER the dict exists: the audit oracle embeds the
# brute-force oracle verbatim
SIMILARITY_ORACLES["q_ann_recall_audit"] = _ann_recall_audit_oracle()


# ---- silhouette audit of the k-means clustering ----


def _silhouette_udf(rows: list[tuple[int, list[float]]]):
    """Arrow-batched per-vector (assigned centroid, own-sim,
    best-other-sim): one _seq_sims pass, stable argsort so ties break
    to the smallest centroid id exactly like the SQL
    row_number() OVER (ORDER BY sim DESC, centroid_id)."""
    cids, C, Cn = _centroid_matrix(rows)

    @F.pandas_udf("cid long, s1 double, s2 double")
    def sil(v: pd.Series) -> pd.DataFrame:
        if not len(v):
            return pd.DataFrame({"cid": [], "s1": [], "s2": []})
        sims = _seq_sims(np.stack(v.to_numpy()), C, Cn)
        idx = np.argsort(-sims, axis=1, kind="stable")
        r = np.arange(len(v))
        s1 = sims[r, idx[:, 0]]
        # K = 1 (all clusters collapsed): silhouette is undefined;
        # s2 := s1 makes b == a -> s = 0, the neutral "no structure"
        # convention (the oracle mirrors via coalesce(s2, s1))
        s2 = sims[r, idx[:, 1]] if sims.shape[1] > 1 else s1
        return pd.DataFrame({"cid": cids[idx[:, 0]], "s1": s1, "s2": s2})

    return sil


def q_silhouette_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-based silhouette audit of the k-means clustering: per
    cluster, the mean of s = (b - a) / max(a, b) where a is the cosine
    distance to the OWN centroid and b the distance to the nearest
    OTHER centroid -- the standard "are these clusters real"
    validation (simplified silhouette: centroid distances instead of
    all-pairs member distances, the form that scales, used by
    sklearn's davies-bouldin/simplified-silhouette family). Run it
    before trusting cluster-level decisions (SemDeDup pruning,
    q_cluster_topics labels, IVF cell sizing).

    Exactness: the model is the deterministic kmeans_centroids
    (decimal-exact means); similarities are the bit-portable
    sequential-cumsum fold (_seq_sims == DuckDB list_sum); ties in the
    1st/2nd-nearest choice break to the smallest centroid id in both
    engines; per-vector silhouettes are one fixed-shape double
    expression and the per-cluster mean folds through
    round(.,9)-as-DECIMAL(28,9) -- order-independent, bit-equal.

    Scale shape: 3 Lloyd rounds (kmeans_centroids' contract: vectors
    never leave executors, the driver holds only N_CENTROIDS rows)
    plus ONE Arrow-batched assignment pass and one tiny groupBy over
    centroid ids. No pairwise member distances -- the full silhouette
    is O(n^2) and is exactly what this variant exists to avoid."""
    vecs = _spread_vectors(_vectors(spark, sf_dir))
    centroids = kmeans_centroids(vecs)
    rows = _centroid_rows(centroids)
    if not rows:  # empty corpus: no clusters to validate
        return spark.createDataFrame(
            [], "centroid_id long, n_vecs long, mean_silhouette double"
        )
    scored = vecs.select(
        "vec_id", _silhouette_udf(rows)(F.col("v")).alias("m")
    ).select(
        F.col("m.cid").alias("centroid_id"),
        (F.lit(1.0) - F.col("m.s1")).alias("a"),
        (F.lit(1.0) - F.col("m.s2")).alias("b"),
    )
    # try_divide + coalesce(0): when a == b == 0 exactly (an exact-
    # match vector under a collapsed/duplicate centroid set) the raw
    # division is 0/0, which raises DIVIDE_BY_ZERO under ANSI
    # sessions; 0 is the documented "no structure" convention
    # (_silhouette_udf), mirrored in the oracle via nullif/coalesce
    sil = F.coalesce(
        F.try_divide(F.col("b") - F.col("a"), F.greatest("a", "b")),
        F.lit(0.0),
    )
    return (
        scored.select(
            "centroid_id", F.round(sil, 9).cast("decimal(28,9)").alias("s")
        )
        .groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.round(
                (F.sum("s") / F.count(F.lit(1))).cast("double"), 6
            ).alias("mean_silhouette"),
        )
        .orderBy("centroid_id")
    )


def _silhouette_oracle(iters: int = 3) -> str:
    return f"""
    {_kmeans_ctes(iters)},
    {_centroid_sims_sql(f"c{iters}", "simsf")},
    ranked AS (
      SELECT vec_id, centroid_id, sim,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY sim DESC, centroid_id) AS rn
      FROM simsf),
    pervec AS (
      SELECT vec_id,
             max(CASE WHEN rn = 1 THEN centroid_id END) AS centroid_id,
             max(CASE WHEN rn = 1 THEN sim END) AS s1,
             coalesce(max(CASE WHEN rn = 2 THEN sim END),
                      max(CASE WHEN rn = 1 THEN sim END)) AS s2
      FROM ranked WHERE rn <= 2 GROUP BY vec_id),
    sil AS (
      SELECT centroid_id,
             CAST(round(coalesce(
                    ((1.0 - s2) - (1.0 - s1))
                    / nullif(greatest(1.0 - s1, 1.0 - s2), 0), 0.0), 9)
                  AS DECIMAL(28,9)) AS s
      FROM pervec)
    SELECT centroid_id,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(CAST(sum(s) / count(*) AS DOUBLE), 6) AS mean_silhouette
    FROM sil GROUP BY centroid_id ORDER BY centroid_id
    """


SIMILARITY_QUERIES["q_silhouette_kmeans"] = q_silhouette_kmeans
SIMILARITY_ORACLES["q_silhouette_kmeans"] = _silhouette_oracle()


# ---- Matryoshka truncation recall audit ----

#: Truncation prefixes audited against the full 64-dim search. The MRL
#: (Matryoshka Representation Learning) deployment question: how many
#: leading dimensions can the serving index keep before recall@K
#: degrades -- prefix truncation being the MRL storage/bandwidth lever.
MATRYOSHKA_DIMS = (8, 16, 32)


def _truncated_topk(spark: SparkSession, sf_dir: str, dim: int) -> DataFrame:
    """Exact cosine top-k over the first `dim` embedding components --
    the brute-force pipeline with sliced vectors. Zero-truncation-norm
    vectors score -2.0 (below any cosine), NOT NULL: the engines'
    DESC NULL placement differs (Spark last, DuckDB first), so a NULL
    score would make the rank lists engine-dependent."""
    vecs = _vectors(spark, sf_dir).select(
        "vec_id", F.slice(F.col("v"), 1, dim).alias("v")
    )
    vecs = _with_norm(vecs)
    queries = vecs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("vn").alias("qn"),
    )
    corpus = vecs.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("nv"),
        F.col("vn").alias("nn"),
    )
    scored = corpus.join(
        broadcast(queries), F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id",
        "neighbor_id",
        F.coalesce(
            F.round(
                F.try_divide(
                    _dot(F.col("qv"), F.col("nv")), F.col("qn") * F.col("nn")
                ),
                6,
            ),
            F.lit(-2.0),
        ).alias("cosine"),
    )
    return grouped_topk(
        scored, ["query_id"], [("cosine", False), ("neighbor_id", True)], TOP_K
    )


def q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit: per (prefix dim, query), recall@K
    of exact search over the first `dim` embedding components against
    exact search over the full vector -- the measurement behind the
    MRL serving decision (which prefix length an index can store while
    keeping recall), and the truncation twin of q_ann_recall_audit
    (which audits the LSH index the same way).

    Composition of oracle-checked brute-force passes (full + one per
    prefix), joined on (query, neighbor); left join from the full
    top-K so a truncation that misses everything still reports 0.0.

    Scale shape: each pass is the broadcast-queries + map-side-pruned
    top-k pipeline (cost ~ corpus x |query sample| x dim with only
    ~batches x queries x K rows reaching a shuffle); at 100 TB the
    audit runs on a query SAMPLE by construction, so cost scales with
    the corpus scan, not corpus^2. Prefix passes scan shorter slices,
    so the audit costs LESS than (1 + |dims|) full searches."""
    full = q_ann_bruteforce_topk(spark, sf_dir).select("query_id", "neighbor_id")
    parts = []
    for d in MATRYOSHKA_DIMS:
        t = _truncated_topk(spark, sf_dir, d).select(
            F.col("query_id").alias("tq"), F.col("neighbor_id").alias("tn")
        )
        parts.append(
            full.join(
                t,
                (F.col("query_id") == F.col("tq"))
                & (F.col("neighbor_id") == F.col("tn")),
                "left",
            )
            .groupBy("query_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_true"),
                F.count("tn").cast("long").alias("n_hit"),
            )
            .select(
                F.lit(d).cast("long").alias("dim"),
                "query_id",
                "n_true",
                "n_hit",
                F.round(F.col("n_hit") / F.col("n_true"), 6).alias("recall"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("dim", "query_id")


def _cos_sql_dim(dim: int) -> str:
    """The _COS_SQL cosine over the first `dim` components only, with
    the zero-norm denominator nullified -- the twin of the Spark
    side's try_divide (DuckDB double division by zero yields inf, not
    NULL, so the guard must wrap the norm product itself)."""
    return f"""
 list_sum(list_transform(generate_series(1, {dim}), i -> q.v[i] * c.v[i])) /
 nullif(sqrt(list_sum(list_transform(generate_series(1, {dim}), i -> q.v[i] * q.v[i]))) *
  sqrt(list_sum(list_transform(generate_series(1, {dim}), i -> c.v[i] * c.v[i]))), 0)
"""


def _matryoshka_oracle() -> str:
    per_dim = []
    for d in MATRYOSHKA_DIMS:
        per_dim.append(f"""
        SELECT CAST({d} AS BIGINT) AS dim, bf.query_id,
               CAST(count(*) AS BIGINT) AS n_true,
               CAST(count(t.neighbor_id) AS BIGINT) AS n_hit,
               round(count(t.neighbor_id) * 1.0 / count(*), 6) AS recall
        FROM bf LEFT JOIN (
          SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id)
                     AS rank
            FROM (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     coalesce(round({_cos_sql_dim(d)}, 6), -2.0) AS cosine
              FROM e q JOIN e c
                ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id))
          WHERE rank <= {TOP_K}) t
          ON bf.query_id = t.query_id AND bf.neighbor_id = t.neighbor_id
        GROUP BY bf.query_id""")
    unions = "\n        UNION ALL\n".join(per_dim)
    return f"""
        WITH e AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        bf AS ({SIMILARITY_ORACLES["q_ann_bruteforce_topk"]})
        SELECT * FROM ({unions})
        ORDER BY dim, query_id
    """


SIMILARITY_QUERIES["q_matryoshka_recall"] = q_matryoshka_recall
SIMILARITY_ORACLES["q_matryoshka_recall"] = _matryoshka_oracle()


# ---- embedding centroid drift audit ----


def q_embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift readout between two corpus snapshots
    (vec_id parity stands in for the before/after split an embedding
    refresh produces): per-dim decimal-exact centroids of each half,
    then ONE summary row -- centroid cosine, L2 shift, and the argmax
    drift dimension with its delta. The model-monitoring twin of
    q_psi_value_drift for vector columns: retrain/re-embed pipelines
    gate on exactly this number before swapping an index.

    Exactness: per-dim means use the label-centroids contract (float
    -> shortest-string -> DECIMAL(28,18) sums, one double division);
    the cross-dim reductions (dot, norms, L2) fold round-9 decimal
    terms of those bit-equal doubles, so the sums are order-free;
    cosine/L2 are fixed-shape doubles at the end. The argmax dim rides
    max(struct(|delta|, pos)) -- lexicographic, identical both
    engines.

    Scale shape: ONE shuffle keyed pos with conditional partial sums
    (both halves in the same pass -- no second scan), then a dim-sized
    (64-row) reduction to one row. At 100 TB: map-side partial sums of
    dim scalars per task, a 64-row exchange, nothing else."""
    emb = load_table(spark, sf_dir, "embeddings")
    xdec = F.col("x").cast("string").cast("decimal(28,18)")
    is_a = F.col("vec_id") % 2 == 0
    per = (
        emb.select("vec_id", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("pos")
        .agg(
            F.sum(F.when(is_a, xdec)).alias("sa"),
            F.sum(F.when(~is_a, xdec)).alias("sb"),
            F.sum(F.when(is_a, 1).otherwise(0)).cast("long").alias("na"),
            F.sum(F.when(~is_a, 1).otherwise(0)).cast("long").alias("nb"),
        )
        .select(
            "pos",
            (F.col("sa").cast("string").cast("double") / F.col("na")).alias("ma"),
            (F.col("sb").cast("string").cast("double") / F.col("nb")).alias("mb"),
            "na",
            "nb",
        )
    )
    terms = per.select(
        "pos",
        "na",
        "nb",
        F.round(F.col("ma") * F.col("mb"), 9).cast("decimal(28,9)").alias("tab"),
        F.round(F.col("ma") * F.col("ma"), 9).cast("decimal(28,9)").alias("taa"),
        F.round(F.col("mb") * F.col("mb"), 9).cast("decimal(28,9)").alias("tbb"),
        F.round(
            (F.col("ma") - F.col("mb")) * (F.col("ma") - F.col("mb")), 9
        )
        .cast("decimal(28,9)")
        .alias("tdd"),
        F.abs(F.col("ma") - F.col("mb")).alias("absd"),
    )
    agg = terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_dims"),
        F.max("na").cast("long").alias("n_vectors_a"),
        F.max("nb").cast("long").alias("n_vectors_b"),
        F.sum("tab").cast("decimal(38,9)").alias("sab"),
        F.sum("taa").cast("decimal(38,9)").alias("saa"),
        F.sum("tbb").cast("decimal(38,9)").alias("sbb"),
        F.sum("tdd").cast("decimal(38,9)").alias("sdd"),
        F.max(F.struct(F.col("absd"), F.col("pos"))).alias("top"),
    )
    return agg.select(
        "n_dims",
        "n_vectors_a",
        "n_vectors_b",
        F.round(
            F.try_divide(
                F.col("sab").cast("double"),
                F.sqrt(
                    F.col("saa").cast("double") * F.col("sbb").cast("double")
                ),
            ),
            6,
        ).alias("centroid_cosine"),
        F.round(F.sqrt(F.col("sdd").cast("double")), 6).alias("l2_shift"),
        F.col("top.pos").cast("long").alias("top_drift_dim"),
        F.round(F.col("top.absd"), 6).alias("top_drift_abs_delta"),
    )


SIMILARITY_QUERIES["q_embedding_centroid_drift"] = q_embedding_centroid_drift
SIMILARITY_ORACLES["q_embedding_centroid_drift"] = """
    WITH comp AS (
      SELECT vec_id, pos,
             CAST(CAST(x AS VARCHAR) AS DECIMAL(28,18)) AS xdec
      FROM (SELECT vec_id,
                   unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) - 1 AS pos
            FROM embeddings)),
    per AS (
      SELECT pos,
             CAST(CAST(sum(CASE WHEN vec_id % 2 = 0 THEN xdec END)
                       AS VARCHAR) AS DOUBLE)
               / sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS ma,
             CAST(CAST(sum(CASE WHEN vec_id % 2 <> 0 THEN xdec END)
                       AS VARCHAR) AS DOUBLE)
               / sum(CASE WHEN vec_id % 2 <> 0 THEN 1 ELSE 0 END) AS mb,
             CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS na,
             CAST(sum(CASE WHEN vec_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS nb
      FROM comp GROUP BY pos),
    terms AS (
      SELECT pos, na, nb,
             CAST(round(ma * mb, 9) AS DECIMAL(28,9)) AS tab,
             CAST(round(ma * ma, 9) AS DECIMAL(28,9)) AS taa,
             CAST(round(mb * mb, 9) AS DECIMAL(28,9)) AS tbb,
             CAST(round((ma - mb) * (ma - mb), 9) AS DECIMAL(28,9)) AS tdd,
             abs(ma - mb) AS absd
      FROM per),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_dims,
             CAST(max(na) AS BIGINT) AS n_vectors_a,
             CAST(max(nb) AS BIGINT) AS n_vectors_b,
             CAST(sum(tab) AS DECIMAL(38,9)) AS sab,
             CAST(sum(taa) AS DECIMAL(38,9)) AS saa,
             CAST(sum(tbb) AS DECIMAL(38,9)) AS sbb,
             CAST(sum(tdd) AS DECIMAL(38,9)) AS sdd,
             max(struct_pack(absd := absd, pos := pos)) AS top
      FROM terms)
    SELECT n_dims, n_vectors_a, n_vectors_b,
           round(CAST(sab AS DOUBLE)
                 / nullif(sqrt(CAST(saa AS DOUBLE) * CAST(sbb AS DOUBLE)), 0),
                 6) AS centroid_cosine,
           round(sqrt(CAST(sdd AS DOUBLE)), 6) AS l2_shift,
           CAST(top.pos AS BIGINT) AS top_drift_dim,
           round(top.absd, 6) AS top_drift_abs_delta
    FROM agg
"""


# ---- exact kNN classification audit ----

KNN_CLASSIFY_K = 5


def q_knn_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN label prediction audit: for each query vector
    (vec_id < N_QUERIES), the majority label of its KNN_CLASSIFY_K
    exact-cosine nearest labeled neighbors (self excluded), next to
    the query's own label -- the standard embedding-quality probe
    ("does the labeled neighborhood agree with the vector's label?")
    that sits on top of any retrieval index. Deterministic end to end:
    neighbor ranking ties break by neighbor_id, vote ties by (votes
    DESC, label ASC).

    Plan: the brute-force top-k pipeline (broadcast queries, hoisted
    norms, grouped top-k) -- the exact-audit form, like
    q_ann_bruteforce_topk; at production scale the same vote runs on
    any of the ANN candidate generators (IVF probes / LSH bands / PQ
    re-rank) by swapping the neighbor source, which is why the vote is
    factored over a (query_id, neighbor_id, rank) frame rather than
    fused into the scan. Per-query state is k rows; the vote aggregate
    is |queries| x |labels| sized."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("long").alias("label")
    )
    topk = q_ann_bruteforce_topk(spark, sf_dir).filter(
        F.col("rank") <= KNN_CLASSIFY_K
    )
    votes = (
        topk.join(
            emb.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("n_label"),
            ),
            "neighbor_id",
        )
        .groupBy("query_id", "n_label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_votes"))
    )
    from .topk import grouped_topk

    winner = grouped_topk(
        votes, ["query_id"], [("n_votes", False), ("n_label", True)], 1
    ).select(
        "query_id",
        F.col("n_label").alias("predicted_label"),
        "n_votes",
    )
    return (
        winner.join(
            F.broadcast(
                emb.select(
                    F.col("vec_id").alias("query_id"),
                    F.col("label").alias("true_label"),
                )
            ),
            "query_id",
        )
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            "true_label",
            "predicted_label",
            "n_votes",
            (F.col("predicted_label") == F.col("true_label"))
            .cast("long")
            .alias("correct"),
        )
        .orderBy("query_id")
    )


SIMILARITY_QUERIES["q_knn_classifier"] = q_knn_classifier
SIMILARITY_ORACLES["q_knn_classifier"] = f"""
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                      label
               FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             c.label AS n_label, round({_COS_SQL}, 6) AS cosine
      FROM e q JOIN e c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}),
    ranked AS (
      SELECT query_id, n_label,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored),
    votes AS (
      SELECT query_id, n_label, count(*) AS n_votes
      FROM ranked WHERE rank <= {KNN_CLASSIFY_K}
      GROUP BY 1, 2),
    winner AS (
      SELECT query_id, n_label AS predicted_label, n_votes FROM (
        SELECT query_id, n_label, n_votes,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY n_votes DESC, n_label) AS rn
        FROM votes) WHERE rn = 1)
    SELECT CAST(w.query_id AS BIGINT) AS query_id,
           CAST(e.label AS BIGINT) AS true_label,
           CAST(w.predicted_label AS BIGINT) AS predicted_label,
           CAST(w.n_votes AS BIGINT) AS n_votes,
           CAST(CASE WHEN w.predicted_label = e.label THEN 1 ELSE 0 END
                AS BIGINT) AS correct
    FROM winner w JOIN e ON e.vec_id = w.query_id
    ORDER BY query_id
"""


# ---- Embedding norm distribution per label (round 8) ----


def q_embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm distribution of the embedding corpus: count,
    min, max, and mean vector norm -- the five-minute sanity audit an
    embedding shipment gets before any similarity work (un-normalized
    vectors silently break cosine-vs-dot assumptions; a label whose
    norms collapse toward 0 signals dead encoder outputs; norm drift
    between labels is the first symptom of a mixed-encoder corpus).

    Determinism: the norm is sqrt of the SEQUENTIAL left-to-right sum
    of squares (the _dot contract shared with every similarity
    operator and its list_sum oracle twin -- identical fold order in
    both engines, so the doubles are bit-equal); min/max compare those
    bit-equal doubles; the mean folds each norm through
    round(.,9)-as-DECIMAL(28,9) so the cross-row sum is
    order-independent. One scan-map + one tiny groupBy(label)."""
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "label",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    normed = vecs.select(
        "label", F.sqrt(_dot(F.col("v"), F.col("v"))).alias("norm")
    )
    return (
        normed.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.round(F.min("norm"), 6).alias("norm_min"),
            F.round(F.max("norm"), 6).alias("norm_max"),
            F.round(
                F.sum(F.round(F.col("norm"), 9).cast("decimal(28,9)"))
                .cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("norm_mean"),
        )
        .orderBy("label")
    )


SIMILARITY_QUERIES["q_embedding_norm_stats"] = q_embedding_norm_stats
SIMILARITY_ORACLES["q_embedding_norm_stats"] = """
    WITH normed AS (
      SELECT label,
             sqrt(list_sum(list_transform(
               list_transform(embedding, x -> CAST(x AS DOUBLE)),
               x -> x * x))) AS norm
      FROM embeddings)
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           round(min(norm), 6) AS norm_min,
           round(max(norm), 6) AS norm_max,
           round(CAST(sum(CAST(round(norm, 9) AS DECIMAL(28,9))) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 6) AS norm_mean
    FROM normed GROUP BY label ORDER BY label
"""


# ---- IVF bucket occupancy audit (round 8) ----


def q_ivf_bucket_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-occupancy audit of the stride-IVF index: per centroid,
    how many vectors its bucket holds and that bucket's share of the
    corpus -- the skew diagnostic that prices probe imbalance BEFORE a
    query hits it (SCALE.md round-8 IVF skew ladder: Zipf-clustered
    corpora triple the max bucket share; probe cost is linear in
    occupancy, so the knob is finer centroids / bucket splitting above
    an occupancy bound, and this query is the monitor that knob reads).
    Same assignment mechanics as q_ann_ivf_topk, so the shares are
    exactly the buckets that query probes.

    Determinism: assignment is the bit-portable sequential-cumsum
    cosine with first-max/smallest-id tie-break (the _ann_ivf_oracle
    contract); counts are exact integers, one division per row.

    Scale shape: one Arrow-batched assignment map over the corpus scan
    + one tiny groupBy(centroid_id); output is N_CENTROIDS-sized."""
    vecs = _vectors(spark, sf_dir)
    rows = _centroid_rows(_stride_centroids(vecs))
    if not rows:  # empty corpus
        rows = [(0, [0.0])]
    assigned = vecs.select(
        _nearest_centroid_udf(rows)(F.col("v")).alias("centroid_id")
    )
    occ = assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors")
    )
    total = vecs.count()
    return occ.select(
        F.col("centroid_id").cast("long").alias("centroid_id"),
        "n_vectors",
        F.round(
            F.col("n_vectors").cast("double") / F.lit(float(total)), 6
        ).alias("bucket_share"),
    ).orderBy("centroid_id")


SIMILARITY_QUERIES["q_ivf_bucket_occupancy"] = q_ivf_bucket_occupancy
SIMILARITY_ORACLES["q_ivf_bucket_occupancy"] = f"""
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    stride AS (SELECT greatest(1, count(*) // {N_CENTROIDS}) AS s FROM e),
    cent AS (
      SELECT vec_id AS centroid_id, v AS cv
      FROM e, stride WHERE vec_id % stride.s = 0),
    {_centroid_sims_sql("cent", "sims")},
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT vec_id, centroid_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, centroid_id) AS rn
        FROM sims) WHERE rn = 1),
    occ AS (
      SELECT centroid_id, CAST(count(*) AS BIGINT) AS n_vectors
      FROM assign GROUP BY 1)
    SELECT CAST(centroid_id AS BIGINT) AS centroid_id, n_vectors,
           round(CAST(n_vectors AS DOUBLE)
                 / (SELECT count(*) FROM e), 6) AS bucket_share
    FROM occ ORDER BY centroid_id
"""


# ---- Label-centroid confusability matrix (round 8) ----


def q_label_confusability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine between LABEL CENTROIDS -- the class-geometry
    audit on top of q_embedding_label_centroids: two labels whose
    centroids sit at cosine ~1 are unseparable for any
    centroid-routed system (IVF-per-class, nearest-class-mean
    classification, class-balanced sampling by centroid distance),
    and rising pairwise confusability over corpus versions is the
    standard symptom of label noise or encoder drift.

    Determinism: centroids come from the q_embedding_label_centroids
    contract (float32 shortest-repr string -> DECIMAL(28,18) exact
    sums, decimal->string->double means); the pairwise dot and the
    per-label norms fold each product through
    round(.,9)-as-DECIMAL(28,9), so every cross-row sum is
    order-independent; cosine is one fixed-shape double expression.

    Scale shape: the corpus is touched once (the centroid shuffle of
    q_embedding_label_centroids); everything pairwise runs on the
    (labels x dim) frame and the labels x labels output."""
    emb = load_table(spark, sf_dir, "embeddings")
    per_comp = (
        emb.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(
            F.sum(F.col("x").cast("string").cast("decimal(28,18)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "label",
            "pos",
            (F.col("s").cast("string").cast("double") / F.col("n")).alias("m"),
            "n",
        )
    )
    norms = per_comp.groupBy("label").agg(
        F.max("n").cast("long").alias("n_vectors"),
        F.sum(
            F.round(F.col("m") * F.col("m"), 9).cast("decimal(28,9)")
        ).alias("nn"),
    )
    a = per_comp.select(
        F.col("label").alias("label_a"), "pos", F.col("m").alias("ma")
    )
    b = per_comp.select(
        F.col("label").alias("label_b"), "pos", F.col("m").alias("mb")
    )
    dots = (
        a.join(b, "pos")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(
                F.round(F.col("ma") * F.col("mb"), 9).cast("decimal(28,9)")
            ).alias("dot")
        )
    )
    na = norms.select(
        F.col("label").alias("label_a"),
        F.col("n_vectors").alias("n_a"),
        F.col("nn").alias("nna"),
    )
    nb = norms.select(
        F.col("label").alias("label_b"),
        F.col("n_vectors").alias("n_b"),
        F.col("nn").alias("nnb"),
    )
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            F.col("label_a").cast("long").alias("label_a"),
            F.col("label_b").cast("long").alias("label_b"),
            "n_a",
            "n_b",
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("nna").cast("double"))
                    * F.sqrt(F.col("nnb").cast("double"))
                ),
                6,
            ).alias("centroid_cosine"),
        )
        .orderBy("label_a", "label_b")
    )


SIMILARITY_QUERIES["q_label_confusability"] = q_label_confusability
SIMILARITY_ORACLES["q_label_confusability"] = """
    WITH comp AS (
      SELECT label,
             CAST(CAST(x AS VARCHAR) AS DECIMAL(28,18)) AS xdec,
             pos
      FROM (SELECT label,
                   unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS pos
            FROM embeddings)),
    per_comp AS (
      SELECT label, pos,
             CAST(CAST(sum(xdec) AS VARCHAR) AS DOUBLE) / count(*) AS m,
             count(*) AS n
      FROM comp GROUP BY 1, 2),
    norms AS (
      SELECT label,
             CAST(max(n) AS BIGINT) AS n_vectors,
             sum(CAST(round(m * m, 9) AS DECIMAL(28,9))) AS nn
      FROM per_comp GROUP BY 1),
    dots AS (
      SELECT a.label AS label_a, b.label AS label_b,
             sum(CAST(round(a.m * b.m, 9) AS DECIMAL(28,9))) AS dot
      FROM per_comp a JOIN per_comp b
        ON a.pos = b.pos AND a.label < b.label
      GROUP BY 1, 2)
    SELECT CAST(label_a AS BIGINT) AS label_a,
           CAST(label_b AS BIGINT) AS label_b,
           na.n_vectors AS n_a, nb.n_vectors AS n_b,
           round(CAST(dot AS DOUBLE)
                 / (sqrt(CAST(na.nn AS DOUBLE))
                    * sqrt(CAST(nb.nn AS DOUBLE))), 6) AS centroid_cosine
    FROM dots
    JOIN norms na ON na.label = dots.label_a
    JOIN norms nb ON nb.label = dots.label_b
    ORDER BY label_a, label_b
"""


# ---- MMR diversified re-ranking (round 8) ----

#: MMR geometry: candidate pool per query, final diversified size,
#: relevance/diversity mix.
MMR_POOL = 10
MMR_K = 5
MMR_LAMBDA = 0.7


def q_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance re-ranking of the exact top-MMR_POOL
    retrieval pool: greedily pick MMR_K results maximizing

        lambda * rel(d) - (1 - lambda) * max_{s in selected} sim(d, s)

    -- the standard diversity-aware second stage of a RAG / retrieval
    pipeline (near-duplicate hits burn context slots; MMR keeps the
    pool's coverage). Greedy selection is inherently sequential in K,
    so the K rounds are UNROLLED over the (queries x pool)-sized frame
    -- each round is one join + one window argmax over metadata-sized
    relations, never the corpus (the corpus is touched once by the
    exact pool scan; at production scale the pool comes from any ANN
    generator instead, same contract as q_knn_classifier's vote).

    Determinism: relevance and pairwise sims are round(.,6) cosines
    (the corpus-wide contract), but the MMR combination is EXACT
    INTEGER arithmetic in 1e-7 units -- score7 = 7 * rel6 - 3 * max6
    over the 1e6-scaled 6-dp integers (MMR_LAMBDA = 7/10). Rounding
    the double combination instead is a measured cross-engine trap:
    rel * 0.7 of a 6-dp value lands EXACTLY on a 7th-decimal half
    whenever rel's last digit is odd (e.g. 0.371485 * 0.7 =
    0.2600395), and Spark's BigDecimal HALF_UP vs DuckDB's rounding
    disagree on which side the binary expansion falls (observed:
    0.26004 vs 0.260039). Integer scores have no boundary. Each
    round's argmax breaks exact-tie scores by neighbor_id ascending;
    round 1 is the pure-relevance argmax. The DuckDB oracle unrolls
    the identical K rounds as CTE pairs, so selection reproduces
    bit-for-bit; the reported mmr_score is score7 / 1e7 (one exact
    small-integer division, identically rounded in both engines)."""
    assert abs(MMR_LAMBDA * 10 - round(MMR_LAMBDA * 10)) < 1e-12, (
        "integer MMR scoring assumes a single-decimal lambda"
    )
    vecs = _with_norm(_vectors(spark, sf_dir))
    queries = vecs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("vn").alias("qn"),
    )
    corpus = vecs.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("nv"),
        F.col("vn").alias("nn"),
    )
    scored = corpus.join(
        broadcast(queries), F.col("neighbor_id") != F.col("query_id")
    ).select(
        "query_id",
        "neighbor_id",
        F.round(
            _dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn")), 6
        ).alias("rel"),
    )
    pool = grouped_topk(
        scored, ["query_id"], [("rel", False), ("neighbor_id", True)], MMR_POOL
    ).select("query_id", "neighbor_id", "rel")
    # pairwise sims INSIDE each query's pool: (queries x pool^2)-sized
    pv = pool.join(
        corpus.select("neighbor_id", "nv", "nn"), "neighbor_id"
    ).select("query_id", "neighbor_id", "rel", "nv", "nn")
    p1 = pv.select(
        "query_id",
        F.col("neighbor_id").alias("d1"),
        F.col("nv").alias("v1"),
        F.col("nn").alias("n1"),
    )
    p2 = pv.select(
        "query_id",
        F.col("neighbor_id").alias("d2"),
        F.col("nv").alias("v2"),
        F.col("nn").alias("n2"),
    )
    pair_sims = (
        p1.join(p2, "query_id")
        .filter(F.col("d1") != F.col("d2"))
        .select(
            "query_id",
            "d1",
            "d2",
            F.round(
                _dot(F.col("v1"), F.col("v2")) / (F.col("n1") * F.col("n2")),
                6,
            ).alias("sim"),
        )
    )
    # 1e6-scaled integer similarities: rel/sim are 6-dp rounds, so
    # x * 1e6 is an integer up to one ulp -- round(., 0) recovers it
    # exactly in both engines (no half-boundary: the target IS the
    # integer)
    pool = pool.select(
        "query_id",
        "neighbor_id",
        "rel",
        F.round(F.col("rel") * 1e6, 0).cast("long").alias("rel6"),
    ).transform(cut_lineage)
    pair_sims = pair_sims.select(
        "query_id",
        "d1",
        "d2",
        F.round(F.col("sim") * 1e6, 0).cast("long").alias("sim6"),
    ).transform(cut_lineage)

    lam_num = int(round(MMR_LAMBDA * 10))  # 7
    lam_rem = 10 - lam_num  # 3
    w = Window.partitionBy("query_id").orderBy(
        F.col("score7").desc(), F.col("neighbor_id")
    )
    # round 1: pure relevance argmax (score7 in 1e-7 units)
    selected = (
        pool.withColumn("score7", F.col("rel6") * lam_num)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            "neighbor_id",
            "rel",
            "score7",
            F.lit(1).cast("long").alias("rank"),
        )
    )
    for t in range(2, MMR_K + 1):
        sel_ids = selected.select(
            "query_id", F.col("neighbor_id").alias("sel_id")
        )
        remaining = pool.join(
            sel_ids.select(
                "query_id", F.col("sel_id").alias("neighbor_id")
            ),
            ["query_id", "neighbor_id"],
            "left_anti",
        )
        maxsim = (
            pair_sims.join(
                sel_ids,
                (pair_sims["query_id"] == sel_ids["query_id"])
                & (pair_sims["d2"] == sel_ids["sel_id"]),
            )
            .select(pair_sims["query_id"], "d1", "sim6")
            .groupBy("query_id", "d1")
            .agg(F.max("sim6").alias("max6"))
        )
        nxt = (
            remaining.join(
                maxsim,
                (remaining["query_id"] == maxsim["query_id"])
                & (remaining["neighbor_id"] == maxsim["d1"]),
            )
            .select(
                remaining["query_id"],
                "neighbor_id",
                "rel",
                (
                    F.col("rel6") * lam_num - F.col("max6") * lam_rem
                ).alias("score7"),
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "query_id",
                "neighbor_id",
                "rel",
                "score7",
                F.lit(t).cast("long").alias("rank"),
            )
        )
        selected = selected.unionByName(nxt).transform(cut_lineage)
    return selected.select(
        "query_id",
        "rank",
        "neighbor_id",
        "rel",
        (F.col("score7").cast("double") / F.lit(1e7)).alias("mmr_score"),
    ).orderBy("query_id", "rank")


def _mmr_oracle() -> str:
    """Unrolled-greedy DuckDB twin of q_mmr_diversified_topk (same
    integer 1e-7-unit scoring -- see the operator docstring for the
    half-boundary trap that rules out double round here)."""
    lam_num = int(round(MMR_LAMBDA * 10))
    lam_rem = 10 - lam_num
    rounds = [
        f"""
    sel1 AS (
      SELECT query_id, neighbor_id, rel,
             rel6 * {lam_num} AS score7, CAST(1 AS BIGINT) AS rank
      FROM (SELECT query_id, neighbor_id, rel, rel6,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY rel6 * {lam_num} DESC,
                                               neighbor_id) AS rn
            FROM pool) WHERE rn = 1),
    acc1 AS (SELECT * FROM sel1)"""
    ]
    for t in range(2, MMR_K + 1):
        rounds.append(f"""
    cand{t} AS (
      SELECT p.query_id, p.neighbor_id, p.rel,
             p.rel6 * {lam_num} - {lam_rem} * (
               SELECT max(ps.sim6) FROM pair_sims ps
               JOIN acc{t - 1} s ON s.query_id = ps.query_id
                                AND s.neighbor_id = ps.d2
               WHERE ps.query_id = p.query_id
                 AND ps.d1 = p.neighbor_id) AS score7
      FROM pool p
      WHERE NOT EXISTS (SELECT 1 FROM acc{t - 1} s
                        WHERE s.query_id = p.query_id
                          AND s.neighbor_id = p.neighbor_id)),
    sel{t} AS (
      SELECT query_id, neighbor_id, rel, score7,
             CAST({t} AS BIGINT) AS rank
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY score7 DESC,
                                                  neighbor_id) AS rn
            FROM cand{t}) WHERE rn = 1),
    acc{t} AS (SELECT * FROM acc{t - 1} UNION ALL SELECT * FROM sel{t})""")
    return f"""
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round({_COS_SQL}, 6) AS rel
      FROM e q JOIN e c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id),
    pool AS (
      SELECT query_id, neighbor_id, rel,
             CAST(round(rel * 1e6, 0) AS BIGINT) AS rel6
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY rel DESC, neighbor_id)
                        AS rn
            FROM scored) WHERE rn <= {MMR_POOL}),
    pair_sims AS (
      SELECT a.query_id, a.neighbor_id AS d1, b.neighbor_id AS d2,
             CAST(round(round(
               list_sum(list_transform(generate_series(1, len(q.v)),
                                       i -> q.v[i] * c.v[i])) /
               (sqrt(list_sum(list_transform(generate_series(1, len(q.v)),
                                             i -> q.v[i] * q.v[i]))) *
                sqrt(list_sum(list_transform(generate_series(1, len(c.v)),
                                             i -> c.v[i] * c.v[i])))), 6)
               * 1e6, 0) AS BIGINT) AS sim6
      FROM pool a JOIN pool b
        ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id
      JOIN e q ON q.vec_id = a.neighbor_id
      JOIN e c ON c.vec_id = b.neighbor_id),
    {",".join(rounds)}
    SELECT query_id, rank, neighbor_id, rel,
           CAST(score7 AS DOUBLE) / 1e7 AS mmr_score
    FROM acc{MMR_K}
    ORDER BY query_id, rank
    """


SIMILARITY_QUERIES["q_mmr_diversified_topk"] = q_mmr_diversified_topk
SIMILARITY_ORACLES["q_mmr_diversified_topk"] = _mmr_oracle()


# ---- Embedding anisotropy audit (round 8) ----

#: Histogram geometry for the pair-cosine distribution: 20 bins over
#: [-1, 1].
ANISO_BINS = 20


def q_embedding_anisotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anisotropy audit of the embedding space: the distribution (20-
    bin histogram + mean) of cosine similarity over a deterministic
    1-factor pairing of the corpus -- rank r paired with rank r + n/2
    in vec_id order, so every vector appears in at most one pair and
    the sample is n/2 INDEPENDENT pairs with no quadratic work. Mean
    random-pair cosine far above 0 is the classic anisotropy symptom
    (embeddings collapsed into a narrow cone -- the condition ABTT/
    whitening corrects, see q_embedding_debias_abtt); the histogram
    shape separates a tight cone from multi-cluster structure.

    Exactness: the pairing is exact-rank; cosines are the round(.,6)
    sequential-fold contract; the mean folds through
    round(.,9)-as-DECIMAL(28,9); bin edges are exact tenths
    (bin = floor((cos+1)*10) clamped) so bin membership is
    deterministic on the shared rounded doubles.

    Scale shape: one rank window, one self-join on the shifted rank
    (n/2 rows), one 20-row aggregate. No corpus x corpus anything."""
    vecs = _with_norm(_vectors(spark, sf_dir))
    w = Window.orderBy("vec_id")
    ranked = vecs.select(
        "v", "vn", F.row_number().over(w).cast("long").alias("r")
    )
    n = vecs.count()
    m = max(n // 2, 1)
    a = ranked.select(
        F.col("r").alias("ra"), F.col("v").alias("va"), F.col("vn").alias("na")
    )
    b = ranked.select(
        (F.col("r") - m).alias("ra"),
        F.col("v").alias("vb"),
        F.col("vn").alias("nb"),
    )
    cos = F.round(
        _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
    )
    pairs = a.join(b, "ra").select(cos.alias("cos"))
    binned = pairs.select(
        F.least(
            F.floor((F.col("cos") + 1.0) * 10).cast("long"),
            F.lit(ANISO_BINS - 1),
        ).alias("bin"),
        F.round(F.col("cos"), 9).cast("decimal(28,9)").alias("c9"),
    )
    hist = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    stats = binned.agg(
        F.sum("c9").alias("s"), F.count(F.lit(1)).alias("cnt")
    )
    mean = F.round(
        F.col("s").cast("double") / F.col("cnt").cast("double"), 6
    )
    return (
        hist.crossJoin(F.broadcast(stats.select(mean.alias("mean_cosine"))))
        .select(
            "bin",
            F.round(F.col("bin") / 10.0 - 1.0, 1).alias("bin_lo"),
            "n_pairs",
            "mean_cosine",
        )
        .orderBy("bin")
    )


SIMILARITY_QUERIES["q_embedding_anisotropy"] = q_embedding_anisotropy
SIMILARITY_ORACLES["q_embedding_anisotropy"] = f"""
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    ranked AS (
      SELECT v, CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) AS r
      FROM e),
    m AS (SELECT greatest(count(*) // 2, 1) AS m FROM e),
    pairs AS (
      SELECT round(
        list_sum(list_transform(generate_series(1, len(a.v)),
                                i -> a.v[i] * b.v[i])) /
        (sqrt(list_sum(list_transform(generate_series(1, len(a.v)),
                                      i -> a.v[i] * a.v[i]))) *
         sqrt(list_sum(list_transform(generate_series(1, len(b.v)),
                                      i -> b.v[i] * b.v[i])))), 6) AS cos
      FROM ranked a JOIN m ON true
      JOIN ranked b ON b.r = a.r + m.m),
    binned AS (
      SELECT least(CAST(floor((cos + 1.0) * 10) AS BIGINT),
                   {ANISO_BINS - 1}) AS bin,
             CAST(round(cos, 9) AS DECIMAL(28,9)) AS c9
      FROM pairs),
    hist AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_pairs
             FROM binned GROUP BY 1),
    stats AS (SELECT round(CAST(sum(c9) AS DOUBLE) / count(*), 6)
                AS mean_cosine
              FROM binned)
    SELECT bin, round(bin / 10.0 - 1.0, 1) AS bin_lo, n_pairs, mean_cosine
    FROM hist CROSS JOIN stats ORDER BY bin
"""


# ---- Retrieval MAP@k over the IVF index (round 8) ----


def q_retrieval_map_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-relevance retrieval evaluation of the IVF index:
    precision@k and average-precision@k per query, with relevance =
    "neighbor shares the query's label" -- the standard labeled-corpus
    retrieval metric (MAP) that complements q_ann_recall_audit's
    rank-agreement view: recall says the ANN index reproduces brute
    force, MAP says the EMBEDDING GEOMETRY itself retrieves the right
    class. AP@k normalizes by min(R, k) with R = the query's corpus
    class size minus itself, so a query whose class has fewer than k
    members is not penalized for the impossible.

    Exactness: relevance, hit prefix-counts, and R are exact integers
    (one window over the k-row result set; one broadcast class-size
    join); P@k and AP@k are exact rationals, round(6).

    Scale shape: everything downstream of the (already-registered)
    IVF search runs on queries x k rows."""
    ivf = q_ann_ivf_topk(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("long").alias("label")
    )
    qlab = emb.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel")
    )
    nlab = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nlabel")
    )
    class_sizes = emb.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("class_n")
    )
    labeled = (
        ivf.join(F.broadcast(qlab), "query_id")
        .join(F.broadcast(nlab), "neighbor_id")
        .select(
            "query_id",
            "qlabel",
            "rank",
            F.when(F.col("nlabel") == F.col("qlabel"), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("rel"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("rank").rowsBetween(
        Window.unboundedPreceding, 0
    )
    per_pos = labeled.select(
        "query_id",
        "qlabel",
        "rank",
        "rel",
        F.sum("rel").over(w).cast("long").alias("hits"),
    )
    agg = per_pos.groupBy("query_id", "qlabel").agg(
        F.max("rank").cast("long").alias("k"),
        F.sum("rel").cast("long").alias("n_rel"),
        F.sum(
            F.when(
                F.col("rel") == 1,
                F.round(
                    F.col("hits").cast("double") / F.col("rank").cast("double"),
                    9,
                ).cast("decimal(28,9)"),
            ).otherwise(F.lit(0).cast("decimal(28,9)"))
        ).alias("ap_num"),
    )
    joined = agg.join(
        F.broadcast(class_sizes.select(F.col("label").alias("qlabel"), "class_n")),
        "qlabel",
    )
    denom = F.least(F.col("class_n") - 1, F.col("k"))
    return joined.select(
        "query_id",
        F.col("qlabel").alias("label"),
        "n_rel",
        F.round(
            F.col("n_rel").cast("double") / F.col("k").cast("double"), 6
        ).alias("p_at_k"),
        F.round(
            F.col("ap_num").cast("double")
            / F.greatest(denom, F.lit(1)).cast("double"),
            6,
        ).alias("ap_at_k"),
    ).orderBy("query_id")


SIMILARITY_QUERIES["q_retrieval_map_at_k"] = q_retrieval_map_at_k
SIMILARITY_ORACLES["q_retrieval_map_at_k"] = f"""
    WITH ivf AS ({_ann_ivf_oracle()}),
    lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
    class_sizes AS (
      SELECT label, CAST(count(*) AS BIGINT) AS class_n
      FROM lab GROUP BY 1),
    labeled AS (
      SELECT ivf.query_id, ql.label AS qlabel, ivf.rank,
             CAST(CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END AS BIGINT)
               AS rel
      FROM ivf
      JOIN lab ql ON ql.vec_id = ivf.query_id
      JOIN lab nl ON nl.vec_id = ivf.neighbor_id),
    per_pos AS (
      SELECT query_id, qlabel, rank, rel,
             CAST(sum(rel) OVER (PARTITION BY query_id ORDER BY rank)
                  AS BIGINT) AS hits
      FROM labeled),
    agg AS (
      SELECT query_id, qlabel,
             CAST(max(rank) AS BIGINT) AS k,
             CAST(sum(rel) AS BIGINT) AS n_rel,
             sum(CASE WHEN rel = 1
                 THEN CAST(round(CAST(hits AS DOUBLE)
                                 / CAST(rank AS DOUBLE), 9)
                           AS DECIMAL(28,9))
                 ELSE CAST(0 AS DECIMAL(28,9)) END) AS ap_num
      FROM per_pos GROUP BY 1, 2)
    SELECT query_id, qlabel AS label, n_rel,
           round(CAST(n_rel AS DOUBLE) / CAST(k AS DOUBLE), 6) AS p_at_k,
           round(CAST(ap_num AS DOUBLE)
                 / CAST(greatest(least(class_n - 1, k), 1) AS DOUBLE), 6)
             AS ap_at_k
    FROM agg JOIN class_sizes ON class_sizes.label = agg.qlabel
    ORDER BY query_id
"""


# ---- Occupancy-bounded bucket-split IVF (round 9, VERDICT r8 #3) ----

#: A stride bucket is "oversized" when it holds more than
#: IVF_SPLIT_BOUND_NUM / N_CENTROIDS of the corpus (2x the even
#: share). Exact-integer comparison (nv * N_CENTROIDS > num * n) so
#: the split decision is bit-portable to the DuckDB oracle.
IVF_SPLIT_BOUND_NUM = 2
#: Each oversized bucket is re-seeded with up to this many
#: stride-sampled member centroids (its original centroid is
#: retired; members may re-elect it).
IVF_SPLIT_FACTOR = 4


def q_ann_ivf_split_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with occupancy-bounded bucket splitting -- the knob the
    round-8 skew ladder priced (SCALE.md: Zipf clustering triples the
    max stride-bucket share 0.04 -> 0.14; probe cost is linear in
    occupancy, so one hot bucket becomes the straggler/memory risk at
    scale when max_share x n exceeds a task's work quantum).

    Mechanics: build the stride index, assign once, measure occupancy
    (q_ivf_bucket_occupancy's aggregate), then re-seed every bucket
    holding > IVF_SPLIT_BOUND_NUM/N_CENTROIDS of the corpus with up to
    IVF_SPLIT_FACTOR of its own members (per-bucket vec_id-ordered
    rank, picks at rank 1, 1+q, ... where q = ceil(nv/factor) -- all
    deterministic), and run the standard IVF search against the
    augmented centroid set. Buckets under the bound keep their
    original centroid, so the uniform-corpus behavior is IDENTICAL to
    q_ann_ivf_topk (no bucket trips the bound) and the knob only pays
    its extra assignment pass where skew exists.

    Scale shape: two Arrow-batched assignment maps over the corpus
    scan (no shuffle), one tiny occupancy groupBy, one rank window
    over ONLY the oversized buckets' (vec_id, centroid_id) pairs --
    the vectors themselves never ride that shuffle; the <= factor x
    N_CENTROIDS split picks broadcast-join back to the corpus for
    their vectors. Centroid sets stay bounded model metadata
    (<= IVF_SPLIT_FACTOR x N_CENTROIDS rows collected), exactly like
    every other IVF variant here.

    Determinism/oracle: every decision is exact-integer or the
    bit-portable sequential-cumsum cosine (_seq_sims), so the DuckDB
    twin re-derives the identical split set, assignment, probes and
    ranking."""
    vecs = _spread_vectors(_vectors(spark, sf_dir))
    return _ivf_search(vecs, split_centroids(vecs))


def split_centroids(vecs: DataFrame) -> DataFrame:
    """The occupancy-bounded centroid augmentation of
    q_ann_ivf_split_topk, exposed so tests and ladders can measure
    occupancy/recall against the augmented set directly."""
    cent0 = _stride_centroids(vecs)
    rows0 = _centroid_rows(cent0)
    if not rows0:  # empty corpus
        rows0 = [(0, [0.0])]
    assigned0 = vecs.select(
        "vec_id", _nearest_centroid_udf(rows0)(F.col("v")).alias("centroid_id")
    )
    total = vecs.count()
    occ = assigned0.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("nv")
    )
    oversized = occ.filter(
        F.col("nv") * F.lit(N_CENTROIDS) > F.lit(IVF_SPLIT_BOUND_NUM * total)
    )
    keep = cent0.join(
        oversized.select("centroid_id"), "centroid_id", "left_anti"
    ).select("centroid_id", "cv")
    # rank ONLY oversized-bucket members; ids-only so vectors stay put
    members = assigned0.join(broadcast(oversized), "centroid_id")
    ranked = members.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("centroid_id").orderBy("vec_id")
        ),
    )
    pick_ids = ranked.filter(
        (F.col("rn") - 1)
        % F.expr(f"(nv + {IVF_SPLIT_FACTOR - 1}) DIV {IVF_SPLIT_FACTOR}")
        == 0
    ).select("vec_id")
    splits = vecs.join(broadcast(pick_ids), "vec_id").select(
        F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv")
    )
    return keep.unionByName(splits)


def _ann_ivf_split_oracle() -> str:
    """Exact DuckDB twin of q_ann_ivf_split_topk: stride centroids,
    one assignment round, exact-integer occupancy bound, the same
    rank-stride member re-seeding, then the shared IVF
    assignment/probe/search/rank tail against the augmented set."""
    return f"""
        WITH e AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        stride AS (SELECT greatest(1, count(*) // {N_CENTROIDS}) AS s FROM e),
        cent AS (
          SELECT vec_id AS centroid_id, v AS cv
          FROM e, stride WHERE vec_id % stride.s = 0),
        {_centroid_sims_sql("cent", "sims0")},
        assign0 AS (
          SELECT vec_id, centroid_id FROM (
            SELECT vec_id, centroid_id,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sim DESC, centroid_id) AS rn
            FROM sims0) WHERE rn = 1),
        tot AS (SELECT count(*) AS n FROM e),
        occ AS (SELECT centroid_id, count(*) AS nv
                FROM assign0 GROUP BY 1),
        oversized AS (
          SELECT centroid_id, nv FROM occ, tot
          WHERE nv * {N_CENTROIDS} > {IVF_SPLIT_BOUND_NUM} * tot.n),
        keep AS (
          SELECT c.centroid_id, c.cv FROM cent c
          WHERE c.centroid_id NOT IN (SELECT centroid_id FROM oversized)),
        memb AS (
          SELECT a.vec_id, o.nv,
                 row_number() OVER (PARTITION BY a.centroid_id
                                    ORDER BY a.vec_id) AS rn
          FROM assign0 a JOIN oversized o USING (centroid_id)),
        splits AS (
          SELECT e.vec_id AS centroid_id, e.v AS cv
          FROM memb m JOIN e ON e.vec_id = m.vec_id
          WHERE (m.rn - 1)
                % ((m.nv + {IVF_SPLIT_FACTOR - 1}) // {IVF_SPLIT_FACTOR})
                = 0),
        cent2 AS (SELECT * FROM keep UNION ALL SELECT * FROM splits),
        {_ivf_search_sql("cent2")}
    """


SIMILARITY_QUERIES["q_ann_ivf_split_topk"] = q_ann_ivf_split_topk
SIMILARITY_ORACLES["q_ann_ivf_split_topk"] = _ann_ivf_split_oracle()
