"""Ladders: how a query's or an operator's cost grows with its input.

Four rungs share one CLI, one session (``bench.session``) and
bench.py's timer (``bench.best_of``); ``--rung`` picks one:

``replicate`` (default): the salted replication ladder. Round 3
    measured this ad hoc (SCALE.md "Round-3 replication ladder"); this
    rung makes the methodology reproducible. Replicas are id-offset and
    content-salted so cross-replica rows never collide (a per-replica
    token prefix for documents, rolled vectors for embeddings, offset
    order/part keys for lineitem) -- growth curves measure the
    operator, not artificial duplication. One line per (query,
    replication) with the min-of-``--runs`` seconds of a ``collect()``,
    plus a JSON summary. Replicated corpora are built once per level
    under ``--workdir`` and reused.
``ivf_split`` (round 9, VERDICT r8 #3): on the Zipf-skew embedding
    fixtures (``--skew``) and their uniform twins, what the
    occupancy-bounded bucket split buys: max/top-3 bucket share before
    vs after the split, centroid counts, min-of-2 warm wall-clock, and
    top-k recall vs brute force for both the plain stride index
    (q_ann_ivf_topk) and the split index (q_ann_ivf_split_topk).
``aqe_skew`` (round 10, VERDICT r9 #6): the triage that
    q_salted_join_brand_volume's docstring asserts (broadcast first,
    AQE skew-join second, the explicit salt as the last resort),
    measured. A fact table with a single Zipf-hot key (hot fraction p
    of all rows on one key, the rest uniform over ``--keys``) is
    shuffle-joined to a non-broadcastable dim four ways: ``static``
    (adaptive off: the straggler baseline), ``aqe_default`` (at fixture
    scale the default 256 MB skew trigger never fires -- itself the
    headline finding), ``aqe_tuned`` (threshold/advisory lowered so the
    splitter can act, modeling the production-scale ratio) and ``salt``
    (the salt-replicated join as q_salted_join_brand_volume builds it).
    Per mode: min-of-2 warm wall of a full materialization and the
    max/median join-task output rows -- the straggler witness, since
    wall-clock on local[N] hides one busy core behind idle ones.
``wedge_regime`` (VERDICT r7 #5): the minhash wedge twin in its
    claimed winning regime, a HIGH similarity floor where r >= 2
    banding collapses candidates superlinearly (pass probability
    1-(1-j^r)^b). Planted near-dup adjacency twins on a noisy
    background (see ``build_wedge_fixture``); rungs scale background
    and pool together, so exact wedge volume grows ~linearly and the
    ladder isolates the candidate-generation constant. Per rung: exact
    q_node_jaccard wall, wedge volume and edge count; the twin at
    bands=16/rows=2 (wall, candidates, top-K recall vs exact); and at
    the first rung only the registered bands=32/rows=1 control.

Usage:
    python tools/ladder.py [--sf /root/testdata/sf0.1] \
        [--replicas 1 4 10] [--runs 2] [--skew] q_name [q_name...]
    python tools/ladder.py --rung ivf_split [--sf DIR] [--replicas 1 4]
    python tools/ladder.py --rung aqe_skew [--rows 8000000] \
        [--keys 100000] [--hot 0.0 0.2 0.5] [--salts 32]
    python tools/ladder.py --rung wedge_regime [--replicas 1 2 4]

Fixtures go under ``--workdir`` (default /tmp/spark_graft_ladder);
the aqe_skew fixture is generated in-session from spark.range. Results
land in SCALE.md. Run alone on an idle box: a concurrent pytest or
bench run pollutes the timings.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import bench  # noqa: E402

#: Large id offset per replica: keeps replica key spaces disjoint for
#: every integer-keyed table (fixture ids are far below 10^9).
OFFSET = 1_000_000_000

#: Round 6 adds events (offset user_id/event_id: n x volume, n x
#: distinct users, per-user event counts unchanged) and orders
#: (o_orderkey offset in lockstep with l_orderkey so the FK holds and
#: join-shaped queries ladder meaningfully; o_custkey stays, so each
#: customer carries n x orders -- the realistic growth direction).
SALTED_TABLES = ("lineitem", "documents", "embeddings", "events", "orders")

#: Power-law salting mode (VERDICT r6 #4): with --skew, a fixed
#: percentage of lineitem rows is remapped onto a small shared hub
#: part set (same hub ids in EVERY replica, so hub degree grows with
#: replication while the rest of the graph stays the baseline ladder).
#: 3% of 10x-replicated lineitem over 50 hubs gives hub co-purchase
#: degrees in the thousands vs the ~10^2 baseline -- the regime where
#: the p99 degree cap's payoff can be MEASURED instead of asserted
#: (the fixture graph is degree-homogeneous and the cap prunes ~2.5%).
#: Hub ids sit above every replica offset (and above 2^32, matching
#: the 10x rung's packed-pair fallback regime).
SKEW_PCT = 3
SKEW_NHUBS = 50
SKEW_HUB_BASE = 98_000_000_000

#: Embedding skew mode (VERDICT r7 #8): with --skew, embeddings are
#: remapped onto K cluster directions with ZIPF(1) sizes (cluster c
#: gets ~1/(c+1) of the corpus; the head cluster ~20%), by blending
#: each vector 90/10 with a deterministic per-cluster direction. The
#: IVF assignment then piles vectors into a few mega-buckets -- the
#: probe-imbalance stress for the ANN family, the same way the hub
#: remap stresses wedges (graph ladder). Cluster membership and
#: directions are xxhash-deterministic, so replicas and reruns agree.
EMB_SKEW_CLUSTERS = 32
EMB_SKEW_BLEND = 0.9

#: wedge_regime 1x geometry (scaled by the rung factor). Background
#: picks/pool are sized so a background pair's minhash pass
#: probability -- (m/u)^2 per two-row band, m = shared neighbors, u =
#: union size -- is quadratically suppressed (u ~ 94) while the exact
#: wedge volume (= sum over pairs of m) stays large: the first 1x
#: attempt with k=24/P=2000 (u ~ 47) measured 4.5M noise candidates and
#: no wall-clock win; doubling the set sizes at constant overlap cuts
#: noise ~4x per pair by the same law the operator docstring states.
TWIN_PAIRS = 50
BACKGROUND_NODES = 24_000
POOL_PARTS = 4_000
PICKS_PER_NODE = 48

#: High-similarity band geometry under test (32 hashes, like the
#: registered default, re-cut into 16 two-row bands).
WIN_BANDS, WIN_ROWS = 16, 2


# -- replicate ---------------------------------------------------------
def build_replicated(
    spark, sf_dir: str, n: int, out_dir: str, skew: bool = False
) -> None:
    """Write an n-times salted replication of sf_dir into out_dir.
    Non-salted tables are passed through unchanged (symlinked)."""
    from kafka_clickhouse_pipeline_spark.catalog import load_table, table_path
    from kafka_clickhouse_pipeline_spark.schemas import FIXTURE_TABLES

    os.makedirs(out_dir, exist_ok=True)
    for name in FIXTURE_TABLES:
        src = table_path(sf_dir, name)
        if not os.path.exists(src):
            continue
        dst = table_path(out_dir, name)
        if os.path.exists(dst):
            continue
        # n == 1 passes through untouched ONLY without --skew: a
        # 1x-skew rung must still get the hub/cluster remap, else the
        # ladder's 1x row silently measures the uniform fixture
        if name not in SALTED_TABLES or (n == 1 and not skew):
            os.symlink(src, dst)
            continue
        base = load_table(spark, sf_dir, name)
        parts = []
        for r in range(n):
            off = F.lit(r * OFFSET)
            if name == "lineitem":
                rep = base.withColumn(
                    "l_orderkey", F.col("l_orderkey") + off
                ).withColumn("l_partkey", F.col("l_partkey") + off)
                if skew:
                    h = F.md5(
                        F.concat_ws(
                            ":", F.col("l_orderkey"), F.col("l_partkey")
                        )
                    )
                    u = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
                    hub = (
                        F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
                        % SKEW_NHUBS
                    )
                    rep = rep.withColumn(
                        "l_partkey",
                        F.when(
                            u % 100 < SKEW_PCT,
                            F.lit(SKEW_HUB_BASE) + hub,
                        ).otherwise(F.col("l_partkey")),
                    )
            elif name == "documents":
                rep = base.withColumn("doc_id", F.col("doc_id") + off)
                if r:
                    rep = rep.withColumn(
                        "text", F.concat(F.lit(f"replica{r} "), F.col("text"))
                    )
            elif name == "events":
                rep = base.withColumn(
                    "event_id", F.col("event_id") + off
                ).withColumn("user_id", F.col("user_id") + off)
            elif name == "orders":
                rep = base.withColumn("o_orderkey", F.col("o_orderkey") + off)
            else:  # embeddings: roll the vector r positions
                rep = base.withColumn("vec_id", F.col("vec_id") + off)
                dim = len(base.select("embedding").first()[0])
                if r:
                    k = r % dim
                    rep = rep.withColumn(
                        "embedding",
                        F.concat(
                            F.slice("embedding", k + 1, dim - k),
                            F.slice("embedding", 1, k),
                        ),
                    )
                if skew:
                    # Zipf(1) cluster id via inverse CDF of the
                    # xxhash-uniform draw: c = floor(e^(u ln(K+1))) - 1
                    # => P(c) = ln(1 + 1/(c+1)) / ln(K+1) ~ 1/(c+1)
                    kk = EMB_SKEW_CLUSTERS
                    u = (
                        F.pmod(F.xxhash64("vec_id"), F.lit(1_000_003))
                        .cast("double")
                        / 1_000_003.0
                    )
                    c = (
                        F.floor(F.exp(u * float(math.log(kk + 1))))
                        .cast("long")
                        - 1
                    )
                    # deterministic per-cluster direction in [-1, 1]^dim
                    center = F.transform(
                        F.sequence(F.lit(0), F.lit(dim - 1)),
                        lambda j: (
                            F.pmod(F.xxhash64(c, j), F.lit(2001))
                            .cast("double")
                            - 1000.0
                        )
                        / 1000.0,
                    )
                    blend = float(EMB_SKEW_BLEND)
                    rep = rep.withColumn(
                        "embedding",
                        F.zip_with(
                            "embedding",
                            center,
                            lambda a, b: (
                                a.cast("double") * (1.0 - blend) + b * blend
                            ).cast("float"),
                        ),
                    )
            parts.append(rep)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(dst)


def _level_dir(args, n: int, skew: bool) -> str:
    suffix = "_skew" if skew else ""
    return os.path.join(args.workdir, f"{os.path.basename(args.sf)}_x{n}{suffix}")


def replicate(spark, args) -> None:
    if not args.names:
        raise SystemExit("--rung replicate needs query names")
    import __spark_entry__ as entry

    qs = entry.queries()
    results: dict[str, dict[int, float]] = {n: {} for n in args.names}
    for n in args.replicas:
        level_dir = _level_dir(args, n, args.skew)
        build_replicated(spark, args.sf, n, level_dir, skew=args.skew)
        for name in args.names:
            best, _ = bench.best_of(
                args.runs, lambda: qs[name](spark, level_dir).collect()
            )
            results[name][n] = round(best, 2)
            print(f"{name:42s} x{n:<3d} {best:7.2f}s", flush=True)
    print(json.dumps(results))


# -- ivf_split ---------------------------------------------------------
def _shares(vecs, centroids):
    from kafka_clickhouse_pipeline_spark.operators import similarity as S

    rows = S._centroid_rows(centroids)
    occ = (
        vecs.select(
            S._nearest_centroid_udf(rows)(F.col("v")).alias("centroid_id")
        )
        .groupBy("centroid_id")
        .count()
        .collect()
    )
    counts = sorted((r["count"] for r in occ), reverse=True)
    total = sum(counts)
    return {
        "n_buckets": len(counts),
        "n_centroids": len(rows),
        "max_share": round(counts[0] / total, 4),
        "top3_share": round(sum(counts[:3]) / total, 4),
    }


def _recall(spark, fx, fn):
    from kafka_clickhouse_pipeline_spark.operators import similarity as S

    bf = {
        (r.query_id, r.neighbor_id)
        for r in S.q_ann_bruteforce_topk(spark, fx).collect()
    }
    got = {(r.query_id, r.neighbor_id) for r in fn(spark, fx).collect()}
    return round(len(bf & got) / len(bf), 4)


def ivf_split(spark, args) -> None:
    from kafka_clickhouse_pipeline_spark.operators import similarity as S

    def timed(fx, fn):
        return round(bench.best_of(2, lambda: bench.materialize(fn(spark, fx)))[0], 2)

    print("loadavg", os.getloadavg())
    out = []
    for n in args.replicas:
        for skew in (False, True):
            fx = _level_dir(args, n, skew)
            build_replicated(spark, args.sf, n, fx, skew=skew)
            vecs = S._vectors(spark, fx)
            pre = _shares(vecs, S._stride_centroids(vecs))
            post = _shares(vecs, S.split_centroids(vecs))
            rec = {
                "fixture": f"{'skew' if skew else 'uniform'} {n}x",
                "stride": pre,
                "split": post,
                "plain_sec": timed(fx, S.q_ann_ivf_topk),
                "split_sec": timed(fx, S.q_ann_ivf_split_topk),
                "plain_recall": _recall(spark, fx, S.q_ann_ivf_topk),
                "split_recall": _recall(spark, fx, S.q_ann_ivf_split_topk),
            }
            out.append(rec)
            print(json.dumps(rec))
    print("loadavg", os.getloadavg())
    print(json.dumps(out, indent=1))


# -- aqe_skew ----------------------------------------------------------
def _fact(spark, rows: int, keys: int, hot: float):
    # deterministic hot assignment: the first hot*rows ids by modulus
    # stripe (not a prefix -- a prefix would co-locate the hot key in
    # a few input partitions and confound the shuffle measurement)
    den = 1_000_000
    hot_mod = int(hot * den)
    return spark.range(rows).select(
        "id",
        F.when(F.col("id") % den < hot_mod, F.lit(0))
        .otherwise((F.col("id") % keys) + 1)
        .alias("k"),
        (F.col("id") % 997).cast("double").alias("x"),
    )


def _dim(spark, keys: int):
    return spark.range(keys + 1).select(
        F.col("id").alias("k"), (F.col("id") % 31).cast("double").alias("w")
    )


def _join(fact, dim):
    return fact.join(dim.hint("shuffle_hash"), "k").select(
        "k", (F.col("x") + F.col("w")).alias("y")
    )


def _salted_join(spark, fact, dim, salts: int):
    # salt off a high-cardinality column, exactly as the registered
    # pattern salts off l_orderkey (a low-cardinality salt source
    # re-concentrates the hot key onto few salts)
    salted = fact.withColumn(
        "salt", F.pmod(F.xxhash64("id"), F.lit(salts))
    )
    sids = spark.range(salts).select(F.col("id").cast("long").alias("salt"))
    replicated = dim.crossJoin(F.broadcast(sids)).hint("shuffle_hash")
    return salted.join(replicated, ["k", "salt"]).select(
        "k", (F.col("x") + F.col("w")).alias("y")
    )


def _measure(df):
    wall, _ = bench.best_of(2, lambda: bench.materialize(df))
    # straggler witness: rows per join-output task, captured before
    # the diagnostic aggregation's own exchange. The payload column
    # rides along (summed) so Catalyst cannot column-prune the join
    # shuffle down to the constant hot key -- AQE's skew decisions
    # read COMPRESSED map-output sizes, and an all-constant partition
    # compresses below any threshold, which would make this diagnostic
    # run un-split even when the measured run split (observed while
    # building this ladder).
    per_task = (
        df.select(F.spark_partition_id().alias("pid"), "y")
        .groupBy("pid")
        .agg(F.count("*").alias("count"), F.sum("y"))
        .collect()
    )
    counts = sorted((r["count"] for r in per_task), reverse=True)
    mid = counts[len(counts) // 2] if counts else 0
    return {
        "wall_sec": round(wall, 2),
        "n_tasks": len(counts),
        "max_task_rows": counts[0] if counts else 0,
        "median_task_rows": mid,
        "skew_ratio": round(counts[0] / max(mid, 1), 1) if counts else 0.0,
    }


def aqe_skew(spark, args) -> None:
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    dim = _dim(spark, args.keys)

    def configure(mode: str):
        # static baseline AND the salt pattern run with adaptive fully
        # off: the salt is exactly the plan-stable form for engines/
        # regimes where no runtime re-planner exists, and the static
        # rung must show the raw hot reducer (AQE's partition
        # COALESCING alone already rewrites small-fixture task counts
        # and would mask the straggler witness)
        if mode in ("static", "salt"):
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            return
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        if mode == "aqe_default":
            spark.conf.unset(
                "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
            )
            spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        elif mode == "aqe_tuned":
            # production-ratio trigger at fixture scale: the default
            # 256 MB floor is far above this fixture's whole shuffle
            spark.conf.set(
                "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
                "4m",
            )
            spark.conf.set(
                "spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m"
            )

    results = []
    for hot in args.hot:
        fact = _fact(spark, args.rows, args.keys, hot)
        for mode in ("static", "aqe_default", "aqe_tuned", "salt"):
            configure(mode)
            df = (
                _salted_join(spark, fact, dim, args.salts)
                if mode == "salt"
                else _join(fact, dim)
            )
            rec = {"hot": hot, "mode": mode, **_measure(df)}
            results.append(rec)
            print(json.dumps(rec), flush=True)

    print("\n| hot | mode | wall s | tasks | max task rows | median | skew ratio |")
    print("|---|---|---|---|---|---|---|")
    for r in results:
        print(
            f"| {r['hot']} | {r['mode']} | {r['wall_sec']} | {r['n_tasks']} "
            f"| {r['max_task_rows']} | {r['median_task_rows']} "
            f"| {r['skew_ratio']} |"
        )


# -- wedge_regime ------------------------------------------------------
def build_wedge_fixture(spark, out_dir: str, factor: int) -> None:
    """Write lineitem.parquet with the planted-twin co-purchase graph:

    * T twin pairs (u, v): 16 + (i % 9) SHARED neighbors plus 8 private
      neighbors each -> adjacency Jaccard 0.50-0.64 (the "mirror
      products" a near-dup screen hunts).
    * B background nodes, each co-ordered with PICKS_PER_NODE parts
      drawn hash-deterministically from a pool of P parts, so pool
      parts acquire degree ~B*k/P and the EXACT wedge volume sum C(d,2)
      is real work, none of it relevant to the j >= 0.5 question.
    """
    T = TWIN_PAIRS * factor
    B = BACKGROUND_NODES * factor
    P = POOL_PARTS * factor

    # twin pairs: u=2i, v=2i+1; shared neighbors 10M+i*64+j (degree 2:
    # exactly the twin wedge), private neighbors degree 1 (no wedges)
    twins = spark.range(T).select(F.col("id").alias("i"))
    shared_n = F.lit(16) + (F.col("i") % 9)  # j in [0.50, 0.64]
    sh = twins.select(
        "i", F.explode(F.sequence(F.lit(0), shared_n - 1)).alias("j")
    )
    shared_part = F.lit(10_000_000) + F.col("i") * 64 + F.col("j")
    twin_rows = (
        sh.select(
            (F.lit(1_000_000_000) + F.col("i") * 64 + F.col("j")).alias(
                "l_orderkey"
            ),
            (F.col("i") * 2).alias("l_partkey"),
            shared_part.alias("other"),
        )
        .union(
            sh.select(
                (F.lit(2_000_000_000) + F.col("i") * 64 + F.col("j")).alias(
                    "l_orderkey"
                ),
                (F.col("i") * 2 + 1).alias("l_partkey"),
                shared_part.alias("other"),
            )
        )
    )
    priv = twins.select(
        "i", F.explode(F.sequence(F.lit(0), F.lit(7))).alias("j")
    )
    pu = priv.select(
        (F.lit(3_000_000_000) + F.col("i") * 16 + F.col("j")).alias(
            "l_orderkey"
        ),
        (F.col("i") * 2).alias("l_partkey"),
        (F.lit(20_000_000) + F.col("i") * 64 + F.col("j")).alias("other"),
    )
    pv = priv.select(
        (F.lit(4_000_000_000) + F.col("i") * 16 + F.col("j")).alias(
            "l_orderkey"
        ),
        (F.col("i") * 2 + 1).alias("l_partkey"),
        (F.lit(30_000_000) + F.col("i") * 64 + F.col("j")).alias("other"),
    )

    # background: node ids 1M.., pool part ids 5M..; picks are a
    # deterministic xxhash64 draw (a multiplicative-congruence pick
    # makes every node's set a translate of ONE arithmetic
    # progression -- structured, heavy-tailed overlaps; measured 4.6M
    # noise candidates before this fix). Duplicates within a node's k
    # picks just shrink its set -- realistic and harmless.
    bg = spark.range(B).select((F.lit(1_000_000) + F.col("id")).alias("n"))
    picks = bg.select(
        "n", F.explode(F.sequence(F.lit(0), F.lit(PICKS_PER_NODE - 1))).alias("j")
    )
    pool_part = F.lit(5_000_000) + F.pmod(
        F.xxhash64(F.col("n"), F.col("j")), F.lit(P)
    )
    bg_rows = picks.select(
        (F.lit(5_000_000_000) + F.col("n") * 64 + F.col("j")).alias(
            "l_orderkey"
        ),
        F.col("n").alias("l_partkey"),
        pool_part.alias("other"),
    )

    all_pairs = twin_rows.union(pu).union(pv).union(bg_rows)
    li = all_pairs.select("l_orderkey", "l_partkey").union(
        all_pairs.select("l_orderkey", F.col("other").alias("l_partkey"))
    )
    li.repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/lineitem.parquet"
    )


def wedge_volume(edges) -> int:
    """Exact wedge volume sum C(d,2) over the co-purchase adjacency --
    the pair count exact expansion must materialize."""
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    return deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long")
    ).collect()[0][0]


def wedge_rung(spark, sf_dir: str, factor: int, include_r1: bool) -> dict:
    from kafka_clickhouse_pipeline_spark.lineage import cut_lineage
    from kafka_clickhouse_pipeline_spark.operators.graph import (
        co_purchase_edges,
        q_node_jaccard,
        q_node_jaccard_minhash,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    edges = co_purchase_edges(li).transform(cut_lineage)
    bench.materialize(edges)  # warm the input

    out: dict = {"factor": factor}
    out["n_edges_directed"] = edges.count()
    out["wedge_volume"] = wedge_volume(edges)

    sec, exact = bench.best_of(1, lambda: q_node_jaccard(spark, sf_dir).collect())
    exact_top = [(r["u"], r["v"]) for r in exact]
    out["exact_sec"] = round(sec, 1)

    def _twin(bands: int, rows: int, key: str) -> None:
        sec, got = bench.best_of(
            1,
            lambda: q_node_jaccard_minhash(
                spark, sf_dir, bands=bands, rows=rows
            ).collect(),
        )
        top = [(r["u"], r["v"]) for r in got]
        out[f"{key}_sec"] = round(sec, 1)
        out[f"{key}_recall_vs_exact_topk"] = round(
            len(set(top) & set(exact_top)) / max(len(exact_top), 1), 3
        )
        # candidate count: rebuild the candidate stage alone (cheap
        # relative to the full run; the twin's verify is the other half)
        nb = edges.select(
            "src", F.md5(F.col("dst").cast("string")).alias("base")
        )
        sigs = nb.groupBy("src").agg(
            *[
                F.min(
                    F.md5(F.concat(F.lit(f"{i}:"), F.col("base")))
                ).alias(f"h{i}")
                for i in range(bands * rows)
            ]
        )
        band_keys = F.array(
            *[
                F.md5(
                    F.concat(
                        *[F.col(f"h{b * rows + r}") for r in range(rows)]
                    )
                )
                for b in range(bands)
            ]
        )
        bands_df = sigs.select(
            "src", F.posexplode(band_keys).alias("band", "bucket")
        )
        a, b2 = bands_df.alias("a"), bands_df.alias("b").hint("shuffle_hash")
        cand = (
            a.join(
                b2,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.src") < F.col("b.src")),
            )
            .select(F.col("a.src").alias("u"), F.col("b.src").alias("v"))
            .distinct()
        )
        out[f"{key}_candidates"] = cand.count()

    _twin(WIN_BANDS, WIN_ROWS, "twin_r2")
    if include_r1:
        _twin(32, 1, "twin_r1")
    out["candidate_cut_r2"] = round(
        out["wedge_volume"] / max(out["twin_r2_candidates"], 1), 1
    )
    return out


def wedge_regime(spark, args) -> None:
    results = []
    for factor in args.replicas:
        d = os.path.join(args.workdir, "wedge_regime", f"x{factor}")
        build_wedge_fixture(spark, d, factor)
        res = wedge_rung(spark, d, factor, include_r1=(factor == args.replicas[0]))
        print(json.dumps(res))
        results.append(res)
    print(json.dumps({"ladder": results, "loadavg": os.getloadavg()[0]}))


#: rung name -> (runner, default --replicas)
RUNGS = {
    "replicate": (replicate, [1, 4, 10]),
    "ivf_split": (ivf_split, [1, 4]),
    "aqe_skew": (aqe_skew, None),
    "wedge_regime": (wedge_regime, [1, 2, 4]),
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rung", choices=RUNGS, default="replicate")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--replicas",
        type=int,
        nargs="+",
        help="replication levels (wedge_regime: fixture scale factors); "
        "default per rung: replicate 1 4 10, ivf_split 1 4, wedge_regime 1 2 4",
    )
    ap.add_argument("--runs", type=int, default=2, help="replicate: timed runs per query")
    ap.add_argument("--workdir", default="/tmp/spark_graft_ladder")
    ap.add_argument(
        "--skew",
        action="store_true",
        help="replicate: power-law hub salting of lineitem and Zipf "
        "clustering of embeddings (see SKEW_* / EMB_SKEW_* constants)",
    )
    ap.add_argument("--rows", type=int, default=8_000_000, help="aqe_skew: fact rows")
    ap.add_argument("--keys", type=int, default=100_000, help="aqe_skew: uniform keys")
    ap.add_argument("--hot", type=float, nargs="+", default=[0.0, 0.2, 0.5],
                    help="aqe_skew: hot-key fractions")
    ap.add_argument("--salts", type=int, default=32, help="aqe_skew: salt count")
    ap.add_argument("names", nargs="*", help="replicate: registered query names")
    args = ap.parse_args()
    run, replicas = RUNGS[args.rung]
    args.replicas = args.replicas or replicas

    spark = bench.session(app_name="ladder")
    try:
        run(spark, args)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
