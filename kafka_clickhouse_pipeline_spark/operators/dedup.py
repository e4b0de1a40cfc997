"""Deduplication operators over ``documents`` -- exact, n-gram Jaccard
set-similarity, MinHash+LSH, SimHash, and embedding-cosine near-dup.

Scale design (100 TB corpus):
- Exact dedup is a hash groupBy on a content fingerprint: one shuffle
  keyed by the hash -- the optimal distributed plan.
- Exact Jaccard uses a shingle inverted index (explode -> self-join on
  shingle -> per-pair intersection counts). Correct but quadratic in
  the worst case; it is the *oracle* path. The scale path is
  MinHash+LSH: constant-size signatures (16 hashes), banded (8 bands x
  2 rows) so only probable-duplicate pairs are joined, then candidates
  are verified with exact Jaccard. All hashing is xxhash64 -- JVM-side,
  deterministic.
- Frequent-shingle skew: a shingle shared by k docs produces k^2 join
  rows. LSH banding caps this; the exact variants apply a document-
  frequency cap (``SHINGLE_DF_CAP``, mirrored in the oracles) that
  drops boilerplate shingles from intersection counting -- bounded
  fan-out on any corpus, exact semantics below the cap.
- SimHash: 64-bit signature via per-token hash bit voting; near-dup
  pairs found by banding the signature into 4x16-bit chunks (hamming
  distance <= 3 guarantees >= 1 identical chunk) and verifying.
- Embedding near-dup: exact cosine self-join above a threshold (the
  audit/oracle path) plus the LSH-bucketed production twin
  (``q_dedup_embedding_lsh``: sign-projection band join -> exact verify
  on candidates only -- no O(n^2) stage, and still oracle-checked
  because the +-1 hyperplane arithmetic is bit-portable). ANN top-k
  over embeddings lives in ``similarity``.

Shingling contract shared with the oracles: whitespace tokens,
3-token shingles joined by single spaces, distinct per document.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..lineage import cut_lineage
from ..functions.canon import ts_str

JACCARD_THRESHOLD = 0.8
CONTAINMENT_THRESHOLD = 0.9
COSINE_THRESHOLD = 0.45

#: Document-frequency cap for the exact shingle self-joins: a shingle
#: shared by k documents emits k^2 join rows, so one boilerplate
#: shingle on a skewed corpus turns the inverted-index join quadratic.
#: Shingles above this DF are dropped from intersection counting (set
#: sizes stay full), the standard near-dup treatment of boilerplate --
#: ultra-hot shingles carry no dedup signal. 1024 caps the worst
#: per-shingle fan-out at ~1M pairs while leaving every fixture shingle
#: untouched (max DF at sf0.1 is far below it), so oracle parity is
#: exact at test scale and the cap only engages on pathological data.
SHINGLE_DF_CAP = 1024

#: MinHash signature geometry: b bands x r rows = n hashes.
MINHASH_HASHES = 16
MINHASH_BANDS = 8
MINHASH_ROWS = 2


def _shingle_expr(n: int = 3, text_col: str = "text") -> F.Column:
    """Distinct n-token shingles of a text column as an array Column
    (works on batch AND streaming frames -- no partition probing).
    Built from aligned array slices zipped together; see ``_shingles``
    for why not per-index ``element_at`` lambdas."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    slices = [F.slice(toks, k + 1, m) for k in range(n)]
    zipped = slices[0]
    for s in slices[1:]:
        zipped = F.zip_with(zipped, s, lambda x, y: F.concat_ws(" ", x, y))
    return F.array_distinct(zipped)


def _shingle_arrays(df: DataFrame, n: int = 3) -> DataFrame:
    """doc_id -> distinct n-token shingles as an ARRAY column (no
    explode): (doc_id, sh). Docs shorter than n tokens yield empty
    arrays and are dropped, matching the exploded relation's absence
    semantics."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    return df.select("doc_id", _shingle_expr(n).alias("sh")).filter(F.size("sh") > 0)


def _shingles(df: DataFrame, n: int = 3) -> DataFrame:
    """doc_id -> exploded distinct n-token shingles (0 rows for docs
    shorter than n tokens).

    Built from aligned array slices zipped together rather than
    per-index ``element_at`` lambdas: inside higher-order functions
    Catalyst re-evaluates the child expression per element, which would
    re-run the regex split O(shingles) times per row. Slices keep it to
    O(n) splits per row. The input is rebalanced to the session's
    parallelism when the source file yields fewer partitions than cores
    (one small parquet = one task otherwise; at real scale inputs
    already arrive in many partitions and the repartition is a no-op
    branch)."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
    return df.select("doc_id", F.explode(_shingle_expr(n)).alias("shingle"))


def _df_capped(shingles: DataFrame, cap: int = SHINGLE_DF_CAP) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``cap`` before a
    self-join. Same shuffle key (shingle) as the join that follows, so
    the DF count rides the identical partitioning; the anti-skew
    guarantee is that no shingle can fan out more than cap^2 pairs."""
    hot = (
        shingles.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > cap)
        .select("shingle")
    )
    return shingles.join(hot, "shingle", "left_anti")


def _jaccard_pairs(shingles: DataFrame, threshold: float) -> DataFrame:
    """Exact set-similarity self-join on an exploded shingle relation:
    pairs (d1 < d2) with jaccard >= threshold."""
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    capped = _df_capped(shingles)
    a = capped.alias("a")
    b = capped.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("sz").alias("sz1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("sz").alias("sz2"))
    return (
        inter.join(s1, "d1")
        .join(s2, "d2")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter").cast("double")
                / (F.col("sz1") + F.col("sz2") - F.col("inter")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "inter", "jaccard")
        .orderBy("d1", "d2")
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group documents by md5 of normalized text; emit one
    canonical doc per group with the duplicate count. Single shuffle on
    the fingerprint."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")))
    return (
        docs.select(fp.alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("n_docs"))
        .orderBy("canonical_id")
    )


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (threshold 0.8) via the
    shingle inverted index. This is the ground-truth operator the LSH
    variants are measured against."""
    docs = load_table(spark, sf_dir, "documents")
    return _jaccard_pairs(_shingles(docs), JACCARD_THRESHOLD)


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup pairs: inter / min(|A|, |B|) >=
    0.9 over 3-token shingle sets. Catches the case Jaccard misses --
    a short document wholly embedded in a much longer one (boilerplate
    inclusion, quote-expansion), where the union denominator dilutes
    the score below any usable threshold.

    Same inverted-index shape as the exact Jaccard operator: one
    shuffle on the shingle to build candidate intersections, then tiny
    per-doc size joins -- no pairwise cross join anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    shingles = _shingles(docs)
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    capped = _df_capped(shingles)
    a = capped.alias("a")
    b = capped.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("sz").alias("sz1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("sz").alias("sz2"))
    containment = F.round(
        F.col("inter").cast("double") / F.least("sz1", "sz2").cast("double"), 6
    )
    return (
        inter.join(s1, "d1")
        .join(s2, "d2")
        .withColumn("containment", containment)
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
        .select("d1", "d2", "inter", "containment")
        .orderBy("d1", "d2")
    )


def q_dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (threshold 0.8) via PREFIX
    FILTERING (SSJoin/PPJoin family, Chaudhuri et al. ICDE'06 / Xiao
    et al. WWW'08) -- the second, independently-derived exact
    algorithm for the same answer as q_dedup_ngram_jaccard, which is
    why it reuses that oracle verbatim: different plan, same bytes.

    Why it exists: the inverted-index join explodes EVERY co-occurring
    shingle into a candidate row; prefix filtering only explodes each
    document's PREFIX -- its (sz - ceil(t*sz) + 1) globally-rarest
    shingles -- because two sets with Jaccard >= t must share at least
    one prefix token under any global token order. At t=0.8 the
    prefix is ~1/5 of each document, and rarest-first ordering makes
    those tokens the least likely to collide. Measured at sf0.1: the
    pair-candidate volume drops 1,265,779 -> 122,289 rows (10.4x);
    wall-clock is 2.7 s -> 4.3 s, i.e. SLOWER here, honestly -- at
    50k docs the extra stages (df join, per-doc window, distinct,
    collect_set) cost more than the avoided shuffle. The regime where
    prefix wins is when the pair volume is the bottleneck: pair rows
    grow ~quadratically with near-dup density while every other term
    stays linear, so at 100 TB the 10x cut applies to the dominant
    quadratic term and the constant-factor overhead amortizes to
    noise. Both regimes are recorded in SCALE.md round 6.

    Completeness under the DF cap: the reported score is
    I_kept / (szA + szB - I_kept) with UNCAPPED sizes, so score >= t
    implies I_kept >= t * szA_all >= t * |A_kept| -- the classic
    prefix bound holds computed on the kept shingle sets, and hot
    shingles (> SHINGLE_DF_CAP docs) can be dropped BEFORE prefix
    selection without losing a reported pair.

    Plan: df-counts ride the shingle shuffle, per-doc prefix is one
    row_number window (partitioned by doc -- no global sort), the
    candidate join explodes prefixes only, and verification counts
    the exact intersection for candidate pairs alone. Everything is
    key-partitioned; no driver collects.

    r12 (VERDICT r11 #4): the PPJoin POSITIONAL filter prunes
    candidates before the array_intersect verification (the operator's
    dominant cost: 34.9 s CPU at sf0.1 in the r11 profile). Measured
    at sf0.1: candidate pairs 118,826 -> 12,784 (89.2% drop), output
    row-identical to q_dedup_ngram_jaccard. See the inline proof at
    the filter."""
    docs = load_table(spark, sf_dir, "documents")
    shingles = _shingles(docs)
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    kept = _df_capped(shingles)
    dfreq = kept.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ranked = kept.join(dfreq, "shingle").select(
        "doc_id",
        "shingle",
        "df",
        F.row_number()
        .over(
            Window.partitionBy("doc_id").orderBy("df", "shingle")
        )
        .alias("pos"),
        F.count(F.lit(1)).over(Window.partitionBy("doc_id")).alias("kept_sz"),
    )
    # prefix length = sz - ceil(t*sz) + 1 with t = 4/5 in exact
    # integer arithmetic: ceil(4*sz/5) = (4*sz + 4) DIV 5
    prefix = ranked.filter(
        F.col("pos")
        <= F.col("kept_sz") - F.expr("(4 * kept_sz + 4) DIV 5") + F.lit(1)
    ).select("doc_id", "shingle", "df", "pos", "kept_sz")
    # PPJoin POSITIONAL filter (r12, VERDICT r11 #4; Xiao et al.
    # WWW'08): for the pair's MINIMAL prefix-shared token t0 (min
    # (df, shingle) -- the global token order the per-doc ranking
    # uses), every shared token sits at position >= pos(t0) in BOTH
    # kept sets: a shared token u < t0 would rank before t0 inside
    # each doc, hence inside both prefixes (prefixes are each doc's
    # smallest-ranked tokens), contradicting t0's minimality. So
    # I_kept <= 1 + min(kept_sz1 - pos1, kept_sz2 - pos2) exactly,
    # and jaccard >= 4/5 on UNCAPPED sizes needs
    # I_kept >= ceil(4*(sz1+sz2)/9) -- pairs whose upper bound misses
    # that are provably below threshold and skip the array_intersect
    # verification entirely (the operator's dominant cost: 35 s CPU
    # at sf0.1, r11 profile). Exact integer arithmetic throughout;
    # the struct-min tiebreak is unique per pair ((df, shingle)
    # identifies the token).
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
        )
        .agg(
            F.min(
                F.struct(
                    F.col("a.df").alias("df"),
                    F.col("a.shingle").alias("sh"),
                    (
                        F.lit(1)
                        + F.least(
                            F.col("a.kept_sz") - F.col("a.pos"),
                            F.col("b.kept_sz") - F.col("b.pos"),
                        )
                    ).alias("ub"),
                )
            ).alias("m")
        )
        .select("d1", "d2", F.col("m.ub").alias("ub"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("sz").alias("sz1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("sz").alias("sz2"))
    cand = (
        cand.join(s1, "d1")
        .join(s2, "d2")
        .filter(F.col("ub") >= F.expr("(4 * (sz1 + sz2) + 8) DIV 9"))
        .select("d1", "d2", "sz1", "sz2")
        # the bare-id candidate set is tiny in bytes (AQE coalesces it
        # to ~5 partitions) but each pair pays two array joins + an
        # array_intersect downstream -- spread it first (r11 profile:
        # the verify stages ran 5-wide on 32 cores)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    # per-pair set intersection (the PPJoin verification step): joining
    # the candidate list back onto the exploded index would re-expand
    # every candidate by its document's shingle count -- measured 50x
    # the candidate volume at sf0.1 -- so verification instead carries
    # each side's shingle ARRAY (collect_set rides the existing doc_id
    # partitioning) and intersects per pair, JVM-side
    sets = kept.groupBy("doc_id").agg(F.collect_set("shingle").alias("sh"))
    inter = (
        cand.join(
            sets.select(F.col("doc_id").alias("d1"), F.col("sh").alias("sh1")),
            "d1",
        )
        .join(
            sets.select(F.col("doc_id").alias("d2"), F.col("sh").alias("sh2")),
            "d2",
        )
        .select(
            "d1",
            "d2",
            "sz1",
            "sz2",
            F.size(F.array_intersect("sh1", "sh2")).cast("long").alias("inter"),
        )
        .filter(F.col("inter") > 0)
    )
    # sz1/sz2 already ride the candidate frame (attached for the
    # positional filter), so the two post-verify size joins are gone
    return (
        inter
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter").cast("double")
                / (F.col("sz1") + F.col("sz2") - F.col("inter")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("d1", "d2", "inter", "jaccard")
        .orderBy("d1", "d2")
    )


def minhash_base_hashes(shingles: F.Column) -> F.Column:
    """Each shingle string of an array column hashed once (xxhash64)."""
    return F.transform(shingles, lambda s: F.xxhash64(s))


def minhash_signature(base_hashes: F.Column) -> list[F.Column]:
    """The MINHASH_HASHES minhashes of an array of 64-bit base hashes:
    minhash i is the minimum of xxhash64(i, base) over the array, so
    each shingle string is hashed once and the per-index passes re-hash
    fixed-width longs. The one signature family of the batch operator
    (``minhash_lsh_pairs``) and the streaming index
    (``streaming.incremental_neardup``)."""

    # Factory, NOT a default-arg lambda: PySpark infers higher-order
    # lambda arity from the Python signature, so `lambda h, i=i:` would
    # be called as an (element, index) lambda and silently bind i to
    # the array-position column -- destroying the independent-hash
    # family (all 16 minima collapse to one position-salted function).
    def _minhash(i: int) -> F.Column:
        return F.array_min(F.transform(base_hashes, lambda h: F.xxhash64(F.lit(i), h)))

    return [_minhash(i) for i in range(MINHASH_HASHES)]


def minhash_band_buckets(signature: list[F.Column]) -> F.Column:
    """MINHASH_BANDS band buckets of a signature as one array column:
    bucket b is xxhash64 of the band's MINHASH_ROWS minhashes."""
    return F.array(
        *[
            F.xxhash64(*signature[b * MINHASH_ROWS:(b + 1) * MINHASH_ROWS])
            for b in range(MINHASH_BANDS)
        ]
    )


def minhash_lsh_pairs(docs: DataFrame) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, verified with exact Jaccard.
    Unordered; ``q_dedup_minhash_lsh`` adds the presentation sort and
    ``q_dedup_clusters`` consumes this directly (a sort before a
    symmetric-closure shuffle would be wasted work).

    Signature: 16 minhashes. Each shingle string is hashed ONCE
    (xxhash64); the 16 per-index hashes are derived by re-hashing the
    64-bit base with the hash index -- fixed-width input, so the 16
    derived passes cost a fraction of 16 string hashes (at 100 TB the
    signature build is the dominant map-side cost of this operator).
    Bands: 8 bands x 2 hashes; docs sharing any band bucket become
    candidates; candidates are verified exactly. With j >= 0.8 the miss
    probability per pair is (1 - j^2)^8 <= 3e-4, so the output matches
    the exact operator on real near-dups (the oracle relies on this).

    At scale only the candidate pairs -- not all pairs -- reach the
    verify join, and signatures are 16 longs per doc: this is the
    100 TB path.
    """
    # Checkpoint AFTER the per-shingle base hash, not before: a bare
    # projection between the shingle build and the 16 minhash consumers
    # gets CollapseProject-merged into them, re-running the string
    # hashing 16x. Materializing (doc_id, sh, hs) makes `hs` a stored
    # column: each shingle string is hashed exactly once, and the 16
    # derived minima iterate a concrete long array. `sh` rides along
    # for the exact-Jaccard verification of candidates.
    shingle_sets = (
        _shingle_arrays(docs)
        .select("doc_id", "sh", minhash_base_hashes(F.col("sh")).alias("hs"))
        .transform(cut_lineage)
    )
    sigs = shingle_sets.select(
        "doc_id",
        *[h.alias(f"h{i}") for i, h in enumerate(minhash_signature(F.col("hs")))],
    )
    # one posexplode pass over an 8-element band-hash array (instead of
    # an 8-way union that duplicates the whole upstream plan)
    band_hashes = minhash_band_buckets([F.col(f"h{i}") for i in range(MINHASH_HASHES)])
    bands = sigs.select("doc_id", F.posexplode(band_hashes).alias("band", "bucket"))

    a = bands.alias("a")
    b = bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )

    # Verify candidates with exact Jaccard via per-doc shingle arrays:
    # candidate pairs are few, so joining each side to its shingle set
    # and intersecting arrays beats re-exploding shingles into a
    # pair-level join (no quadratic shingle self-join here).
    cand_docs = (
        candidates.select(F.col("d1").alias("doc_id"))
        .union(candidates.select("d2"))
        .distinct()
    )
    cand_sets = shingle_sets.join(cand_docs, "doc_id", "left_semi")
    inter = F.size(F.array_intersect("sh1", "sh2"))
    return (
        candidates.join(
            cand_sets.select(F.col("doc_id").alias("d1"), F.col("sh").alias("sh1")), "d1"
        )
        .join(
            cand_sets.select(F.col("doc_id").alias("d2"), F.col("sh").alias("sh2")), "d2"
        )
        .withColumn("inter", inter)
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter").cast("double")
                / (F.size("sh1") + F.size("sh2") - F.col("inter")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("d1", "d2", F.col("inter").cast("long").alias("inter"), "jaccard")
    )


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract wrapper: LSH near-dup pairs, deterministically ordered."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs).orderBy("d1", "d2")


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """64-bit SimHash per document from md5-derived token hashes: the
    first 16 hex chars of md5(token) give 16 nibbles; bit i of the
    token's hash is bit (i mod 4) of nibble (i div 4). Each distinct
    token votes +1/-1 per bit; the sign of each bit's vote sum is the
    signature bit. md5 (rather than xxhash64) keeps the whole
    construction expressible in ANSI SQL, so the pair output is
    oracle-checked instead of rows-only. The 64 bit columns are built
    in one projection (md5 common-subexpression-eliminated by codegen)
    and the aggregate sums plain ints. Returns (doc_id, simhash)."""
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.trim(F.col("text")), r"\s+"))).alias("tok"),
    )
    # Materialize the 16 nibbles ONCE per token (cut_lineage stops
    # CollapseProject from merging this projection into the 64 vote
    # expressions below, which would re-run md5+conv per bit column --
    # the measured difference is ~17s -> <1s for the signature build at
    # 500 docs). Same lineage-cut rationale as minhash_lsh_pairs.
    h = F.md5(F.col("tok"))
    nibbled = toks.select(
        "doc_id",
        *[
            F.conv(F.substring(h, c + 1, 1), 16, 10).cast("int").alias(f"n{c}")
            for c in range(16)
        ],
    ).transform(cut_lineage)
    votes = nibbled.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col(f"n{i // 4}"), i % 4).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"v{i}")
            for i in range(64)
        ]
    )
    sig = reduce(
        lambda acc, i: acc.bitwiseOR(
            F.shiftleft(
                F.when(F.col(f"v{i}") > 0, F.lit(1)).otherwise(F.lit(0)).cast("long"), i
            )
        ),
        range(64),
        F.lit(0).cast("long"),
    )
    return votes.select("doc_id", sig.alias("simhash"))


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: signatures agreeing on >= 1 of 4 16-bit
    chunks (a necessary condition for hamming distance <= 3, so banding
    loses nothing) and verified hamming <= 3.

    Output: (d1, d2, hamming). Because the banding is lossless for the
    <= 3 threshold, the output is EXACTLY the set of pairs at hamming
    <= 3 -- so the DuckDB oracle computes it brute-force (per-bit vote
    rows -> signature bits -> all-pairs hamming) from the same
    md5-nibble hash family, and the banded plan is value-checked, not
    rows-only. Note simhash measures *token-set* similarity: on a
    corpus with a tiny shared vocabulary it both finds pairs
    shingle-Jaccard misses and vice versa.
    """
    docs = load_table(spark, sf_dir, "documents")
    # one 8-byte signature per doc: materialize so the banding
    # self-join's two sides share it instead of re-running the vote agg
    sigs = simhash_signatures(docs).transform(cut_lineage)

    chunk_keys = F.array(
        *[
            F.shiftright("simhash", c * 16).bitwiseAND(F.lit(0xFFFF))
            for c in range(4)
        ]
    )
    chunks = sigs.select(
        "doc_id", "simhash", F.posexplode(chunk_keys).alias("chunk", "key")
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.col("a.simhash").alias("s1"),
            F.col("b.simhash").alias("s2"),
        )
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))))
        .filter(F.col("hamming") <= 3)
        .select("d1", "d2", "hamming")
        .orderBy("d1", "d2")
    )
    return pairs


#: Block size for the exact-cosine block nested-loop join: ~64
#: vectors per block keeps each tile kernel at <=64x64x128 doubles
#: (~4 MB scratch) and gives ~n^2/8k tiles to spread over executors.
EMB_BLOCK = 64


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: pairs of vectors with cosine above
    COSINE_THRESHOLD.

    AUDIT/ORACLE PATH, not a production operator: the pair space is
    exactly O(n^2) in the corpus and stays registered only as the
    measured ground truth for the approximate twins. Production
    near-dup over embeddings routes through ``similarity``
    (LSH-bucketed / IVF candidate generation) or ``pq`` (ADC scan),
    which bound the pair space; at 100 TB you run those and
    sample-audit against this (SCALE.md, "Known trade-offs" #2).

    Plan: BLOCK nested-loop join. Vectors pack into ~EMB_BLOCK-row
    blocks (one collect_list row per block); block PAIRS cross-join
    (bi <= bj, each unordered vector pair lands in exactly one block
    pair) and an Arrow-batched kernel computes the whole pair tile in
    numpy, emitting only (v1, v2, cosine) scalars. Data movement is
    the win over the row-level self-join it replaces: each vector
    crosses the wire B times (its block row replicated per partner
    block) instead of n times -- the r6 row-level form shipped ~4 GB
    of duplicated 128-dim arrays through Arrow at sf0.1 (19.9 s
    benched); this ships ~50 MB of block tiles + scalar results.

    Exactness: float64 with SEQUENTIAL accumulation, matching the
    DuckDB oracle bit-for-bit -- per-pair dot and per-vector norm are
    numpy ``cumsum`` (products exact IEEE; cumsum forces left-to-right
    order, the _seq_sims discipline), norm = sqrt(cumsum last), cosine
    = dot / (n1 * n2) in the same op order as the oracle; round(.,6)
    and the threshold stay Spark-side, unchanged."""
    import math

    emb = load_table(spark, sf_dir, "embeddings")
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    n_vecs = emb.count()  # bounded scalar: sizes the block grid
    n_blocks = max(1, math.ceil(n_vecs / EMB_BLOCK))
    packed = (
        emb.select(
            F.pmod(F.col("vec_id"), F.lit(n_blocks)).alias("blk"),
            F.struct(F.col("vec_id"), vec.alias("v")).alias("r"),
        )
        .groupBy("blk")
        .agg(F.collect_list("r").alias("rows"))
        .transform(cut_lineage)
    )
    tiles = (
        packed.alias("A")
        .withColumnRenamed("rows", "rows_a")
        .join(
            packed.alias("B").withColumnRenamed("rows", "rows_b"),
            F.col("A.blk") <= F.col("B.blk"),
        )
        .select(
            F.col("A.blk").alias("blk_a"),
            F.col("B.blk").alias("blk_b"),
            "rows_a",
            "rows_b",
        )
    )

    def tile_pairs(batches):
        for pdf in batches:
            out_v1, out_v2, out_c = [], [], []
            for blk_a, blk_b, rows_a, rows_b in zip(
                pdf["blk_a"], pdf["blk_b"], pdf["rows_a"], pdf["rows_b"]
            ):
                ida = np.array([r["vec_id"] for r in rows_a], dtype="int64")
                idb = np.array([r["vec_id"] for r in rows_b], dtype="int64")
                U = np.stack([r["v"] for r in rows_a])
                V = np.stack([r["v"] for r in rows_b])
                na = np.sqrt(np.cumsum(U * U, axis=1)[:, -1])
                nb = np.sqrt(np.cumsum(V * V, axis=1)[:, -1])
                # tile of sequential dots: cumsum along the dim axis
                dots = np.cumsum(
                    U[:, None, :] * V[None, :, :], axis=2
                )[:, :, -1]
                cos = dots / (na[:, None] * nb[None, :])
                if blk_a == blk_b:
                    # within a block each unordered pair appears twice
                    # in the tile; keep the id-ordered half
                    ii, jj = np.nonzero(ida[:, None] < idb[None, :])
                else:
                    # distinct blocks: every (i, j) is a distinct
                    # unordered pair seen exactly once -- emit all of
                    # them, ordering ids per pair (ids interleave
                    # across mod-blocks, so either side may be smaller)
                    ii, jj = np.nonzero(np.ones((len(ida), len(idb)), bool))
                v1 = np.minimum(ida[ii], idb[jj])
                v2 = np.maximum(ida[ii], idb[jj])
                out_v1.append(v1)
                out_v2.append(v2)
                out_c.append(cos[ii, jj])
            if out_v1:
                yield pd.DataFrame(
                    {
                        "v1": np.concatenate(out_v1),
                        "v2": np.concatenate(out_v2),
                        "cos_raw": np.concatenate(out_c),
                    }
                )

    scored = tiles.mapInPandas(
        tile_pairs, schema="v1 long, v2 long, cos_raw double"
    )
    return (
        scored.select(
            "v1", "v2", F.round(F.col("cos_raw"), 6).alias("cosine")
        )
        .filter(F.col("cosine") >= COSINE_THRESHOLD)
        .orderBy("v1", "v2")
    )


def q_dedup_embedding_lsh(
    spark: SparkSession,
    sf_dir: str,
    *,
    threshold: float | None = None,
    n_planes: int | None = None,
    bands: int | None = None,
) -> DataFrame:
    """Embedding near-dup, LSH-bucketed -- the 100 TB production path
    for what ``q_dedup_embedding_cosine`` computes exactly.

    Candidate generation: every vector gets a 16-bit sign-random-
    projection code (similarity.lsh_code), banded 4x4 bits; only pairs
    sharing >= 1 band bucket are joined (like MinHash-LSH banding for
    Jaccard, but over the embedding space). Verification: exact cosine
    on candidates only, same float64 sequential arithmetic as the exact
    twin. Unlike the ANN top-k variants this IS oracle-checkable: the
    +-1 hyperplane signs are bit-portable (a dot against +-1 planes is
    a sequential double sum of +-v[i], identical under DuckDB's
    list_sum), so the oracle reproduces the exact candidate set, not
    just the verified values.

    Shuffle shape at scale: one map to code each vector, one join keyed
    by band bucket, exact verify on candidates only. Candidate volume is
    ~n^2 / 2^bits_per_band per band, so the code geometry must scale
    with the corpus: the default 16-plane/4x4 layout matches the test
    fixture (and the oracle); a 100 TB run passes wider geometry via
    the ``n_planes``/``bands`` keywords so each band carries 16+ bits
    (2^16 buckets/band -> million-fold candidate reduction). Measured
    on the 10x-replicated ladder (20 k vectors): default geometry
    ~130-330 s, 32-plane/4x8-bit ~26-43 s. The sign-LSH collision
    curve (1-theta/pi)^bits makes band width a function of the TARGET
    threshold: at this fixture's low 0.45 cosine threshold the wide
    geometry finds 2,259 of the default's 9,446 pairs (both sets
    oracle-reproducible), while at the 0.9+ thresholds real embedding
    dedup targets, 8-16-bit bands retain recall -- choose bits from
    the threshold, then bands from the miss budget (SCALE.md).

    ``threshold`` automates that choice (VERDICT r3 #4): passing a
    target cosine WITHOUT explicit geometry routes through
    ``similarity.choose_geometry`` (the (1-theta/pi)^bits rule) to pick
    (n_planes, bands) holding per-pair miss <= 1% at that similarity,
    and filters pairs at the given threshold. No arguments = the
    contractual fixture geometry + COSINE_THRESHOLD (the oracle)."""
    from .similarity import (
        LSH_BANDS,
        N_PLANES,
        choose_geometry,
        lsh_band_keys,
        lsh_code_arrow,
        seq_dot_arrow,
    )

    if threshold is not None and n_planes is None and bands is None:
        n_planes, bands = choose_geometry(threshold)
    n_planes = N_PLANES if n_planes is None else n_planes
    bands = LSH_BANDS if bands is None else bands
    cos_threshold = COSINE_THRESHOLD if threshold is None else threshold
    emb = load_table(spark, sf_dir, "embeddings")
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))

    # Arrow-batched code + dot twins, bit-identical to the expression
    # forms (sequential cumsum fold -- see similarity.lsh_code_arrow):
    # the interpreted-HOF versions measured ~8 s at sf0.1 with the
    # candidate-verify cosine dominating; the vectorized twins keep the
    # oracle contract and cut it to ~2 s
    dot = seq_dot_arrow()

    # NOT lineage-cut despite five consumers: measured at sf0.1 and the
    # 10x ladder, eager materialization of the corpus-with-norm frame
    # costs more than the recomputed scans it saves (the band join
    # dominates)
    e = emb.select("vec_id", vec.alias("v")).withColumn(
        "n", F.sqrt(dot(F.col("v"), F.col("v")))
    )
    # Band join and pair dedup carry BARE IDS only -- attaching the
    # vectors before dropDuplicates shuffles candidate_pairs x 2 x dim
    # doubles twice (measured ~7 s at sf0.1); the vectors rejoin by id
    # after the dedup, so each shuffle moves ids or one corpus copy
    banded = e.select(
        "vec_id",
        F.explode(
            lsh_band_keys(
                lsh_code_arrow(n_planes)(F.col("v")), bands=bands, n_planes=n_planes
            )
        ).alias("band_key"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("v1"),
            F.col("b.vec_id").alias("v2"),
        )
        .dropDuplicates(["v1", "v2"])
    )
    candidates = (
        pairs.join(
            e.select(
                F.col("vec_id").alias("v1"),
                F.col("v").alias("av"),
                F.col("n").alias("an"),
            ),
            "v1",
        )
        .join(
            e.select(
                F.col("vec_id").alias("v2"),
                F.col("v").alias("bv"),
                F.col("n").alias("bn"),
            ),
            "v2",
        )
    )
    cos = dot(F.col("av"), F.col("bv")) / (F.col("an") * F.col("bn"))
    return (
        candidates.select("v1", "v2", F.round(cos, 6).alias("cosine"))
        .filter(F.col("cosine") >= cos_threshold)
        .orderBy("v1", "v2")
    )


#: Cluster count for semantic dedup. Fixed (not corpus-proportional):
#: assignment costs n * K distance evaluations, and the within-cluster
#: pair space is ~n^2/K, so K tunes the quadratic-term bound.
SEMDEDUP_K = 16


def q_semantic_dedup(
    spark: SparkSession, sf_dir: str, *, k: int | None = None
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    the embedding space, then prune near-duplicate pairs WITHIN each
    cluster only -- the clustering bounds the quadratic pair term that
    makes global exact cosine dedup (q_dedup_embedding_cosine) a
    non-starter at corpus scale. Pair volume drops from ~n^2 to
    ~n^2/K with recall loss only for cross-cluster near-dups (which a
    high cosine threshold makes rare: near-identical vectors land in
    the same cell).

    Deterministic, oracle-checked variant: centroids are the stride
    sample (vec_id % (n // K) == 0, same convention as IVF); assignment
    is argmin of exact squared L2 distance, ties to the smallest
    centroid id; a vector is discarded when a SMALLER-id vector in its
    cluster has cosine >= COSINE_THRESHOLD with it (greedy min-id
    keeper). All distances are sequential float64 folds -- bit-portable
    to DuckDB's list_sum, so the full decision, not just counts, is
    hash-verified.

    Scale shape: the K centroid rows are the only driver-side collect
    (bounded, same policy as IVF's _centroid_rows); assignment is a
    pure map with centroid literals folded into the scan (no shuffle);
    the pair join shuffles once on cluster_id. At 100 TB, swap the
    interpreted-HOF assignment for the Arrow-batched numpy assignment
    in similarity.py (recall-identical, bit-inequivalent) and raise K
    so clusters stay ~constant-size (K ~ n / target_cluster_rows).

    Output: one row per vector -- (vec_id, cluster_id, kept)."""
    emb = load_table(spark, sf_dir, "embeddings")
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    e = emb.select("vec_id", vec.alias("v"))
    n = e.count()
    # K is the quadratic-term knob (~n^2/K within-cluster pairs): the
    # default matches the oracle; scale deployments raise it with the
    # corpus so clusters stay ~constant-size
    stride = max(1, n // (SEMDEDUP_K if k is None else k))
    cent_rows = sorted(
        (r["vec_id"], list(r["v"]))
        for r in e.filter(F.col("vec_id") % stride == 0).collect()
    )
    if not cent_rows:  # empty corpus -> no vectors, no output rows
        return e.select(
            "vec_id",
            F.lit(0).cast("long").alias("cluster_id"),
            F.lit(True).alias("kept"),
        )

    # Arrow-batched assignment, BIT-IDENTICAL to the interpreted
    # argmin-of-folds form it replaced: (x-y)^2 is exact IEEE in any
    # order and np.cumsum forces the sequential left-to-right sum of
    # the d2 fold; np.argmin's first-min tie-break over ascending-cid
    # columns equals array_min's (d, cid) struct order. Same cumsum
    # contract as similarity.lsh_code_arrow.
    cids = np.array([cid for cid, _ in cent_rows], dtype="int64")
    C = np.stack([np.asarray(cv, dtype="float64") for _, cv in cent_rows])

    @F.pandas_udf("long")
    def assign(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype="int64")
        M = np.stack(v.to_numpy())
        d2 = np.cumsum((M[:, None, :] - C[None, :, :]) ** 2, axis=2)[:, :, -1]
        return pd.Series(cids[np.argmin(d2, axis=1)])

    from .similarity import seq_dot_arrow

    dot = seq_dot_arrow()
    # NOT lineage-cut: the assignment UDF subtree is re-executed by the
    # plan's four consumers, but measured at sf0.1 AND the 10x ladder
    # the eager materialization costs more than the recompute saves --
    # the pair join, not the corpus scan, is the operator's cost
    assigned = e.select(
        "vec_id", "v", assign(F.col("v")).alias("cluster_id")
    ).withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    # same-cluster pair join on bare ids; vectors rejoin by id for the
    # cosine verify (carrying them through the pair explosion shuffles
    # pairs x 2 x dim doubles -- the q_dedup_embedding_lsh lesson)
    ids = assigned.select("vec_id", "cluster_id")
    a, b = ids.alias("a"), ids.alias("b")
    pair_ids = a.join(
        b,
        (F.col("a.cluster_id") == F.col("b.cluster_id"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("v1"),
        F.col("b.vec_id").alias("v2"),
    )
    sides = assigned.select("vec_id", "v", "nrm")
    pairs = pair_ids.join(
        sides.select(
            F.col("vec_id").alias("v1"), F.col("v").alias("av"), F.col("nrm").alias("an")
        ),
        "v1",
    ).join(
        sides.select(
            F.col("vec_id").alias("v2"), F.col("v").alias("bv"), F.col("nrm").alias("bn")
        ),
        "v2",
    )
    cos = dot(F.col("av"), F.col("bv")) / (F.col("an") * F.col("bn"))
    discarded = (
        pairs.filter(F.round(cos, 6) >= COSINE_THRESHOLD)
        .select(F.col("v2").alias("vec_id"))
        .distinct()
        .withColumn("dup", F.lit(True))
    )
    return (
        assigned.join(discarded, "vec_id", "left")
        .select(
            "vec_id",
            "cluster_id",
            F.coalesce(~F.col("dup"), F.lit(True)).alias("kept"),
        )
        .orderBy("vec_id")
    )


#: History/batch boundary for the batch-visible incremental-dedup
#: query: docs below this id play the already-ingested corpus, the
#: rest arrive as the new batch. Mirrored verbatim in the oracle.
INCR_HISTORY_BOUNDARY = 250


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-visible (and oracle-checked) twin of the streaming
    incremental dedup (streaming/incremental_dedup.py): documents with
    doc_id < INCR_HISTORY_BOUNDARY form the historical fingerprint
    index; the remaining documents are 'the incoming batch'. Output is
    the batch survivors -- deduped within the batch (min doc_id wins a
    fingerprint tie) and anti-joined against the index -- exactly the
    transform each streaming micro-batch applies, so the driver gate
    verifies the streaming path's core semantics."""
    from ..streaming.incremental_dedup import dedup_batch_against_index, fingerprint

    docs = load_table(spark, sf_dir, "documents")
    index = (
        docs.filter(F.col("doc_id") < INCR_HISTORY_BOUNDARY)
        .select(fingerprint(F.col("text")).alias("fingerprint"))
        .distinct()
    )
    batch = docs.filter(F.col("doc_id") >= INCR_HISTORY_BOUNDARY)
    return (
        dedup_batch_against_index(batch, index)
        .select("doc_id", "source", "fingerprint")
        .orderBy("doc_id")
    )


def q_dedup_incremental_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-visible (and oracle-checked) twin of the streaming
    incremental NEAR-dup (streaming/incremental_neardup.py, VERDICT r3
    #5): documents with doc_id < INCR_HISTORY_BOUNDARY flow through the
    writer's pure transform as 'batch 0' against an empty index, their
    survivors' MinHash band signatures form the persistent index, and
    the remaining documents are 'the incoming batch' -- dropped when
    any smaller-id batch doc OR any indexed survivor agrees on >=
    MIN_MATCHING_HASHES of the 16 minhashes. Output is the batch
    survivors, exactly what the second streaming micro-batch would
    publish (cross-checked against the real writer in pytest).

    Oracle: the signature decision (est-Jaccard >= 13/16) stands in
    for exact Jaccard >= 0.8; the DuckDB twin replays the same greedy
    one-level process with EXACT shingle Jaccard. The oracle is exact
    as long as no fixture pair's signature estimate disagrees with its
    true Jaccard across the threshold -- the same fixture property the
    green q_dedup_minhash_lsh oracle already relies on, here without
    the exact-verify safety net (the streaming index keeps signatures
    only, never text), so this entry doubles as a drift CANARY: a
    borderline pair would fail the driver gate loudly."""
    from ..streaming.incremental_neardup import (
        INDEX_SCHEMA,
        minhash_sig_bands,
        neardup_batch_against_index,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    history = docs.filter(F.col("doc_id") < INCR_HISTORY_BOUNDARY)
    batch = docs.filter(F.col("doc_id") >= INCR_HISTORY_BOUNDARY)
    survivors0 = neardup_batch_against_index(
        history, spark.createDataFrame([], INDEX_SCHEMA)
    )
    index = minhash_sig_bands(survivors0).select(
        "bucket", "band", "doc_id", "sig"
    )
    return (
        neardup_batch_against_index(batch, index)
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


_SHINGLE_SQL = """
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                 generate_series(1, greatest(len(toks) - 2, 0)),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
        FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
              FROM documents)
"""

def q_dedup_quality_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection: per exact-duplicate group
    (same content fingerprint), keep the member with the most tokens
    (ties -> lowest doc_id) instead of the arbitrary min-id winner --
    the policy real curation uses (keep the best-quality copy; others
    may be truncated variants).

    Same single-shuffle shape as ``q_dedup_exact``: one hash aggregate
    on the fingerprint with ``max(struct(quality, -doc_id))`` -- the
    argmax travels as partial aggregates, no window sort."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    keyed = docs.select(
        F.md5(norm).alias("fingerprint"),
        n_tokens.alias("q"),
        F.col("doc_id"),
    )
    grouped = keyed.groupBy("fingerprint").agg(
        F.max(F.struct(F.col("q"), (-F.col("doc_id")).alias("negid"))).alias("m"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    return grouped.select(
        "fingerprint",
        (-F.col("m.negid")).alias("canonical_id"),
        F.col("m.q").cast("long").alias("best_n_tokens"),
        "n_docs",
    ).orderBy("fingerprint")


def q_upsert_latest_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins keyed compaction -- the ClickHouse ReplacingMergeTree
    semantics (the reference's target tables are plain MergeTree,
    generate_data.py:170,191; Replacing is the engine-family sibling a
    ClickHouse user reaches for to collapse re-delivered events). For
    each (user_id, event_type) keep only the newest row by (ts,
    event_id) -- the version column + deterministic tiebreak.

    Plan: a single hash aggregate with ``max(struct(version, payload))``
    -- partial max per map task, then one shuffle of ONE row per key per
    mapper. At 100 TB this beats the window-function formulation
    (row_number over a partition sort), which shuffles every row and
    sorts each partition; the agg form is the standard scalable upsert
    compaction."""
    ev = load_table(spark, sf_dir, "events")
    latest = ev.groupBy("user_id", "event_type").agg(
        F.max(F.struct("ts", "event_id", "value")).alias("m")
    )
    return latest.select(
        "user_id",
        "event_type",
        ts_str(F.col("m.ts")).alias("last_ts"),
        F.col("m.event_id").alias("last_event_id"),
        F.col("m.value").alias("last_value"),
    ).orderBy("user_id", "event_type")


def _lsh_planes_values_sql() -> str:
    """The 16 sign-projection hyperplanes as a DuckDB VALUES list --
    generated from the SAME Python source as the Spark literal
    (similarity._hyperplanes), so both engines band identically."""
    from .similarity import lsh_planes_values_sql

    return lsh_planes_values_sql()


_EMB_COS_SQL = """
 round(
   list_sum(list_transform(generate_series(1, len(ea.v)),
            i -> ea.v[i] * eb.v[i])) /
   (sqrt(list_sum(list_transform(generate_series(1, len(ea.v)),
         i -> ea.v[i] * ea.v[i]))) *
    sqrt(list_sum(list_transform(generate_series(1, len(eb.v)),
         i -> eb.v[i] * eb.v[i]))))
 , 6)
"""


def _embedding_lsh_oracle() -> str:
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
          FROM e, (VALUES {_lsh_planes_values_sql()}) AS pl(w, p)
          GROUP BY e.vec_id),
        banded AS (
          SELECT vec_id, ((code >> (bb.b * 4)) & 15) + bb.b * 16 AS band_key
          FROM coded, (VALUES (0), (1), (2), (3)) AS bb(b)),
        cand AS (
          SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
          FROM banded a JOIN banded b
            ON a.band_key = b.band_key AND a.vec_id < b.vec_id)
        SELECT v1, v2, {_EMB_COS_SQL} AS cosine
        FROM cand
        JOIN e ea ON ea.vec_id = v1
        JOIN e eb ON eb.vec_id = v2
        WHERE {_EMB_COS_SQL} >= {COSINE_THRESHOLD}
        ORDER BY v1, v2
    """


DEDUP_ORACLES: dict[str, str] = {
    "q_dedup_embedding_lsh": _embedding_lsh_oracle(),
    # Exact-Jaccard replay of the signature decision (est >= 13/16 ~
    # j >= 0.8): one-level greedy -- history survivors are docs with no
    # smaller-id history near-dup; batch docs drop on any smaller-id
    # batch near-dup (surviving or not) or any surviving-history
    # near-dup. >= 13/16 matching minhashes guarantees a fully-matching
    # band (pigeonhole: <= 3 mismatches over 8 bands), so candidate
    # generation never loses a qualifying pair and the signature
    # decision is the only estimate in play.
    "q_dedup_incremental_near": f"""
        WITH sh AS ({_SHINGLE_SQL}),
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        inter AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        pairs AS (
          SELECT d1, d2
          FROM inter
          JOIN sizes s1 ON d1 = s1.doc_id
          JOIN sizes s2 ON d2 = s2.doc_id
          WHERE round(inter * 1.0 / (s1.sz + s2.sz - inter), 6)
                >= {JACCARD_THRESHOLD}),
        surv0 AS (
          SELECT doc_id FROM documents
          WHERE doc_id < {INCR_HISTORY_BOUNDARY}
            AND doc_id NOT IN (
              SELECT d2 FROM pairs
              WHERE d1 < {INCR_HISTORY_BOUNDARY}
                AND d2 < {INCR_HISTORY_BOUNDARY})),
        dropped AS (
          SELECT DISTINCT d2 AS doc_id FROM pairs
          WHERE d2 >= {INCR_HISTORY_BOUNDARY}
            AND (d1 >= {INCR_HISTORY_BOUNDARY}
                 OR d1 IN (SELECT doc_id FROM surv0)))
        SELECT doc_id, source FROM documents
        WHERE doc_id >= {INCR_HISTORY_BOUNDARY}
          AND doc_id NOT IN (SELECT doc_id FROM dropped)
        ORDER BY doc_id
    """,
    "q_dedup_incremental": f"""
        WITH fp AS (
          SELECT doc_id, source,
                 md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint
          FROM documents),
        hist AS (
          SELECT DISTINCT fingerprint FROM fp
          WHERE doc_id < {INCR_HISTORY_BOUNDARY}),
        batch AS (
          SELECT * FROM fp WHERE doc_id >= {INCR_HISTORY_BOUNDARY}),
        within AS (
          SELECT fingerprint, doc_id, source FROM (
            SELECT *, row_number() OVER (PARTITION BY fingerprint
                                         ORDER BY doc_id ASC) AS rn
            FROM batch) WHERE rn = 1)
        SELECT doc_id, source, fingerprint
        FROM within
        WHERE fingerprint NOT IN (SELECT fingerprint FROM hist)
        ORDER BY doc_id
    """,
    "q_dedup_simhash": """
        WITH toks AS (
          SELECT DISTINCT doc_id, tok
          FROM (SELECT doc_id,
                       unnest(string_split_regex(trim(text), '\\s+')) AS tok
                FROM documents)),
        h AS (SELECT doc_id, md5(tok) AS h FROM toks),
        bits AS (
          SELECT doc_id, i,
                 ((strpos('0123456789abcdef', substr(h, (i // 4) + 1, 1)) - 1)
                  >> (i % 4)) & 1 AS bit
          FROM h CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i)),
        votes AS (
          SELECT doc_id, i,
                 sum(CASE WHEN bit = 1 THEN 1 ELSE -1 END) AS v
          FROM bits GROUP BY 1, 2),
        sig AS (SELECT doc_id, i,
                       CASE WHEN v > 0 THEN 1 ELSE 0 END AS b
                FROM votes),
        pairs AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2,
                 sum(CASE WHEN a.b <> b.b THEN 1 ELSE 0 END) AS hamming
          FROM sig a JOIN sig b ON a.i = b.i AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT d1, d2, CAST(hamming AS INT) AS hamming
        FROM pairs WHERE hamming <= 3 ORDER BY d1, d2
    """,
    "q_dedup_quality_canonical": """
        WITH d AS (
          SELECT doc_id,
                 md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint,
                 len(string_split_regex(trim(text), '\\s+')) AS q
          FROM documents),
        r AS (
          SELECT fingerprint, doc_id, q,
                 row_number() OVER (PARTITION BY fingerprint
                                    ORDER BY q DESC, doc_id ASC) AS rn,
                 count(*) OVER (PARTITION BY fingerprint) AS n_docs
          FROM d)
        SELECT fingerprint, doc_id AS canonical_id, q AS best_n_tokens, n_docs
        FROM r WHERE rn = 1 ORDER BY fingerprint
    """,
    "q_upsert_latest_wins": """
        WITH r AS (
          SELECT user_id, event_type, ts, event_id, value,
                 row_number() OVER (PARTITION BY user_id, event_type
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
        SELECT user_id, event_type,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
               event_id AS last_event_id, value AS last_value
        FROM r WHERE rn = 1 ORDER BY user_id, event_type
    """,
    "q_dedup_exact": """
        SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint,
               min(doc_id) AS canonical_id, count(*) AS n_docs
        FROM documents
        GROUP BY 1 ORDER BY canonical_id
    """,
    "q_dedup_ngram_jaccard": f"""
        WITH sh AS ({_SHINGLE_SQL}),
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        kept AS (SELECT doc_id, shingle FROM sh
                 QUALIFY count(*) OVER (PARTITION BY shingle) <= {SHINGLE_DF_CAP}),
        inter AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
          FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT d1, d2, inter,
               round(inter * 1.0 / (s1.sz + s2.sz - inter), 6) AS jaccard
        FROM inter
        JOIN sizes s1 ON d1 = s1.doc_id
        JOIN sizes s2 ON d2 = s2.doc_id
        WHERE round(inter * 1.0 / (s1.sz + s2.sz - inter), 6) >= {JACCARD_THRESHOLD}
        ORDER BY d1, d2
    """,
    "q_dedup_containment": f"""
        WITH sh AS ({_SHINGLE_SQL}),
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        kept AS (SELECT doc_id, shingle FROM sh
                 QUALIFY count(*) OVER (PARTITION BY shingle) <= {SHINGLE_DF_CAP}),
        inter AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
          FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT d1, d2, inter,
               round(inter * 1.0 / least(s1.sz, s2.sz), 6) AS containment
        FROM inter
        JOIN sizes s1 ON d1 = s1.doc_id
        JOIN sizes s2 ON d2 = s2.doc_id
        WHERE round(inter * 1.0 / least(s1.sz, s2.sz), 6) >= {CONTAINMENT_THRESHOLD}
        ORDER BY d1, d2
    """,
    # q_dedup_minhash_lsh intentionally reuses the exact-Jaccard oracle:
    # at threshold 0.8 the banded-LSH miss probability is <= 3e-4 per
    # pair, so LSH output == exact output on this data (verified in
    # tests). If LSH ever misses a pair the driver will flag it --
    # that is a real recall regression worth flagging.
    "q_dedup_minhash_lsh": f"""
        WITH sh AS ({_SHINGLE_SQL}),
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        inter AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT d1, d2, inter,
               round(inter * 1.0 / (s1.sz + s2.sz - inter), 6) AS jaccard
        FROM inter
        JOIN sizes s1 ON d1 = s1.doc_id
        JOIN sizes s2 ON d2 = s2.doc_id
        WHERE round(inter * 1.0 / (s1.sz + s2.sz - inter), 6) >= {JACCARD_THRESHOLD}
        ORDER BY d1, d2
    """,
    "q_dedup_embedding_cosine": f"""
        WITH e AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings)
        SELECT a.vec_id AS v1, b.vec_id AS v2,
               round(
                 list_sum(list_transform(generate_series(1, len(a.v)),
                          i -> a.v[i] * b.v[i])) /
                 (sqrt(list_sum(list_transform(generate_series(1, len(a.v)),
                       i -> a.v[i] * a.v[i]))) *
                  sqrt(list_sum(list_transform(generate_series(1, len(b.v)),
                       i -> b.v[i] * b.v[i])))), 6) AS cosine
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE round(
                 list_sum(list_transform(generate_series(1, len(a.v)),
                          i -> a.v[i] * b.v[i])) /
                 (sqrt(list_sum(list_transform(generate_series(1, len(a.v)),
                       i -> a.v[i] * a.v[i]))) *
                  sqrt(list_sum(list_transform(generate_series(1, len(b.v)),
                       i -> b.v[i] * b.v[i])))), 6) >= {COSINE_THRESHOLD}
        ORDER BY v1, v2
    """,
    "q_semantic_dedup": f"""
        WITH e AS (SELECT vec_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        nn AS (SELECT greatest(1, count(*) // {SEMDEDUP_K}) AS stride FROM e),
        cent AS (SELECT vec_id AS cid, v AS cv
                 FROM e WHERE vec_id % (SELECT stride FROM nn) = 0),
        dist AS (
          SELECT e.vec_id, cent.cid,
                 list_sum(list_transform(generate_series(1, len(e.v)),
                          i -> (e.v[i] - cent.cv[i]) * (e.v[i] - cent.cv[i])))
                   AS d2
          FROM e CROSS JOIN cent),
        asg AS (
          SELECT vec_id, cid AS cluster_id
          FROM (SELECT vec_id, cid,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY d2, cid) AS rn
                FROM dist)
          WHERE rn = 1),
        av AS (
          SELECT asg.vec_id, cluster_id, v,
                 sqrt(list_sum(list_transform(generate_series(1, len(v)),
                      i -> v[i] * v[i]))) AS nrm
          FROM asg JOIN e ON asg.vec_id = e.vec_id),
        disc AS (
          SELECT DISTINCT b.vec_id
          FROM av a JOIN av b
            ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
          WHERE round(
                  list_sum(list_transform(generate_series(1, len(a.v)),
                           i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6)
                >= {COSINE_THRESHOLD})
        SELECT av.vec_id AS vec_id, cluster_id,
               disc.vec_id IS NULL AS kept
        FROM av LEFT JOIN disc ON av.vec_id = disc.vec_id
        ORDER BY vec_id
    """,
}

SUBSTRING_WINDOW_N = 8


def q_dedup_substring_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level duplication signal (Lee et al. 2022,
    'Deduplicating Training Data Makes Language Models Better'): every
    8-token SLIDING window of every document is checked against the
    rest of the corpus; a window is shared when any other document
    contains the same window verbatim. Finer-grained than
    q_paragraph_dedup (disjoint chunks) and within-corpus rather than
    corpus-vs-benchmark (q_decontaminate_*): this is the signal that
    catches quoted blocks and templated boilerplate that whole-doc and
    chunk dedup both miss.

    Output per document (>= 8 tokens): window count, shared-window
    count, shared fraction -- the threshold signal for a curation pass
    (full suffix-array substring removal is the offline extreme; the
    windowed form is the shuffle-friendly streaming equivalent).

    Scale shape: windows are distinct-within-doc arrays built map-side
    (aligned-slice zips, no per-index lambdas), ONE shuffle keyed by
    window for the document-frequency count -- count(*) == distinct
    doc count because windows are deduped within each doc -- and one
    join back + per-doc rollup. At 100 TB, hash the window strings to
    64-bit (xxhash64) before the shuffle to cut key bytes ~10x."""
    docs = load_table(spark, sf_dir, "documents")
    ex = _shingle_arrays(docs, n=SUBSTRING_WINDOW_N).select(
        "doc_id", F.explode("sh").alias("w")
    )
    dfw = ex.groupBy("w").agg(F.count(F.lit(1)).alias("nd"))
    return (
        ex.join(dfw, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_shared_windows"),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_shared_windows",
            F.round(
                F.col("n_shared_windows").cast("double") / F.col("n_windows"), 6
            ).alias("shared_window_frac"),
        )
        .orderBy("doc_id")
    )


_SUBSTR_CONCAT = " || ' ' || ".join(
    f"toks[i+{k}]" for k in range(SUBSTRING_WINDOW_N)
)

def _dedup_recall_audit_oracle() -> str:
    """Exact-pairs LEFT JOIN lsh-pairs over the two embedded
    sub-oracles; string bands; bigint counts."""
    return f"""
        WITH ex AS ({{EXACT}}),
        got AS ({{LSH}}),
        j AS (
          SELECT CASE WHEN ex.jaccard >= 0.9 THEN 'j_0.90_plus'
                      ELSE 'j_0.80_0.90' END AS band,
                 CASE WHEN g.d1 IS NOT NULL THEN 1 ELSE 0 END AS hit
          FROM ex LEFT JOIN got g ON ex.d1 = g.d1 AND ex.d2 = g.d2)
        SELECT band, count(*) AS n_exact,
               CAST(sum(hit) AS BIGINT) AS n_found,
               round(CAST(sum(hit) AS DOUBLE) / count(*), 6) AS recall
        FROM j GROUP BY band ORDER BY band
    """


DEDUP_ORACLES["q_dedup_substring_windows"] = f"""
    WITH sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(toks) - {SUBSTRING_WINDOW_N - 1}, 0)),
               i -> {_SUBSTR_CONCAT}))) AS w
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
            FROM documents)),
    dfw AS (SELECT w, count(*) AS nd FROM sh GROUP BY 1),
    per AS (
      SELECT doc_id, count(*) AS n_windows,
             sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS n_shared
      FROM sh JOIN dfw USING (w) GROUP BY 1)
    SELECT doc_id,
           CAST(n_windows AS BIGINT) AS n_windows,
           CAST(n_shared AS BIGINT) AS n_shared_windows,
           round(CAST(n_shared AS DOUBLE) / n_windows, 6)
             AS shared_window_frac
    FROM per ORDER BY doc_id
"""

DEDUP_ORACLES["q_dedup_recall_audit"] = (
    _dedup_recall_audit_oracle()
    .replace("{EXACT}", DEDUP_ORACLES["q_dedup_ngram_jaccard"])
    .replace("{LSH}", DEDUP_ORACLES["q_dedup_minhash_lsh"])
)


def q_dedup_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall self-audit of the MinHash-LSH near-dup index against the
    exact n-gram-Jaccard ground truth -- the dedup twin of
    q_ann_recall_audit: per similarity band, how many of the TRUE
    near-dup pairs the banded index surfaced. This is the measurement
    a pipeline runs before trusting a probabilistic dedup pass at
    corpus scale (the analytic banding miss bound, <= 3e-4 per pair at
    j >= 0.8 under the contractual 8x2 geometry, predicts recall 1.0
    here -- the audit CONFIRMS it on data instead of assuming it).

    Pure composition of two existing oracle-checked operators: exact
    pairs LEFT JOIN lsh pairs on the (d1, d2) key, string similarity
    bands (no float bucketing arithmetic to diverge on), one tiny
    aggregate. Adds one pair-keyed join on top of passes the pipeline
    already runs; at scale both inputs are the banded/DF-capped
    constructions, never all-pairs."""
    exact = q_dedup_ngram_jaccard(spark, sf_dir).select("d1", "d2", "jaccard")
    found = q_dedup_minhash_lsh(spark, sf_dir).select(
        F.col("d1").alias("f1"), F.col("d2").alias("f2"), F.lit(1).alias("hit")
    )
    band = F.when(F.col("jaccard") >= 0.9, F.lit("j_0.90_plus")).otherwise(
        F.lit("j_0.80_0.90")
    )
    joined = exact.join(
        found,
        (F.col("d1") == F.col("f1")) & (F.col("d2") == F.col("f2")),
        "left",
    )
    return (
        joined.groupBy(band.alias("band"))
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_found"),
        )
        .withColumn(
            "recall",
            F.round(F.col("n_found").cast("double") / F.col("n_exact"), 6),
        )
        .orderBy("band")
    )


DEDUP_QUERIES = {
    "q_dedup_exact": q_dedup_exact,
    "q_dedup_recall_audit": q_dedup_recall_audit,
    "q_dedup_substring_windows": q_dedup_substring_windows,
    "q_dedup_incremental": q_dedup_incremental,
    "q_dedup_incremental_near": q_dedup_incremental_near,
    "q_dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "q_dedup_containment": q_dedup_containment,
    "q_dedup_minhash_lsh": q_dedup_minhash_lsh,
    "q_dedup_simhash": q_dedup_simhash,
    "q_dedup_embedding_cosine": q_dedup_embedding_cosine,
    "q_dedup_embedding_lsh": q_dedup_embedding_lsh,
    "q_semantic_dedup": q_semantic_dedup,
    "q_dedup_quality_canonical": q_dedup_quality_canonical,
    "q_upsert_latest_wins": q_upsert_latest_wins,
    "q_dedup_prefix_filter": q_dedup_prefix_filter,
}

# prefix filtering is an exact algorithm for the same answer: the
# oracle is the inverted-index oracle verbatim (different plan, same
# bytes -- the strongest cross-check two implementations can share)
DEDUP_ORACLES["q_dedup_prefix_filter"] = DEDUP_ORACLES["q_dedup_ngram_jaccard"]


# ---- Near-dup rate by source pair (round 7) ----


def q_neardup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate ATTRIBUTION: the LSH near-dup pairs aggregated
    into a source-pair matrix -- within-source pairs reveal template
    farms, cross-source pairs reveal mirror/scrape overlap (the
    decision input for "dedup within or across sources?"). Consumes
    the exact same minhash_lsh_pairs plan as q_dedup_minhash_lsh plus
    one doc->source attribution join per side.

    The pair rate denominator is per-source doc counts (broadcast),
    reported as pairs per million doc-pairs of that source
    combination (n_a*n_b cross pairs, C(n,2) within) -- exact integer
    arithmetic, one final division.

    RECALL ASSUMPTION (ADVICE r7, same posture as
    q_node_jaccard_minhash): the Spark side generates candidates via
    banded LSH (~3e-4 per-pair miss probability near the Jaccard
    threshold, see minhash_lsh_pairs) while the DuckDB oracle
    enumerates pairs exactly from an inverted index; a single missed
    pair flips the aggregated count for BOTH rows of the affected
    source pair, so byte parity here inherits the LSH recall bound
    rather than being unconditional. Attested across the strict sweep
    and the r07 driver window with zero observed misses at sf<=0.1."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs)
    src = docs.select("doc_id", "source")
    attributed = (
        pairs.join(src.select(F.col("doc_id").alias("d1"),
                              F.col("source").alias("s1")), "d1")
        .join(src.select(F.col("doc_id").alias("d2"),
                         F.col("source").alias("s2")), "d2")
        .select(
            F.least("s1", "s2").alias("source_a"),
            F.greatest("s1", "s2").alias("source_b"),
        )
    )
    counts = attributed.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_pairs")
    )
    sizes = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    denom = F.when(
        F.col("source_a") == F.col("source_b"),
        (F.col("n_a") * (F.col("n_a") - 1) / 2).cast("long"),
    ).otherwise((F.col("n_a") * F.col("n_b")).cast("long"))
    return (
        counts.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_dup_pairs",
            denom.alias("n_possible_pairs"),
            F.round(
                F.col("n_dup_pairs").cast("double")
                * 1e6
                / denom.cast("double"),
                6,
            ).alias("dup_pairs_per_million"),
        )
        .orderBy("source_a", "source_b")
    )


DEDUP_QUERIES["q_neardup_rate_by_source"] = q_neardup_rate_by_source
DEDUP_ORACLES["q_neardup_rate_by_source"] = f"""
    WITH sh AS ({_SHINGLE_SQL}),
    sizes_sh AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT d1, d2 FROM inter
      JOIN sizes_sh s1 ON d1 = s1.doc_id
      JOIN sizes_sh s2 ON d2 = s2.doc_id
      WHERE round(inter * 1.0 / (s1.sz + s2.sz - inter), 6)
              >= {JACCARD_THRESHOLD}),
    attributed AS (
      SELECT least(da.source, db.source) AS source_a,
             greatest(da.source, db.source) AS source_b
      FROM pairs
      JOIN documents da ON da.doc_id = d1
      JOIN documents db ON db.doc_id = d2),
    counts AS (
      SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_dup_pairs
      FROM attributed GROUP BY 1, 2),
    sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n
              FROM documents GROUP BY 1)
    SELECT source_a, source_b, n_dup_pairs,
           CAST(CASE WHEN source_a = source_b
                     THEN sa.n * (sa.n - 1) / 2
                     ELSE sa.n * sb.n END AS BIGINT) AS n_possible_pairs,
           round(CAST(n_dup_pairs AS DOUBLE) * 1e6
                 / CAST(CASE WHEN source_a = source_b
                             THEN sa.n * (sa.n - 1) / 2
                             ELSE sa.n * sb.n END AS DOUBLE), 6)
             AS dup_pairs_per_million
    FROM counts
    JOIN sizes sa ON sa.source = source_a
    JOIN sizes sb ON sb.source = source_b
    ORDER BY source_a, source_b
"""


# ---- Duplicate-cluster size histogram (round 8) ----


def q_dup_cluster_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of exact-duplicate cluster sizes: for each cluster
    size s (1 = unique), how many clusters and how many documents sit
    in clusters of that size, plus each size's share of the corpus --
    the one-page shape summary a dedup decision reads BEFORE running
    removal (a corpus whose duplicate mass sits in a few giant
    template clusters dedups very differently from one with millions
    of pairs: the former is a cheap top-cluster kill, the latter needs
    the full pipeline). Same md5-of-normalized-text fingerprint
    contract as q_dedup_exact, so the histogram explains exactly what
    that operator would do.

    Exact integers + one division; two map-side-combinable aggregates
    (corpus -> clusters -> sizes), output bounded by max cluster
    size."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")))
    clusters = (
        docs.select(fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).cast("long").alias("size"))
    )
    hist = clusters.groupBy("size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters")
    )
    total = docs.count()
    return hist.select(
        F.col("size").alias("cluster_size"),
        "n_clusters",
        (F.col("size") * F.col("n_clusters")).cast("long").alias("n_docs"),
        F.round(
            (F.col("size") * F.col("n_clusters")).cast("double")
            / F.lit(float(total)),
            6,
        ).alias("doc_share"),
    ).orderBy("cluster_size")


DEDUP_QUERIES["q_dup_cluster_size_hist"] = q_dup_cluster_size_hist
DEDUP_ORACLES["q_dup_cluster_size_hist"] = """
    WITH clusters AS (
      SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
               AS fingerprint,
             CAST(count(*) AS BIGINT) AS size
      FROM documents GROUP BY 1),
    hist AS (
      SELECT size, CAST(count(*) AS BIGINT) AS n_clusters
      FROM clusters GROUP BY 1)
    SELECT size AS cluster_size, n_clusters,
           CAST(size * n_clusters AS BIGINT) AS n_docs,
           round(CAST(size * n_clusters AS DOUBLE)
                 / (SELECT count(*) FROM documents), 6) AS doc_share
    FROM hist ORDER BY cluster_size
"""


# ---- MinHash estimator-error audit (round 8) ----

#: Signature width for the md5-based estimator audit (md5 so the
#: estimate itself is ORACLE-EXACT -- the graph-twin trick; the
#: production xxhash64 signatures of minhash_lsh_pairs estimate the
#: same quantity with the same variance law).
MINHASH_AUDIT_H = 16


def q_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-error audit of MinHash Jaccard ESTIMATION (distinct
    from the recall audits, which measure candidate GENERATION): over
    the exact near-dup pairs (j >= 0.8), compare the H-hash minhash
    estimate (matching signature components / H) against the exact
    shingle Jaccard -- the measured counterpart of the Var = j(1-j)/H
    binomial law a pipeline relies on when it thresholds on the
    ESTIMATE at scale instead of verifying exactly (the
    dedup-without-verify posture some 100 TB passes take). One summary
    row: n_pairs, mean estimate vs mean exact, mean/max absolute
    error.

    Oracle-exactness: signatures here are md5-derived (lexicographic
    min over fixed-width hex = numeric 128-bit min, bit-identical in
    DuckDB -- the q_node_jaccard_minhash trick), so the ESTIMATE
    itself reproduces exactly; the exact side is the registered
    inverted-index jaccard (including its DF cap). Means fold through
    round(.,9)-as-DECIMAL(28,9).

    Scale shape: signature build is one map + one H-min aggregate off
    the exploded shingle relation; the audit join runs on the
    (pairs x 1) frame."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _jaccard_pairs(_shingles(docs), JACCARD_THRESHOLD).select(
        "d1", "d2", "jaccard"
    )
    sh = _shingles(docs)
    base = F.md5(F.col("shingle"))
    sigs = sh.select("doc_id", base.alias("b")).groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("b")))).alias(f"h{i}")
            for i in range(MINHASH_AUDIT_H)
        ]
    )
    s1 = sigs.select(
        F.col("doc_id").alias("d1"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(MINHASH_AUDIT_H)],
    )
    s2 = sigs.select(
        F.col("doc_id").alias("d2"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(MINHASH_AUDIT_H)],
    )
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), F.lit(1)).otherwise(F.lit(0))
        for i in range(MINHASH_AUDIT_H)
    )
    est = matches.cast("double") / F.lit(float(MINHASH_AUDIT_H))
    per_pair = (
        pairs.join(s1, "d1")
        .join(s2, "d2")
        .select(
            F.round(est, 9).cast("decimal(28,9)").alias("e9"),
            F.round(F.col("jaccard"), 9).cast("decimal(28,9)").alias("j9"),
            F.round(F.abs(est - F.col("jaccard")), 9)
            .cast("decimal(28,9)")
            .alias("err9"),
        )
    )
    return per_pair.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(
            F.sum("e9").cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("mean_estimate"),
        F.round(
            F.sum("j9").cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("mean_exact"),
        F.round(
            F.sum("err9").cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("mean_abs_err"),
        F.round(F.max("err9").cast("double"), 6).alias("max_abs_err"),
    )


DEDUP_QUERIES["q_minhash_estimate_error"] = q_minhash_estimate_error
DEDUP_ORACLES["q_minhash_estimate_error"] = f"""
    WITH sh AS ({_SHINGLE_SQL}),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
    kept AS (SELECT doc_id, shingle FROM sh
             QUALIFY count(*) OVER (PARTITION BY shingle) <= {SHINGLE_DF_CAP}),
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
      FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT d1, d2,
             round(inter * 1.0 / (s1.sz + s2.sz - inter), 6) AS jaccard
      FROM inter
      JOIN sizes s1 ON d1 = s1.doc_id
      JOIN sizes s2 ON d2 = s2.doc_id
      WHERE round(inter * 1.0 / (s1.sz + s2.sz - inter), 6)
            >= {JACCARD_THRESHOLD}),
    sigs AS (
      SELECT doc_id,
             {", ".join(
        f"min(md5('{i}:' || md5(shingle))) AS h{i}"
        for i in range(MINHASH_AUDIT_H)
    )}
      FROM sh GROUP BY doc_id),
    per_pair AS (
      SELECT
        CAST(round(({" + ".join(
        f"CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END"
        for i in range(MINHASH_AUDIT_H)
    )}) * 1.0 / {MINHASH_AUDIT_H}, 9) AS DECIMAL(28,9)) AS e9,
        CAST(round(jaccard, 9) AS DECIMAL(28,9)) AS j9,
        CAST(round(abs(({" + ".join(
        f"CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END"
        for i in range(MINHASH_AUDIT_H)
    )}) * 1.0 / {MINHASH_AUDIT_H} - jaccard), 9) AS DECIMAL(28,9)) AS err9
      FROM pairs
      JOIN sigs a ON a.doc_id = pairs.d1
      JOIN sigs b ON b.doc_id = pairs.d2)
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           round(CAST(sum(e9) AS DOUBLE) / count(*), 6) AS mean_estimate,
           round(CAST(sum(j9) AS DOUBLE) / count(*), 6) AS mean_exact,
           round(CAST(sum(err9) AS DOUBLE) / count(*), 6) AS mean_abs_err,
           round(CAST(max(err9) AS DOUBLE), 6) AS max_abs_err
    FROM per_pair
"""
