"""Columnar table sinks -- Spark re-expression of the reference's
MergeTree target tables (S5/S6, generate_data.py:154-195):

    ENGINE = MergeTree()
    PARTITION BY toYYYYMM(event_time)   -> partitionBy(event_month)
    ORDER BY (event_time, product_id)   -> every file sorted by SORT_KEY
    index_granularity = 8192            -> parquet row-group stats (free)

The sort key matters at 100 TB: parquet row-group min/max stats on
event_time give the same granule-skipping the MergeTree sparse index
provides, so time-range serving queries touch only matching row groups.
Every file the batch sink, compaction and ``overwrite_partitions``
publish is in ``SORT_KEY`` order (nulls first).

Every streaming write goes through commit.py's staged-commit protocol
(``idempotent_batch_writer``), so a replayed micro-batch is a no-op on
any filesystem commit.py routes to. Small-file problem (SURVEY.md
section 4): ``prepare_batch`` bounds each write to ``target_files``
files per month partition, in one Spark stage when the batch is
already that small, and ``compact_partitions`` rewrites crowded month
partitions. ``compact_partitions`` and ``overwrite_partitions`` (a
backfill: ClickHouse's DROP PARTITION plus a re-insert) replace month
partitions through one staged commit, ``_replace_partitions``, whose
single ``_compactions`` marker decides which files readers see.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import to_yyyymm

#: Sort key of both target tables (generate_data.py:172,193).
SORT_KEY = ("event_time", "product_id")


def with_partition_column(df: DataFrame) -> DataFrame:
    """Derive the toYYYYMM partition column (generate_data.py:171,192).
    Null event_time rows land in a null partition, matching ClickHouse's
    behavior of keeping unparseable-time rows (SURVEY.md section 2.8)."""
    return df.withColumn("event_month", to_yyyymm(F.col("event_time")))


def prepare_batch(df: DataFrame, target_files: int = 4) -> DataFrame:
    """One micro-batch -> partition-column'd frame of at most
    ``target_files`` partitions, each sorted by ``event_month`` then the
    MergeTree sort key: one Spark stage from scan to write.

    The partition count is read from the plan, which starts no job. A
    batch already at or below ``target_files`` partitions keeps its
    splits: a round-robin shuffle would only add an exchange and a
    second job per micro-batch (a ~2.5k-row batch of 1-2 files paid a
    1.4 MB shuffle and 4 files per month). A larger batch is
    repartitioned to bound the files it writes; coalescing it instead
    runs the whole upstream parse in ``target_files`` tasks (140k sales
    lines in 4 splits, ``target_files=1``, ``local[4]``: median write
    1.38 s with the repartition, 1.76 s with ``coalesce``). A
    frame whose plan already holds an exchange (an aggregate handed to
    ``overwrite_partitions``) is repartitioned as well: counting its
    partitions would run that exchange (AQE materializes its stages).

    The sort leads with ``event_month`` so it already meets the
    ordering that ``partitionBy("event_month")`` requires: Spark then
    plans no sort of its own, which would replace this one and leave
    the files out of ``SORT_KEY`` order.
    """
    df = with_partition_column(df)
    # one planning serves both reads; the RDD is built, never run
    qe = df._jdf.queryExecution()
    if "Exchange" in qe.executedPlan().toString() or qe.toRdd().getNumPartitions() > target_files:
        df = df.repartition(target_files)
    return df.sortWithinPartitions("event_month", *SORT_KEY)


def idempotent_batch_writer(path: str, target_files: int = 4):
    """Effectively-once foreachBatch writer for a month-partitioned
    table: each batch is staged with ``partitionBy(event_month)`` and
    published by commit.staged_foreach_batch (replayed batch -> no-op,
    crashed attempt swept, one commit marker on ``path``)."""
    from .commit import staged_foreach_batch

    def _body(batch_df: DataFrame, batch_id: int, staging: dict) -> None:
        write_batch_to_table(batch_df, staging[path], target_files)

    return staged_foreach_batch(path, [path], _body)


def write_batch_to_table(df: DataFrame, path: str, target_files: int = 4) -> None:
    """Write ``df`` in the table layout (event_month partitions, sorted
    files): the one write chain of the batch sink, compaction and
    backfills."""
    (
        prepare_batch(df, target_files)
        .write.mode("overwrite")
        .partitionBy("event_month")
        .parquet(path)
    )


#: Partition-replace marker directory (per table), sibling of the batch
#: writers' ``_commits``: one JSON marker per committed compaction or
#: ``overwrite_partitions``, holding the per-partition {new, old}
#: file-name manifest.
_COMPACTIONS_DIR = "_compactions"

_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _compaction_id_of(name: str):
    """Compaction id from a ``c{cid}-...`` file name, else None."""
    import re

    m = re.match(r"^c(\d+)-", name)
    return int(m.group(1)) if m else None


def _committed_compactions(path: str) -> dict[int, dict]:
    """cid -> per-partition {new, old} manifest for every committed
    ``_compactions`` marker (scheme-routed through commit._backend). A
    marker that is not ``{"v": 1, "partitions": {...}}`` raises
    ``ValueError`` naming the marker file.

    Enumeration is by sequential GET-probe (``_compactions/0``, ``1``,
    ... until the first miss), NEVER by directory listing: on an
    object store a LIST can lag a PUT, and a reader that enumerated
    markers with listdir would miss a just-committed replace whose
    OLD files have already been garbage-collected -- an empty-
    partition window. exists() is GET-consistent, and cids are gapless
    by construction (the next cid is max committed + 1, assigned only
    at marker-write time under the single-maintenance-job invariant),
    so the probe sees every committed marker immediately."""
    import json

    from . import commit

    fs, p = commit._backend(path)
    out: dict[int, dict] = {}
    while fs.exists(marker := fs.join(p, _COMPACTIONS_DIR, str(len(out)))):
        try:
            doc = json.loads(fs.read_text(marker))
        except ValueError:
            doc = None
        parts = doc.get("partitions") if isinstance(doc, dict) and doc.get("v") == 1 else None
        if not isinstance(parts, dict):
            raise ValueError(f"compaction marker {marker!r} is not a v1 manifest")
        out[len(out)] = parts
    return out


def live_partition_files(path: str, marker_dir: str | None = None) -> dict[str, list[str]]:
    """Partition dir name -> the LIVE parquet file names, resolved
    marker-first (the reader side of the batch and partition-replace
    protocols):

    - a ``b{id}-*`` file is live only when its batch has a
      ``_commits/{id}`` marker under ``marker_dir`` (default ``path``;
      the multiplexed stock table's markers are on the sales table): a
      batch published but not yet marked stays invisible until its
      replay commits it, as in ``commit.read_state``.

    - ``c{cid}-*`` files NEVER resolve via the listing, ONLY via a
      committed manifest's ``new`` set: an unmanifested c-file is by
      definition the leftover of a crashed, uncommitted publish
      attempt (a replay re-publishes under fresh staged names, so a
      crashed attempt's files are never in any manifest) -- invisible,
      swept by the next replace.
    - files named ``old`` in any committed manifest are superseded
      (deletion is garbage collection, not a visibility event):
      invisible even while still present.
    - files named ``new`` in a committed manifest are live BY NAME
      (GET-consistent), never dependent on a directory listing -- on
      an object store a LIST can lag the PUTs (s3a list-after-write),
      and a reader globbing in that window would see a committed
      replace as an empty partition.

    So at every crash point of a partition replace a reader sees each
    partition's rows exactly once: the old files until the marker
    commits, the new files after, never both, never neither."""
    from collections import defaultdict

    from . import commit

    fs, p = commit._backend(path)
    committed = {f"b{i}" for i in commit._committed_ids(marker_dir or path)}
    manifests = _committed_compactions(path)
    new_by_part: dict[str, set] = defaultdict(set)
    old_by_part: dict[str, set] = defaultdict(set)
    for man in manifests.values():
        for part, rec in man.items():
            new_by_part[part].update(rec["new"])
            old_by_part[part].update(rec["old"])
    out: dict[str, list[str]] = {}
    parts = {
        fs.basename(d) for d in fs.glob(fs.join(p, "event_month=*"))
    } | set(new_by_part)
    for part in parts:
        listed = {
            fs.basename(f)
            for f in fs.glob(fs.join(p, part, "*.parquet"))
        }
        batches = {n: commit._BATCH_FILE.match(n) for n in listed}
        visible = {
            n for n, m in batches.items()
            if _compaction_id_of(n) is None and (m is None or m.group(1) in committed)
        }
        live = (visible | new_by_part[part]) - old_by_part[part]
        if live:
            out[part] = sorted(live)
    return out


def _read_files(spark, path: str, files: dict[str, list[str]]) -> DataFrame:
    """Read the named files of ``path`` (partition dir -> file names)
    with basePath, so ``event_month`` still derives from the
    directory names."""
    from . import commit

    fs, p = commit._backend(path, spark=spark)
    return spark.read.option("basePath", path).parquet(
        *(fs.join(p, part, name) for part, names in sorted(files.items()) for name in names)
    )


def read_table(spark, path: str, marker_dir: str | None = None) -> DataFrame:
    """Marker-aware table reader: the live file set from
    live_partition_files (committed batches only; ``marker_dir`` as
    there). A table with no live file reads as no rows (a missing
    ``path`` keeps Spark's ``PATH_NOT_FOUND``). A plain
    ``spark.read.parquet(path)`` sees the identical rows whenever no
    batch is pending its marker and no partition replace is
    mid-flight or pending GC; this reader sees exactly-once rows
    ALWAYS (the lag_fs compaction test pins it at every crash
    point)."""
    live = live_partition_files(path, marker_dir)
    if not live:
        return spark.read.parquet(path).limit(0)
    return _read_files(spark, path, live)


def _gc_superseded(path: str) -> None:
    """Delete files superseded by committed replaces (idempotent --
    deletion is pure garbage collection; visibility flipped at marker
    time)."""
    from . import commit

    fs, p = commit._backend(path)
    for man in _committed_compactions(path).values():
        for part, rec in man.items():
            for name in rec["old"]:
                f = fs.join(p, part, name)
                if fs.exists(f):
                    fs.remove(f)


def _replace_partitions(spark, path: str, build, target_files: int, marker_dir: str | None) -> list[str]:
    """The one month-partition replace of a table, shared by
    compact_partitions and overwrite_partitions. ``build(live)`` gets
    the live file names per partition and returns the replacement rows
    (or None: nothing to do); every month those rows hold is replaced,
    every other month is untouched. Returns the replaced month values.
    The sequence follows staged_foreach_batch's staging -> publish ->
    ONE marker -> GC, with every path operation on commit.py's
    scheme-routed backend:

      1. DETACH-FIRST CHECKED INVARIANT: a non-replace entry under
         ``_staging`` means a batch writer is in flight (or crashed
         mid-batch, which only its own replay may clean) -- refuse to
         run. Crashed replace stagings (``compact-*``) are ours and
         are swept.
      2. sweep ``c{cid}-*`` files whose marker is absent (a replace
         that crashed between publish and marker).
      3. finish pending GC of earlier committed replaces.
      4. stage ``build(live)`` to ``_staging/compact-{cid}`` in the
         table layout (write_batch_to_table).
      5. publish each staged month's files into its partition dir
         under ``c{cid}-`` names (invisible to readers: no marker yet).
      6. ONE ``_compactions/{cid}`` marker records, per month, the new
         file names and the live file names they supersede -- readers
         flip from old to new atomically with this single PUT.
      7. GC the superseded files and the staging dir."""
    import json

    from . import commit

    fs, p = commit._backend(path, spark=spark)
    # 1. checked detach-first invariant
    staging_root = fs.join(p, "_staging")
    if fs.isdir(staging_root):
        for entry in fs.listdir(staging_root):
            if entry.startswith("compact-"):
                fs.rmtree(fs.join(staging_root, entry))
            else:
                raise RuntimeError(
                    f"batch-writer staging {entry!r} present under "
                    f"{staging_root!r}: a writer is attached or crashed "
                    "mid-batch; DETACH (and let its replay clean up) "
                    "before replacing partitions"
                )
    manifests = _committed_compactions(path)
    manifested: set[tuple[str, str]] = {
        (part, name)
        for man in manifests.values()
        for part, rec in man.items()
        for name in rec["new"]
    }
    # 2. sweep orphan c-files (a publish that crashed before its
    # marker; replays re-publish under fresh staged names, so any
    # c-file not in a committed manifest's new set is dead)
    for d in fs.glob(fs.join(p, "event_month=*")):
        part = fs.basename(d)
        for f in fs.glob(fs.join(d, "c*.parquet")):
            name = fs.basename(f)
            if _compaction_id_of(name) is not None and (
                (part, name) not in manifested
            ):
                fs.remove(f)
    # 3. finish any pending GC
    _gc_superseded(path)
    # 4. stage the replacement rows
    live = live_partition_files(path, marker_dir)
    rows = build(live)
    if rows is None:
        return []
    cid = max(manifests, default=-1) + 1
    staging = fs.join(staging_root, f"compact-{cid}")
    write_batch_to_table(rows, staging, target_files)
    # 5. publish under c{cid}- names (no marker yet: invisible)
    manifest: dict[str, dict] = {}
    for d in sorted(fs.glob(fs.join(staging, "event_month=*"))):
        part = fs.basename(d)
        fs.makedirs(fs.join(p, part))
        new_names = []
        for f in fs.glob(fs.join(d, "*.parquet")):
            name = f"c{cid}-{fs.basename(f)}"
            fs.move(f, fs.join(p, part, name))
            new_names.append(name)
        manifest[part] = {"new": sorted(new_names), "old": live.get(part, [])}
    # 6. ONE marker: the visibility flip
    fs.makedirs(fs.join(p, _COMPACTIONS_DIR))
    fs.write_text(
        fs.join(p, _COMPACTIONS_DIR, str(cid)),
        json.dumps({"v": 1, "partitions": manifest}),
    )
    # 7. GC superseded files + staging
    _gc_superseded(path)
    fs.rmtree(staging)
    return [part.split("=", 1)[1] for part in manifest]


def compact_partitions(
    spark,
    path: str,
    max_files_per_partition: int = 8,
    target_files: int = 4,
    marker_dir: str | None = None,
) -> list[str]:
    """Periodic small-file compaction -- the Delta ``OPTIMIZE`` stand-in
    promised in the module docstring. Month partitions whose LIVE
    parquet file count exceeds ``max_files_per_partition`` are
    rewritten from exactly those live files to ``target_files`` sorted
    files through _replace_partitions; every other partition is
    untouched. Returns the compacted month values. ``marker_dir``
    holds the batch markers, as in ``live_partition_files``.

    At 100 TB this runs as a scheduled maintenance job per table:
    streaming appends keep latency low with small per-batch files, the
    compactor restores scan efficiency (row-group stats + fewer file
    opens). Readers that need consistency DURING compaction use
    read_table (manifest-resolved); a plain directory read is
    identical outside the marker->GC window. A real deployment gets
    the same sequence from a table format (Delta/Iceberg); the job
    shape -- and the manifest-gated visibility -- is identical.

    The null-month partition (unparseable event_time rows,
    ``__HIVE_DEFAULT_PARTITION__``) is deliberately skipped: its rows
    are a diagnostic stash, not a scan target, and event_month cannot
    be re-derived for them (null event_time).
    """

    def crowded(live: dict[str, list[str]]):
        files = {part: names for part, names in live.items() if len(names) > max_files_per_partition}
        files.pop(f"event_month={_NULL_PARTITION}", None)
        return _read_files(spark, path, files).drop("event_month") if files else None

    return _replace_partitions(spark, path, crowded, target_files, marker_dir)


def overwrite_partitions(
    df: DataFrame, path: str, target_files: int = 4, marker_dir: str | None = None
) -> None:
    """Reprocess late/corrected data at partition granularity: the
    month partitions present in ``df`` are replaced by its rows; all
    other partitions are untouched -- the ClickHouse DROP PARTITION +
    re-insert pattern, and the right backfill primitive at 100 TB
    where a full-table rewrite is unthinkable. Commits through
    _replace_partitions, like compaction: the same detach-first
    precondition and one ``_compactions`` marker. ``marker_dir`` holds
    the batch markers, as in ``live_partition_files``."""
    _replace_partitions(df.sparkSession, path, lambda live: df, target_files, marker_dir)
