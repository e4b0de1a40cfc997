"""Staged-commit publish protocol shared by every state-store writer
(incremental dedup exact + near-dup, heavy hitters, KMV distinct,
funnel, drift, mixture): write each batch output into a
``_staging/<batch_id>`` directory, atomically publish the parquet
files into the destination under batch-id-prefixed names, then drop a
commit marker. Replayed batch ids are no-ops; half-published files
from a crashed attempt are named by batch id and swept before
re-publish, so the whole sequence is effectively-once on top of
Structured Streaming's at-least-once foreachBatch.

``staged_foreach_batch`` is the one enforced sequence (VERDICT r4 #8):
replay check -> sweep BEFORE the batch body reads any destination ->
body writes stagings -> publish all -> single marker -> clean. The
sweep-before-read ordering is the ADVICE r3 crash-window fix (a crash
between publish and marker must not let the replay read its own
half-published index files); centralizing it here means no writer can
re-introduce the bug by reordering its own copy of the calls.
``state_writer`` is that sequence for the one-destination state
tables.

READERS see committed output and nothing else. ``read_latest_state``
(replace-style states: heavy hitters, KMV, funnel) reads the files the
latest marker's manifest names. ``read_state`` (append-style states:
drift, mixture, both dedup indexes) reads the whole directory minus
every ``b{id}-*`` file whose batch has no ``_commits/{id}`` marker, so
a batch published but not yet marked stays invisible until its
replay commits it.

FILESYSTEM ROUTING (VERDICT r6 #8, upgrading the ADVICE r4
local-filesystem contract): every path operation routes through a
backend chosen by URI scheme. Plain paths and ``file:`` URIs use the
POSIX backend (``os``/``glob``/``shutil`` -- byte-identical to the
original protocol); any other scheme (``s3a://``, ``hdfs://``,
``abfss://``...) uses the Hadoop FileSystem API through the active
SparkSession's JVM gateway, so the staged-commit protocol works
against the same object store Spark writes the parquet to. One
caveat carries over from Hadoop semantics: ``rename`` on S3 is a
copy+delete, not atomic -- the protocol stays correct because
visibility is gated on the single commit MARKER, never on the
renamed data files (a crash mid-publish is re-swept by batch-id
prefix on replay), but publish latency on object stores is O(bytes),
not O(1).

LAYOUTS: staging holds flat parquet files (state writers) or one
level of Hive ``key=value`` directories (the month-partitioned MV
table sink): ``event_month=X/part-*.parquet`` publishes as
``event_month=X/b{batch_id}-part-*.parquet``, the sweep covers both
levels, and the manifest names files relative to the destination.
"""
from __future__ import annotations

import glob
import json
import os
import posixpath
import re
import shutil
from typing import Callable, Sequence
from urllib.parse import urlparse


class _LocalBackend:
    """POSIX filesystem operations -- the original protocol verbatim."""

    def join(self, *parts: str) -> str:
        return os.path.join(*parts)

    def basename(self, path: str) -> str:
        return os.path.basename(path)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def listdir(self, path: str) -> list[str]:
        return os.listdir(path)

    def glob(self, pattern: str) -> list[str]:
        return glob.glob(pattern)

    def remove(self, path: str) -> None:
        os.remove(path)

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def move(self, src: str, dst: str) -> None:
        shutil.move(src, dst)

    def write_text(self, path: str, text: str) -> None:
        with open(path, "w") as fh:
            fh.write(text)

    def read_text(self, path: str) -> str:
        with open(path) as fh:
            return fh.read()

    def rmtree(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)


class _HadoopBackend:
    """Hadoop FileSystem operations via the active SparkSession's JVM
    gateway -- used for non-local schemes (s3a://, hdfs://, ...). Needs
    an active session because the Hadoop conf (credentials, endpoints)
    lives there; state-store writers always run inside one."""

    def __init__(self, uri: str, spark=None):
        if spark is None:
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
            if spark is None:
                raise RuntimeError(
                    f"remote state path {uri!r} needs an active "
                    "SparkSession for the Hadoop FileSystem API"
                )
        self._jvm = spark._jvm
        self._jpath = self._jvm.org.apache.hadoop.fs.Path
        self._fs = self._jpath(uri).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )

    def join(self, *parts: str) -> str:
        return posixpath.join(*parts)

    def basename(self, path: str) -> str:
        return posixpath.basename(path.rstrip("/"))

    def exists(self, path: str) -> bool:
        return self._fs.exists(self._jpath(path))

    def isdir(self, path: str) -> bool:
        p = self._jpath(path)
        return self._fs.exists(p) and self._fs.getFileStatus(p).isDirectory()

    def listdir(self, path: str) -> list[str]:
        return [
            s.getPath().getName()
            for s in self._fs.listStatus(self._jpath(path))
        ]

    def glob(self, pattern: str) -> list[str]:
        statuses = self._fs.globStatus(self._jpath(pattern))
        if statuses is None:
            return []
        return [s.getPath().toString() for s in statuses]

    def remove(self, path: str) -> None:
        # delete() returning false with the file still present means the
        # sweep failed (permissions, concurrent writer); a swallowed
        # failure here lets a replay read a half-published file.
        if not self._fs.delete(self._jpath(path), False) and self._fs.exists(
            self._jpath(path)
        ):
            raise IOError(f"Hadoop delete failed for {path!r}")

    def makedirs(self, path: str) -> None:
        # Hadoop FileSystem reports most failures via a false return,
        # not an exception (ADVICE r7); mkdirs is true if the dir now
        # exists, so a plain false is always a real failure.
        if not self._fs.mkdirs(self._jpath(path)):
            raise IOError(f"Hadoop mkdirs failed for {path!r}")

    def move(self, src: str, dst: str) -> None:
        # rename() returns false (no exception) when src is missing,
        # dst exists, or dst's parent is missing -- e.g. a zombie-driver
        # race (ADVICE r7). Swallowing it would let write_marker commit
        # a batch whose data files never landed; raise so publish_staged
        # aborts before the marker.
        if not self._fs.rename(self._jpath(src), self._jpath(dst)):
            raise IOError(f"Hadoop rename failed: {src!r} -> {dst!r}")

    def write_text(self, path: str, text: str) -> None:
        out = self._fs.create(self._jpath(path), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    def read_text(self, path: str) -> str:
        stream = self._fs.open(self._jpath(path))
        try:
            # commons-io ships with Hadoop; toString drains the
            # FSDataInputStream without a Python-side read loop
            return self._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()

    def rmtree(self, path: str) -> None:
        self._fs.delete(self._jpath(path), True)


def _backend(path: str, spark=None):
    """Route by URI scheme: plain paths / file: -> POSIX, anything
    else -> Hadoop FileSystem. Single-char schemes (C:) are Windows
    drive letters, not URIs."""
    scheme = urlparse(path).scheme
    if scheme in ("", "file") or len(scheme) == 1:
        if scheme == "file":  # Hadoop-style file:/x or file:///x URI
            return _LocalBackend(), urlparse(path).path
        return _LocalBackend(), path
    return _HadoopBackend(path, spark=spark), path


def marker_path(out_path: str, batch_id: int) -> str:
    fs, p = _backend(out_path)
    return fs.join(p, "_commits", str(batch_id))


def already_committed(out_path: str, batch_id: int) -> bool:
    fs, p = _backend(out_path)
    return fs.exists(fs.join(p, "_commits", str(batch_id)))


def sweep_uncommitted(batch_id: int, *dest_dirs: str) -> None:
    """Remove ``b{batch_id}-*`` files from every destination directory.

    MUST run at the top of a replayed batch (commit marker absent),
    BEFORE the batch reads any of those directories: a crash between
    ``publish_staged`` and ``write_marker`` leaves the batch's own
    half-published files visible, and an incremental-dedup replay that
    reads its own published index entries would classify every batch
    document as a historical duplicate and silently drop the batch.
    Any ``b{batch_id}-*`` file seen while the marker is absent is by
    definition a leftover of a crashed uncommitted attempt, so sweeping
    is always safe."""
    for dest_dir in dest_dirs:
        fs, p = _backend(dest_dir)
        for stale in _batch_files(fs, p, batch_id):
            fs.remove(stale)


def _batch_files(fs, root: str, batch_id: int) -> list[str]:
    """``b{batch_id}-*`` files in ``root`` and its ``key=value`` dirs."""
    pattern = f"b{batch_id}-*"
    return fs.glob(fs.join(root, pattern)) + fs.glob(fs.join(root, "*=*", pattern))


#: Spark names every file of one write job ``part-<task>-<job uuid>...``;
#: dropping the per-job uuid makes a replay publish the same names as
#: the crashed attempt it replaces.
_JOB_UUID = re.compile(r"-[0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12}")


#: Published state files are ``b{batch_id}-<staged name>``.
_BATCH_FILE = re.compile(r"(b\d+)-")


def publish_staged(staging: str, dest_dir: str, batch_id: int) -> list[str]:
    """Move a staging directory's parquet files (flat, or one level of
    ``key=value`` partition directories) into ``dest_dir`` under
    batch-id-prefixed names, sweeping any half-published files from a
    previous crashed attempt of the same batch first. Returns the
    published names relative to ``dest_dir`` -- the marker manifest
    (write_marker) records them so readers never depend on a listing
    (object-store list-after-write lag; see read_latest_state)."""
    fs, dest = _backend(dest_dir)
    sfs, stag = _backend(staging)
    # Hadoop rename cannot cross filesystems (it returns false --
    # silently, per the boolean-return contract above), so a staging
    # dir on a different scheme/authority than its destination must
    # fail loudly (ADVICE r7). staged_foreach_batch always derives
    # staging from dest, so this only fires for hand-rolled callers.
    def _fs_identity(path: str, backend) -> tuple:
        if isinstance(backend, _LocalBackend):
            return ("local",)
        u = urlparse(path)
        return (u.scheme, u.netloc)

    if _fs_identity(dest_dir, fs) != _fs_identity(staging, sfs):
        raise ValueError(
            f"staging {staging!r} and destination {dest_dir!r} resolve to "
            "different filesystems; staged publish requires a same-"
            "filesystem rename (copy across backends is not implemented)"
        )
    for stale in _batch_files(fs, dest, batch_id):
        fs.remove(stale)
    published: list[str] = []
    parts = [sfs.basename(d) for d in sfs.glob(sfs.join(stag, "*=*"))]
    for part in [""] + parts:
        fs.makedirs(fs.join(dest, part))
        for f in sfs.glob(sfs.join(stag, part, "*.parquet")):
            name = posixpath.join(
                part, f"b{batch_id}-{_JOB_UUID.sub('', sfs.basename(f), 1)}"
            )
            fs.move(f, fs.join(dest, name))
            published.append(name)
    return published


def write_marker(
    out_path: str, batch_id: int, manifest: dict[str, list[str]]
) -> None:
    """Drop the commit marker, recording ``manifest`` (dest dir ->
    published file names, from publish_staged) IN it so state readers
    can resolve the batch's files by exact path instead of listing the
    directory: on object stores a LIST can lag a PUT (s3a
    list-after-write), and a reader that globs right after the marker
    appears could see a committed batch as empty. GET-after-PUT of the
    named files is consistent, so the manifest closes that window."""
    fs, p = _backend(out_path)
    commits = fs.join(p, "_commits")
    fs.makedirs(commits)
    fs.write_text(
        fs.join(commits, str(batch_id)), json.dumps({"v": 2, "files": manifest})
    )


def read_marker_manifest(
    marker_dir: str, batch_id: int
) -> dict[str, list[str]] | None:
    """The dest-dir -> published-file-names manifest recorded in a
    commit marker, or None when the marker is absent. A marker that is
    not a v2 manifest raises ``ValueError`` naming the marker file."""
    fs, p = _backend(marker_dir)
    path = fs.join(p, "_commits", str(batch_id))
    if not fs.exists(path):
        return None
    try:
        doc = json.loads(fs.read_text(path))
    except ValueError:
        doc = None
    files = doc.get("files") if isinstance(doc, dict) and doc.get("v") == 2 else None
    if not isinstance(files, dict):
        raise ValueError(f"commit marker {path!r} is not a v2 manifest")
    return {k.rstrip("/"): v for k, v in files.items()}


def clean_staging(*staging_dirs: str) -> None:
    for staging in staging_dirs:
        fs, p = _backend(staging)
        # staging layout is <dest>/_staging/<batch_id>; drop _staging
        fs.rmtree(posixpath.dirname(p.rstrip("/")) if "://" in staging
                  else os.path.dirname(p))


def staged_foreach_batch(
    marker_dir: str,
    dest_dirs: Sequence[str],
    body: Callable,
):
    """The one staged-commit sequence, as a foreachBatch wrapper.

    ``body(batch_df, batch_id, staging)`` receives a dict mapping each
    destination directory to its per-batch staging directory and must
    write every output (plain ``df.write.parquet(staging[dest])``, one
    write job per staging directory) into those; it may freely read
    the destination directories (the crashed-attempt sweep has
    already run) and read back its own
    staging output (the dual-dir dedup writers derive the index from
    the staged survivors). The wrapper enforces, in order: replayed
    batch -> no-op; sweep ``b{batch_id}-*`` leftovers from every
    destination BEFORE the body runs; publish every staging; ONE
    commit marker on ``marker_dir``; clean staging dirs. ``marker_dir``
    must be one of ``dest_dirs`` (the marker names the whole batch)."""
    dest_dirs = list(dest_dirs)
    assert marker_dir in dest_dirs, (marker_dir, dest_dirs)

    def _write(batch_df, batch_id: int) -> None:
        if already_committed(marker_dir, batch_id):
            return
        sweep_uncommitted(batch_id, *dest_dirs)
        staging = {
            d: os.path.join(d, "_staging", str(batch_id)) for d in dest_dirs
        }
        body(batch_df, batch_id, staging)
        manifest = {
            d.rstrip("/"): publish_staged(staging[d], d, batch_id)
            for d in dest_dirs
        }
        write_marker(marker_dir, batch_id, manifest)
        clean_staging(*staging.values())

    return _write


def state_writer(state_path: str, build: Callable):
    """foreachBatch function for a one-destination state table: stage
    ``build(batch_df)`` as one file and publish it through
    staged_foreach_batch. ``build`` may read the state itself (the
    crashed-attempt sweep has already run)."""

    def _body(batch_df, batch_id: int, staging: dict) -> None:
        build(batch_df).repartition(1).write.mode("overwrite").parquet(
            staging[state_path]
        )

    return staged_foreach_batch(state_path, [state_path], _body)


def _committed_ids(marker_dir: str) -> set[int]:
    """Batch ids with a marker under ``marker_dir`` (one LIST)."""
    fs, p = _backend(marker_dir)
    commits = fs.join(p, "_commits")
    if not fs.isdir(commits):
        return set()
    return {int(n) for n in fs.listdir(commits) if n.isdigit()}


def latest_committed(state_path: str) -> int | None:
    """Highest committed batch id under ``state_path``, or None before
    the first commit. Scheme-routed (module docstring): POSIX listdir
    locally, Hadoop listStatus on object stores."""
    return max(_committed_ids(state_path), default=None)


def read_latest_state(spark, state_path: str, schema):
    """REPLACE-style reader: the parquet files of the latest committed
    batch only (each batch republishes the whole summary). Empty frame
    before the first commit or for an empty committed batch.

    Files are resolved from the marker's manifest (exact published
    names recorded by staged_foreach_batch), never from a directory
    listing: on object stores a LIST can lag the PUTs it follows, and a
    glob taken in that window would misread a committed batch as
    empty."""
    latest = latest_committed(state_path)
    if latest is None:
        return spark.createDataFrame([], schema)
    fs, p = _backend(state_path, spark)
    names = read_marker_manifest(state_path, latest)[state_path.rstrip("/")]
    files = sorted(fs.join(p, n) for n in names if n.endswith(".parquet"))
    if not files:  # manifest-confirmed empty batch
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*files)


def read_state(spark, path: str, schema, marker_dir: str | None = None):
    """APPEND-style reader: every file a COMMITTED batch published into
    ``path`` (drift and mixture deltas, the dedup indexes). Empty frame
    when ``path`` does not exist; any other read failure propagates,
    because reading a dedup index as empty would publish historical
    duplicates and append their fingerprints for good.

    A ``b{id}-*`` file counts only when ``_commits/{id}`` exists under
    ``marker_dir`` (default ``path``; the dedup indexes keep their one
    marker on the output table). The read stays one directory read --
    one path, so no partition-discovery job however many batches the
    state holds -- and a pending batch's files are dropped in the plan
    by ``_metadata.file_name``."""
    from pyspark.sql import functions as F

    fs, p = _backend(path, spark)
    if not fs.exists(p):
        return spark.createDataFrame([], schema)
    names = [fs.basename(f) for f in fs.glob(fs.join(p, "b*-*"))]
    pending = {m.group(1) for m in map(_BATCH_FILE.match, names) if m} - {
        f"b{i}" for i in _committed_ids(marker_dir or path)
    }
    df = spark.read.schema(schema).parquet(path)
    if pending:
        batch = F.substring_index(F.col("_metadata.file_name"), "-", 1)
        df = df.filter(~batch.isin(*sorted(pending)))
    return df
