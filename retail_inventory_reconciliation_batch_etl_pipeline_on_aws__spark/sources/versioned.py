"""Minimal versioned table layer (time travel) from plain parquet.

The Delta/Iceberg core idea without the format dependency: data files
are IMMUTABLE (uuid-named under ``data/``), and a table VERSION is just
a commit file listing exactly which data files are in that snapshot.
Readers resolve a commit first, then read only its files -- so a reader
pinned to version N is isolated from every later write, ``overwrite``
is a metadata operation (new commit referencing new files; old files
untouched), and time travel is "read an old commit". The write-side
discipline is the one this repo already uses for ingest: stage, then
one atomic rename publishes the commit.

Writers use optimistic concurrency: the commit file is created with
O_EXCL (a compare-and-swap on the version number), so racing writers
serialize -- the loser recomputes against the new parent and retries
metadata-only (its data files are immutable and uuid-named). On an
object store, swap the exclusive create for a conditional put.
"""

from __future__ import annotations

import glob as _glob
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession


def _commit_paths(path: str) -> list[str]:
    return sorted(_glob.glob(os.path.join(path, "commits", "v*.json")))


def _load_commit(p: str) -> dict:
    with open(p) as f:
        return json.load(f)


def latest_version(path: str) -> int:
    """-1 for an empty/new table."""
    cs = _commit_paths(path)
    return int(os.path.basename(cs[-1])[1:-5]) if cs else -1


def write_versioned(df: DataFrame, path: str, mode: str = "append") -> int:
    """Publish ``df`` as a new table version; returns the version.

    ``append`` keeps the parent snapshot's files and adds the new ones;
    ``overwrite`` references ONLY the new files (the old version stays
    readable -- replacement is logical, not physical). The commit
    becomes visible in one exclusive create (the CAS described in the
    module docstring); a crash before it leaves only unreferenced data
    files.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append/overwrite, got {mode!r}")
    data_dir = os.path.join(path, "data")
    commits_dir = os.path.join(path, "commits")
    os.makedirs(data_dir, exist_ok=True)
    os.makedirs(commits_dir, exist_ok=True)

    staging = os.path.join(path, f"_staging-{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(staging)
    staged = sorted(_glob.glob(os.path.join(staging, "part-*.parquet")))
    new_files = []
    for pf in staged:
        name = f"{uuid.uuid4().hex}.parquet"
        os.replace(pf, os.path.join(data_dir, name))
        new_files.append(name)
    shutil.rmtree(staging, ignore_errors=True)

    # optimistic concurrency: the commit file is created with O_EXCL,
    # so two writers racing for version N cannot both publish -- the
    # loser re-reads the new parent and retries (its data files are
    # already uuid-named and immutable, so only the METADATA retries)
    while True:
        parent = latest_version(path)
        base = (
            _load_commit(os.path.join(commits_dir, f"v{parent:05d}.json"))["files"]
            if (mode == "append" and parent >= 0)
            else []
        )
        version = parent + 1
        commit = {"version": version, "parent": parent, "mode": mode,
                  "files": base + new_files}
        try:
            fd = os.open(
                os.path.join(commits_dir, f"v{version:05d}.json"),
                os.O_CREAT | os.O_EXCL | os.O_WRONLY,
            )
        except FileExistsError:
            continue  # lost the race: recompute against the new parent
        with os.fdopen(fd, "w") as f:
            json.dump(commit, f)
        return version


def read_versioned(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read a snapshot (latest if ``version`` is None). The returned
    frame's file list is FIXED at resolve time: later commits cannot
    change what this reader sees."""
    v = latest_version(path) if version is None else version
    cp = os.path.join(path, "commits", f"v{v:05d}.json")
    if not os.path.exists(cp):
        raise ValueError(f"version {v} does not exist at {path}")
    files = _load_commit(cp)["files"]
    if not files:
        raise ValueError(f"version {v} is empty")
    return spark.read.parquet(
        *[os.path.join(path, "data", f) for f in files]
    )


def history(path: str) -> list[dict]:
    """Commit log, oldest first: version, parent, mode, n_files."""
    out = []
    for p in _commit_paths(path):
        c = _load_commit(p)
        out.append(
            {"version": c["version"], "parent": c["parent"],
             "mode": c["mode"], "n_files": len(c["files"])}
        )
    return out


def table_changes(
    spark: SparkSession, path: str, from_version: int, to_version: int
) -> DataFrame:
    """Row-level change feed between two snapshots (the CDF read
    pattern): full-row anti-joins in both directions, tagged
    ``insert`` / ``delete`` (an update appears as its delete+insert
    pair -- the grain a keyed ``merge_into`` consumer collapses).
    Snapshots resolve to fixed file lists first, so the diff is stable
    under concurrent writes; the join keys are ALL columns, i.e.
    content identity, no key declaration needed.
    """
    from pyspark.sql import functions as F

    old = read_versioned(spark, path, from_version)
    new = read_versioned(spark, path, to_version)
    cols = old.columns
    inserts = new.join(old, cols, "left_anti").withColumn(
        "_change", F.lit("insert")
    )
    deletes = old.join(new, cols, "left_anti").withColumn(
        "_change", F.lit("delete")
    )
    return inserts.unionByName(deletes)


def _rewrite_touched(
    spark: SparkSession, path: str, condition, transform, mode: str
) -> tuple[int, int]:
    """Shared copy-on-write core of row-level DELETE/UPDATE: tag the
    live snapshot with file identity, find the files containing
    matching rows (bounded per-FILE collect), apply ``transform`` to
    the touched files' rows, and publish a commit splicing the
    untouched files in BY NAME. Conflict rule: if a racing commit
    replaced any file this operation read, refuse to publish
    (serializable semantics; Delta's ConcurrentDeleteReadException)."""
    from pyspark.sql import functions as F

    v = latest_version(path)
    cp = os.path.join(path, "commits", f"v{v:05d}.json")
    files = _load_commit(cp)["files"]
    data_dir = os.path.join(path, "data")

    tagged = spark.read.parquet(
        *[os.path.join(data_dir, f) for f in files]
    ).withColumn("_file", F.input_file_name())
    touched_paths = {
        r["_file"]
        for r in tagged.where(condition).select("_file").distinct().collect()
    }  # bounded: one row per touched FILE, never per row
    touched = {os.path.basename(p) for p in touched_paths}
    if not touched:
        return v, 0  # nothing matches: no new commit needed

    rewritten = transform(
        tagged.where(F.col("_file").isin(list(touched_paths)))
    ).drop("_file")
    return _stage_and_splice(path, touched, rewritten, mode)


def _stage_and_splice(
    path: str,
    touched: set,
    rewritten: DataFrame,
    mode: str,
    require_parent: int | None = None,
) -> tuple[int, int]:
    """Stage ``rewritten`` exactly like write_versioned, then publish a
    commit that keeps every non-touched parent file BY NAME and swaps
    the touched set for the staged files. CAS publish; refuses if a
    racing commit replaced any touched file (serializable semantics).

    ``require_parent``: when set, additionally refuse to publish unless
    the parent commit IS exactly that version -- the strict
    snapshot-isolation check MERGE needs, because a merge's inserts
    depend on the ABSENCE of keys in the whole snapshot it read, so a
    concurrent append can conflict even though it replaced no touched
    file (Delta's ConcurrentAppendException for MERGE). Touched-file
    checking alone is vacuous for a pure-insert merge (touched is
    empty)."""
    data_dir = os.path.join(path, "data")
    staging = os.path.join(path, f"_staging-{uuid.uuid4().hex}")
    rewritten.repartition(max(1, len(touched))).write.mode(
        "overwrite"
    ).parquet(staging)
    staged = sorted(_glob.glob(os.path.join(staging, "part-*.parquet")))
    new_files = []
    for pf in staged:
        name = f"{uuid.uuid4().hex}.parquet"
        os.replace(pf, os.path.join(data_dir, name))
        new_files.append(name)
    shutil.rmtree(staging, ignore_errors=True)

    def _refuse(why: str):
        # a refused commit must not leak its staged output: the files
        # were already moved into data/ but no commit references them,
        # so they would sit as orphans. They
        # are this writer's own uuid-named files -- deleting them races
        # with nobody.
        for name in new_files:
            try:
                os.remove(os.path.join(data_dir, name))
            except FileNotFoundError:
                pass
        raise RuntimeError(why)

    commits_dir = os.path.join(path, "commits")
    while True:
        parent = latest_version(path)
        if require_parent is not None and parent != require_parent:
            _refuse(
                f"concurrent modification: this {mode.upper()} read snapshot "
                f"v{require_parent} but the table is now at v{parent}; "
                "its key-match set may be stale -- re-run against the new "
                "snapshot"
            )
        parent_files = _load_commit(
            os.path.join(commits_dir, f"v{parent:05d}.json")
        )["files"]
        if not touched <= set(parent_files):
            _refuse(
                f"concurrent modification: files read by this {mode.upper()} "
                "were replaced by another commit; re-run against the new "
                "snapshot"
            )
        keep = [f for f in parent_files if f not in touched]
        version = parent + 1
        commit = {
            "version": version,
            "parent": parent,
            "mode": mode,
            "files": keep + new_files,
        }
        try:
            fd = os.open(
                os.path.join(commits_dir, f"v{version:05d}.json"),
                os.O_CREAT | os.O_EXCL | os.O_WRONLY,
            )
        except FileExistsError:
            continue  # lost the CAS race: retry against the new parent
        with os.fdopen(fd, "w") as f:
            json.dump(commit, f)
        return version, len(touched)


def delete_where(spark: SparkSession, path: str, condition) -> tuple[int, int]:
    """Row-level DELETE as copy-on-write, rewriting ONLY touched files:
    the live snapshot is scanned once with file identity attached
    (``input_file_name``), files containing at least one matching row
    are rewritten without those rows, and the new commit references the
    untouched files UNCHANGED plus the rewrites -- the Delta/Iceberg
    DELETE shape, so the rewrite cost tracks the files the predicate
    touches, not the table size. Readers hold either commit, never a
    half-deleted table; old versions stay time-travelable.

    Returns ``(new_version, n_files_rewritten)``. ``condition`` is a
    Column predicate selecting the rows to DELETE. SQL DELETE
    semantics: a row is deleted only where the condition is TRUE;
    rows where it evaluates to NULL survive. The survivor filter must
    therefore be NOT-coalesce(cond, FALSE), not plain NOT-cond --
    plain negation is also NULL on NULL and would silently drop any
    NULL-evaluating row that happens to live in a touched file (row
    survival must never depend on file co-location).
    """
    from pyspark.sql import functions as F

    keep = ~F.coalesce(condition, F.lit(False))
    return _rewrite_touched(
        spark, path, condition, lambda df: df.where(keep), "delete"
    )


def update_where(
    spark: SparkSession, path: str, condition, assignments: dict
) -> tuple[int, int]:
    """Row-level UPDATE, same copy-on-write shape as ``delete_where``:
    only the files containing matching rows are rewritten, with
    ``assignments`` (column name -> Column expression) applied to the
    matching rows and every other row carried through unchanged --
    completing the DML triad with ``merge_into`` (keyed MERGE) and
    ``delete_where``. Returns ``(new_version, n_files_rewritten)``.

    SQL UPDATE semantics: every SET right-hand side is evaluated
    against the ORIGINAL row, so ``{"a": col("b"), "b": col("a")}``
    swaps. All assignments therefore go into ONE projection --
    sequential ``withColumn`` would let a later expression see an
    earlier assignment's NEW value."""
    from pyspark.sql import functions as F

    def apply(df):
        return df.select(
            *[
                F.when(condition, assignments[c]).otherwise(F.col(c)).alias(c)
                if c in assignments
                else F.col(c)
                for c in df.columns
            ]
        )

    return _rewrite_touched(spark, path, condition, apply, "update")


def merge_into(
    spark: SparkSession, path: str, updates: DataFrame, keys: list[str]
) -> tuple[int, int]:
    """Keyed MERGE (upsert) into the versioned table -- Delta's
    ``MERGE INTO`` shape on the same copy-on-write core: files
    containing a matching key are rewritten with the matched rows
    REPLACED whole-row by their update, unmatched update rows are
    appended, untouched files survive by name. ``updates`` must be
    unique per key (checked -- one bounded job -- because a duplicate
    key would make "replace" order-dependent). A pure-insert merge
    (no key matches) touches zero files and appends one. Conflict
    rule: the commit refuses to publish if ANY commit landed after the
    snapshot this merge read (Delta's ConcurrentAppendException shape)
    -- a racing append can carry keys this merge is inserting, so the
    touched-file check alone is not enough.

    The updates side is broadcast (the CDC-batch regime: updates are
    small relative to the table); for a bulk merge larger than
    broadcast memory, drop the hints and Spark falls back to a
    sort-merge anti/semi on the key -- same correctness, one shuffle.

    Returns ``(new_version, n_files_rewritten)``.
    """
    from pyspark.sql import functions as F

    dup = (
        updates.groupBy(*keys).count().where(F.col("count") > 1).limit(1).count()
    )
    if dup:
        raise ValueError("updates frame has duplicate keys; MERGE needs one row per key")

    v = latest_version(path)
    files = _load_commit(
        os.path.join(path, "commits", f"v{v:05d}.json")
    )["files"]
    data_dir = os.path.join(path, "data")
    tagged = spark.read.parquet(
        *[os.path.join(data_dir, f) for f in files]
    ).withColumn("_file", F.input_file_name())

    upd_keys = F.broadcast(updates.select(*keys).distinct())
    touched_paths = {
        r["_file"]
        for r in tagged.join(upd_keys, keys, "left_semi")
        .select("_file")
        .distinct()
        .collect()
    }  # bounded: one row per touched FILE
    touched = {os.path.basename(p) for p in touched_paths}

    survivors = (
        tagged.where(F.col("_file").isin(list(touched_paths)))
        .drop("_file")
        .join(F.broadcast(updates.select(*keys)), keys, "left_anti")
        if touched
        else updates.limit(0)
    )
    rewritten = survivors.unionByName(updates)
    # require_parent=v: the key-match set above was computed against
    # snapshot v; ANY later commit (even a pure append touching no
    # file we read) may hold keys this merge is about to insert, so
    # publishing over it would duplicate keys. Strict check, not the
    # touched-file check alone -- which is vacuous when touched == {}.
    return _stage_and_splice(path, touched, rewritten, "merge", require_parent=v)
