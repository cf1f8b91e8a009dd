"""Manifest-based snapshot tables: atomic commits + time travel on parquet.

The reference's core physical choice is Iceberg (``USING ICEBERG``,
reference dags/dag.py:145,173,351), whose three behaviors this sandbox
cannot exercise (no runtime jar, no network — README §Iceberg status):
atomic REPLACE, ACID commit visibility, and time travel. This module
re-creates the *mechanism* behind all three with nothing but parquet and
atomically-claimed manifest files — the same design Iceberg's
HadoopTableOperations uses (a commit is a metadata-pointer claim, never
a data rewrite):

  * Each commit writes its data files into a NEW ``snap-<unique>``
    directory (uuid-suffixed, so a crashed writer's orphan can never
    collide with or block a later commit — Iceberg's unique-data-file
    rule), then publishes manifest version N+1. Readers resolve the
    highest committed manifest first, so they see either the whole
    commit or none of it; a writer crash after data-write but before
    the publish leaves only an orphan directory no reader ever resolves.
  * The publish is a true compare-and-swap: manifest version N is the
    file ``_manifest-NNNNNN.json``, claimed via ``os.link`` from a
    fully-written temp file — hard-linking onto an existing name raises,
    so exactly ONE writer can own each version. A concurrent loser
    re-reads the winner's manifest, rebases its snapshot entry (its data
    directory is already on disk and unique), and retries — optimistic
    concurrency exactly as Iceberg arbitrates writers through the
    catalog pointer.
  * APPEND commits list the previous snapshot's directories plus the new
    one — O(1) metadata, zero data rewrite, like Iceberg manifest lists.
    OVERWRITE commits list only the new directory; old files stay on
    disk owned by history (vacuum is a separate, explicitly destructive
    operation, as in Iceberg's expire_snapshots).
  * Every manifest retains the full snapshot history, so any historical
    version can be read back — time travel by snapshot id.
  * Row-level deletes are MERGE-ON-READ (Iceberg v2): ``delete_where``
    writes a POSITIONAL delete file (file_path, row_index) and
    ``delete_matching`` an EQUALITY delete file (key tuples); neither
    rewrites a single data file. Readers apply them as broadcast
    anti-joins; equality deletes are sequence-scoped exactly as Iceberg
    scopes them (they hit only data files committed strictly BEFORE the
    delete), so rows re-appended after the delete survive.
    ``rewrite_data_files`` is the compaction that folds deletes back
    into data (copy-on-write catch-up).

Scale: a commit's cost is the data write itself plus one ~KB JSON link;
reads plan directly over the listed parquet directories, so partition
pruning and column projection work unchanged. The manifest lists
directories, not files — at 1000 commits it is still tiny; ``vacuum``
also prunes superseded manifest versions.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_PREFIX = "_manifest-"
# attempts at one manifest version claim before a mutation gives up
CAS_RETRIES = 16


def _manifest_versions(table_dir: str) -> list[int]:
    try:
        names = os.listdir(table_dir)
    except FileNotFoundError:
        return []
    out = []
    for n in names:
        if n.startswith(MANIFEST_PREFIX) and n.endswith(".json"):
            try:
                out.append(int(n[len(MANIFEST_PREFIX) : -len(".json")]))
            except ValueError:
                continue
    return sorted(out)


def _manifest_path(table_dir: str, seq: int) -> str:
    return os.path.join(table_dir, f"{MANIFEST_PREFIX}{seq:06d}.json")


def _load_manifest(table_dir: str) -> dict:
    """Resolve the highest committed manifest version (or the empty
    table state). A partially-created manifest can never be observed:
    versions appear only via ``os.link`` of a fully-written temp.

    A concurrent ``vacuum`` may unlink the version we just listed
    (vacuum publishes its trimmed manifest FIRST, then prunes), so a
    FileNotFoundError here means a NEWER version already exists —
    re-list and resolve that one instead of crashing (r8 advice fix;
    covered by the cross-process vacuum-vs-commit race test)."""
    for _ in range(CAS_RETRIES):
        versions = _manifest_versions(table_dir)
        if not versions:
            # a fresh literal per call: callers may mutate what they get
            return {
                "seq": 0,
                "current": 0,
                "snapshots": [],
                "txns": {},
                "refs": {},
                "dir_seq": {},
            }
        try:
            with open(_manifest_path(table_dir, versions[-1])) as f:
                return json.load(f)
        except FileNotFoundError:
            continue  # pruned between list and open — a newer one exists
    raise RuntimeError(
        f"manifest resolution raced vacuum {CAS_RETRIES} times in {table_dir}"
    )


def _publish_manifest(table_dir: str, manifest: dict) -> bool:
    """Atomically claim manifest version ``manifest['seq']``.

    Returns True iff this writer won the version: the content is written
    to a unique temp file (fsync'd), then hard-linked onto the versioned
    name — ``os.link`` fails with FileExistsError when a concurrent
    writer already claimed that version, which IS the compare-and-swap.
    """
    tmp = os.path.join(
        table_dir, f".manifest.{uuid.uuid4().hex}.tmp"
    )
    with open(tmp, "w") as f:
        json.dump(manifest, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, _manifest_path(table_dir, manifest["seq"]))
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


def _transact(table_dir: str, step):
    """The one manifest compare-and-swap loop every mutation runs.

    ``step(man)`` sees the latest committed manifest and returns
    ``(changes, result)``: the loop publishes ``man`` with ``changes``
    applied as version ``seq + 1`` (snapshot log carried) and returns
    ``result``. ``(None, result)`` is a no-op that publishes nothing;
    an exception from ``step`` refuses the mutation. A writer that
    loses the version claim backs off briefly, re-reads the winner's
    manifest and runs ``step`` again on it — the rebase that keeps every
    committed snapshot (optimistic concurrency, as Iceberg). Members
    ``changes`` does not name (txns, refs, dir_seq, stats, ...) carry
    over verbatim."""
    for attempt in range(CAS_RETRIES):
        man = _load_manifest(table_dir)
        changes, result = step(man)
        if changes is None:
            return result
        new_man = _carry_log(man, dict(man, seq=man["seq"] + 1, **changes))
        if _publish_manifest(table_dir, new_man):
            return result
        time.sleep(0.001 * (attempt + 1))
    raise RuntimeError(
        f"lost the manifest CAS {CAS_RETRIES} times in {table_dir}"
    )


def _snap(man: dict, version: int) -> dict:
    """The snapshot entry with id ``version``."""
    for snap in man["snapshots"]:
        if snap["id"] == version:
            return snap
    raise ValueError(
        f"snapshot {version} not in history "
        f"(have {[s['id'] for s in man['snapshots']]})"
    )


def _committed(table_dir: str) -> dict:
    """The manifest of a table that has at least one snapshot."""
    man = _load_manifest(table_dir)
    if not man["snapshots"]:
        raise FileNotFoundError(f"no committed snapshot in {table_dir}")
    return man


def commit(
    df: DataFrame,
    table_dir: str,
    mode: str = "append",
    txn: tuple[str, int] | None = None,
    branch: str | None = None,
    stats_cols: list[str] | None = None,
) -> int:
    """Write ``df`` as a new snapshot; returns the new snapshot id.

    mode="append"   : new snapshot = previous directories + the new one.
    mode="overwrite": new snapshot = the new directory only (REPLACE
                      semantics; history still reaches the old data).

    ``stats_cols`` records per-directory [min, max] bounds for the named
    columns in the manifest (Iceberg's per-file column stats) — one
    bounded aggregate job before the write. ``read_pruned`` then skips
    whole directories from the SCAN PLAN when their range cannot match,
    which is the metadata-based file skipping that keeps a 100 TB scan
    proportional to the matching data, not the table. Bounds are stored
    natively for int/float/str/bool and as their canonical string form
    otherwise (dates/timestamps are order-preserving strings; types
    whose str() does not order, e.g. negative-exponent decimals, should
    not be stats columns).

    ``txn=(app_id, version)`` makes the commit IDEMPOTENT (Delta Lake's
    txnAppId/txnVersion): the manifest stores ONE monotonic high-water
    version per app_id, and any commit with ``version <= stored`` is a
    replay no-op (returns the then-current snapshot id). This is the
    exactly-once contract a replayed streaming micro-batch needs
    (version = the batch id): re-delivery after a sink crash cannot
    double-append, because the txn check happens inside the same CAS
    loop that publishes the manifest. A long-running stream's manifest
    stays O(runs), not O(micro-batches) — a per-batch key map would grow
    one entry per batch forever and every commit would rewrite it (r8
    advice). Requires the producer to deliver versions monotonically per
    app_id, which is exactly Structured Streaming's batch-id contract
    per checkpoint.

    The data write happens entirely BEFORE the manifest publish — a
    crash anywhere in between leaves the table at the previous snapshot
    with only an orphan (never-referenced, never-colliding) directory on
    disk. Concurrent writers are arbitrated by the manifest-version CAS:
    the loser rebases onto the winner's manifest and retries, so no
    committed snapshot is ever lost (optimistic concurrency, as Iceberg).
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"unknown commit mode: {mode}")
    os.makedirs(table_dir, exist_ok=True)
    already = _txn_replayed(_load_manifest(table_dir), txn)
    if already is not None:  # replay detected before any work
        return already
    # unique data directory: a crashed or racing writer can never block
    # or be clobbered by another commit's data files
    snap_dir = f"snap-{uuid.uuid4().hex[:12]}"
    stats = _column_stats(df, stats_cols) if stats_cols else None
    df.write.mode("errorifexists").parquet(os.path.join(table_dir, snap_dir))
    return _commit_entry(table_dir, snap_dir, mode, txn, branch, stats)


def commit_partitioned(
    df: DataFrame,
    table_dir: str,
    col: str,
    transform: str,
    mode: str = "append",
    txn: tuple[str, int] | None = None,
    branch: str | None = None,
) -> int:
    """Write ``df`` as ONE atomic snapshot whose data files are grouped
    into a sub-directory per ``transform(col)`` partition — the unit of
    Iceberg PARTITION EVOLUTION (the one capability README's parity
    table listed as a documented gap; reference design rationale
    /root/reference/README.md:29).

    ``transform`` is ``"day"`` or ``"month"`` over a DATE column. The
    layout is recorded per-DIRECTORY, not per-table: each partition dir
    enters the manifest with exact ``{col: [lo, hi]}`` bounds derived
    from its partition VALUE (day d -> [d, d]; month m -> [m, last day
    of m]) — no extra stats scan. Because scan planning (``read_pruned``)
    consumes only those per-dir bounds, a table may freely MIX layouts
    across commits: day-grouped dirs committed last year and
    month-grouped dirs committed today coexist under one manifest, and a
    bounded read prunes each dir by its own bounds without knowing which
    spec produced it. That is exactly how Iceberg evolves partition
    specs without rewriting old data — old files keep the old layout,
    new files the new one, and planning is spec-agnostic because
    manifests carry per-file partition tuples (hidden partitioning).

    The whole multi-dir write is still ONE commit: every partition dir
    is listed in a single snapshot entry published through the manifest
    CAS, so readers see all partitions of the load or none. The
    partition column stays IN the data files (the grouping key is a
    duplicated scratch column dropped by the dir layout), so any dir
    reads back with the full schema, layout-independent.

    ``df`` must not already contain a ``_sg_part`` column. Rows with
    NULL ``col`` land in the writer's null partition dir and get no
    bounds (always scanned — the conservative rule).
    """
    if transform not in ("day", "month"):
        raise ValueError(
            f"unknown partition transform {transform!r} (day|month)"
        )
    if mode not in ("append", "overwrite"):
        raise ValueError(f"unknown commit mode: {mode}")
    if "_sg_part" in df.columns:
        raise ValueError("df already has a _sg_part column")
    os.makedirs(table_dir, exist_ok=True)
    already = _txn_replayed(_load_manifest(table_dir), txn)
    if already is not None:
        return already
    root = f"snap-{uuid.uuid4().hex[:12]}"
    part = F.date_trunc(transform, F.col(col)).cast("date")
    (
        df.withColumn("_sg_part", part)
        .write.partitionBy("_sg_part")
        .mode("errorifexists")
        .parquet(os.path.join(table_dir, root))
    )
    import calendar
    import datetime as _dt

    dirs: list[str] = []
    stats: dict = {}
    for sub in sorted(os.listdir(os.path.join(table_dir, root))):
        if not sub.startswith("_sg_part="):
            continue
        rel = f"{root}/{sub}"
        dirs.append(rel)
        val = sub.split("=", 1)[1]
        if val == "__HIVE_DEFAULT_PARTITION__":  # NULL keys: no bounds
            continue
        if transform == "day":
            lo = hi = val
        else:
            d = _dt.date.fromisoformat(val)
            lo = val
            hi = str(
                d.replace(day=calendar.monthrange(d.year, d.month)[1])
            )
        stats[rel] = {col: [lo, hi]}
    if not dirs:
        # empty df: partitionBy wrote no partition dirs (and no schema)
        # — rewrite the root as a plain empty parquet dir so the
        # snapshot exists and reads back empty with the right schema
        df.write.mode("overwrite").parquet(os.path.join(table_dir, root))
        dirs = [root]
    return _commit_entry(
        table_dir,
        dirs,
        mode,
        txn,
        branch,
        stats or None,
        spec={"col": col, "transform": transform},
    )


def _stat_val(v):
    """JSON-safe, order-preserving manifest form of a stats bound."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    return str(v)


def _column_stats(df: DataFrame, cols: list[str]) -> dict:
    """One aggregate job: {col: [min, max]} over ``df`` (NULL-only
    columns store [None, None] and are never pruned on)."""
    row = df.agg(
        *[F.min(c).alias(f"_lo_{i}") for i, c in enumerate(cols)],
        *[F.max(c).alias(f"_hi_{i}") for i, c in enumerate(cols)],
    ).collect()[0]
    return {
        c: [_stat_val(row[f"_lo_{i}"]), _stat_val(row[f"_hi_{i}"])]
        for i, c in enumerate(cols)
    }


def _txn_replayed(man: dict, txn: tuple[str, int] | None) -> int | None:
    """Current snapshot id if ``txn`` is at-or-below its app's committed
    high-water version (Delta's txnAppId/txnVersion replay rule), else
    None. The txns map lives at the top of the manifest and ``vacuum``
    carries it forward verbatim, so a micro-batch replayed after
    retention trimmed its snapshot entry is STILL a no-op (r8 advice
    fix). It cannot name the ORIGINAL snapshot a replay first landed in
    — exactly-once needs only "don't apply twice", and forgetting
    per-batch ids is what keeps the manifest O(runs)."""
    if txn is None:
        return None
    app_id, version = txn
    if man["txns"].get(app_id, -1) >= version:
        return man["current"]
    return None


def _max_id(man: dict) -> int:
    """Global snapshot-id high-water across ALL refs — ids must be
    unique table-wide, not per-branch."""
    return max((s["id"] for s in man["snapshots"]), default=0)


def _carry_log(man: dict, new_man: dict) -> dict:
    """Carry the snapshot LOG — Iceberg's snapshot-log/history table:
    append-ordered (wall-clock ts, current-snapshot-id) records — into a
    new manifest, appending a record whenever the mutation MOVES main's
    pointer. The log is what ``FOR TIMESTAMP AS OF`` resolves against:
    version ids alone cannot answer "what was current at 14:00" once a
    rollback moves the pointer non-monotonically. Wall-clock here is
    metadata (resolution input), never data — no query result depends
    on it, so determinism of the oracle rows is unaffected."""
    log = list(man.get("log", []))
    if new_man.get("current") != man.get("current"):
        log.append({"ts": time.time(), "id": new_man["current"]})
    if log:
        new_man["log"] = log
    return new_man


def _resolve_as_of(man: dict, as_of) -> int:
    """Latest log record with ts <= as_of (datetime accepted; a naive
    datetime is taken as UTC)."""
    import datetime as _dt

    if isinstance(as_of, _dt.datetime):
        if as_of.tzinfo is None:
            as_of = as_of.replace(tzinfo=_dt.timezone.utc)
        as_of = as_of.timestamp()
    log = man.get("log", [])
    eligible = [rec for rec in log if rec["ts"] <= as_of]
    if not eligible:
        raise ValueError(
            f"as_of {as_of} predates the table's first recorded snapshot "
            f"(log starts at {log[0]['ts'] if log else 'never'})"
        )
    return eligible[-1]["id"]


def _head_snap(man: dict, table_dir: str) -> dict:
    """The snapshot entry ``current`` points at, with a meaningful
    error when the table has history but no MAIN head — possible when
    every commit so far landed on a branch (current == 0, snapshots
    non-empty), where a bare ``next()`` lookup would surface as an
    inscrutable StopIteration (r9 advice fix)."""
    cur = man["current"]
    if cur == 0:
        raise ValueError(
            f"table {table_dir} has no main snapshot (all "
            f"{len(man['snapshots'])} commits are branch-staged) — "
            "fast_forward a branch to main first"
        )
    return _snap(man, cur)


def _commit_entry(
    table_dir: str,
    snap_dir: str | list[str],
    mode: str = "append",
    txn: tuple[str, int] | None = None,
    branch: str | None = None,
    stats: dict | None = None,
    spec: dict | None = None,
) -> int:
    """Everything in ``commit`` after the data write: one ``_transact``
    step. Factored out so the cross-process concurrency tests drive the
    EXACT production arbitration path (rebase-and-retry over
    ``_publish_manifest``) without paying a Spark session per process.

    ``snap_dir`` may be a LIST of directories: a partitioned commit
    (``commit_partitioned``) lands several data dirs in one atomic
    snapshot. For a single dir, ``stats`` is that dir's ``{col: [lo,
    hi]}``; for a list it is ``{dir: {col: [lo, hi]}}`` keyed per dir.
    ``spec`` (optional) records the commit's partition layout on the
    snapshot entry — introspection only, readers never depend on it
    (Iceberg's hidden-partitioning principle: scan planning reads
    per-file stats, not the spec that produced them)."""
    new_dirs = [snap_dir] if isinstance(snap_dir, str) else list(snap_dir)
    if stats is not None and isinstance(snap_dir, str):
        stats = {snap_dir: stats}

    def step(man: dict):
        already = _txn_replayed(man, txn)
        if already is not None:  # a racing replay won the CAS first
            return None, already
        if branch is not None and branch not in man["refs"]:
            raise ValueError(
                f"branch {branch!r} does not exist in {table_dir} "
                f"(create_branch first; have {sorted(man['refs'])})"
            )
        # ids are allocated off the global high-water, NOT off the main
        # head: a branch commit must never collide with a later main id
        snap_id = _max_id(man) + 1
        entry = {"id": snap_id, "dirs": new_dirs, "op": mode}
        head = man["refs"][branch] if branch is not None else man["current"]
        if mode == "append" and head:
            base = _snap(man, head)
            entry["dirs"] = base["dirs"] + new_dirs
            # an append INHERITS the head's merge-on-read delete files —
            # the new data dir gets a HIGHER dir_seq than any existing
            # equality delete, so inherited eq deletes can never touch it
            if base.get("deletes"):
                entry["deletes"] = base["deletes"]
        if spec is not None:
            entry["spec"] = spec
        changes = {
            "snapshots": man["snapshots"] + [entry],
            # dir -> snapshot id that ADDED it: the sequence numbers that
            # scope equality deletes (a dir missing from the map reads as
            # seq 0, i.e. pre-delete data — the conservative legacy rule)
            "dir_seq": dict(man["dir_seq"], **{d: snap_id for d in new_dirs}),
        }
        if branch is None:
            changes["current"] = snap_id
        else:
            entry["branch"] = branch
            changes["refs"] = dict(man["refs"], **{branch: snap_id})
        if txn is not None:
            # history introspection only (Delta's setTransaction action);
            # replay detection reads the O(runs) txns map, never this
            entry["txn"] = list(txn)
            changes["txns"] = dict(man["txns"], **{txn[0]: txn[1]})
        if stats is not None:
            # dir -> {col: [min, max]}: scan-planning column stats; a dir
            # absent from the map is always scanned (conservative)
            changes["dir_stats"] = dict(man.get("dir_stats", {}), **stats)
        return changes, snap_id

    return _transact(table_dir, step)


def read(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    ref: str | None = None,
    as_of=None,
) -> DataFrame:
    """Read the table at ``version``, at a named ``ref`` (branch head),
    at the snapshot that was CURRENT at wall-clock ``as_of`` (Iceberg's
    ``FOR TIMESTAMP AS OF`` — epoch seconds or datetime, naive taken as
    UTC; resolved against the manifest's snapshot log, so it honors
    non-monotonic pointer moves like rollback_to), or at the current
    main snapshot. An ``as_of`` resolving to a snapshot that vacuum has
    since expired raises the same not-in-history error as a stale
    ``version`` — exactly Iceberg after expire_snapshots.

    Resolves the manifest FIRST and plans over exactly the directories it
    lists — concurrent commits after this call do not change what this
    DataFrame reads (snapshot isolation).
    """
    if sum(x is not None for x in (version, ref, as_of)) > 1:
        raise ValueError("pass at most one of version / ref / as_of")
    man = _committed(table_dir)
    if as_of is not None:
        version = _resolve_as_of(man, as_of)
    if ref is not None:
        version = _ref_head(man, table_dir, ref)
    if version is None:
        version = man["current"]
    return _plan_snapshot(spark, table_dir, man, _snap(man, version))


def _ref_head(man: dict, table_dir: str, ref: str) -> int:
    if ref not in man["refs"]:
        raise ValueError(
            f"no ref {ref!r} in {table_dir} (have {sorted(man['refs'])})"
        )
    return man["refs"][ref]


def read_pruned(
    spark: SparkSession,
    table_dir: str,
    col: str,
    lo=None,
    hi=None,
    version: int | None = None,
    ref: str | None = None,
) -> tuple[DataFrame, int, int]:
    """Read rows with ``lo <= col <= hi`` (either bound optional),
    planning the scan from the manifest's per-directory column stats —
    Iceberg's metadata-based scan planning: a directory whose [min, max]
    range cannot intersect the bound is DROPPED FROM THE PLAN, never
    opened, so the scan cost is proportional to the matching data, not
    the table. Directories without stats for ``col`` are scanned
    (conservative). Returns (df, dirs_scanned, dirs_skipped).

    Merge-on-read deletes still apply on the scanned subset — a delete
    file targeting a skipped directory simply has nothing to hit. The
    residual predicate is always applied to the scanned rows (stats
    prune directories, not rows), so the result equals
    ``read(...).where(lo <= col <= hi)`` by construction.
    """
    if lo is None and hi is None:
        raise ValueError("read_pruned needs at least one bound")
    man = _committed(table_dir)
    if ref is not None:
        version = _ref_head(man, table_dir, ref)
    if version is None:
        snap = _head_snap(man, table_dir)
    else:
        snap = _snap(man, version)
    stats = man.get("dir_stats", {})
    q_lo, q_hi = _stat_val(lo), _stat_val(hi)
    scanned: list[str] = []
    skipped = 0
    for d in snap["dirs"]:
        bounds = stats.get(d, {}).get(col)
        if bounds is not None and bounds[0] is not None:
            d_lo, d_hi = bounds
            if (q_hi is not None and d_lo > q_hi) or (
                q_lo is not None and d_hi < q_lo
            ):
                skipped += 1
                continue
        scanned.append(d)
    residual = None
    if lo is not None:
        residual = F.col(col) >= F.lit(lo)
    if hi is not None:
        c = F.col(col) <= F.lit(hi)
        residual = c if residual is None else residual & c
    if not scanned:
        # nothing can match: plan one dir for the schema, keep zero rows
        probe = dict(snap, dirs=snap["dirs"][:1], deletes=[])
        df = _plan_snapshot(spark, table_dir, man, probe).where(F.lit(False))
        return df, 0, skipped
    pruned = dict(snap, dirs=scanned)
    df = _plan_snapshot(spark, table_dir, man, pruned).where(residual)
    return df, len(scanned), skipped


def _rel_dir_of(file_col: str):
    """Manifest-relative data-dir of a scanned file's ``_metadata``
    path. Flat commits: the file's parent dir (``snap-x``). Partitioned
    commits nest ONE level (``snap-x/_sg_part=v``) — recognized by the
    ``=`` in the parent name, so the grandparent is prepended to match
    the manifest's dir entry exactly."""
    parts = F.split(file_col, "/")
    parent = F.element_at(parts, -2)
    return F.when(
        parent.contains("="),
        F.concat(F.element_at(parts, -3), F.lit("/"), parent),
    ).otherwise(parent)


def _plan_snapshot(
    spark: SparkSession,
    table_dir: str,
    man: dict,
    snap: dict,
    with_position: bool = False,
) -> DataFrame:
    """Plan one snapshot: parquet scan over its data dirs, then the
    merge-on-read delete application (Iceberg v2 read path).

    A snapshot with no delete files returns the bare multi-path scan —
    bit-identical plan to the pre-MoR layer, so partition pruning and
    projection pushdown are untouched for the common case. With deletes:

      * positional delete files anti-join on (_metadata.file_path,
        _metadata.row_index) — file-scoped by construction, since every
        data dir is uuid-unique a position can never alias a later file;
      * equality delete files anti-join on their key columns, gated on
        the SOURCE dir's sequence number (``dir_seq``) being strictly
        below the delete's — Iceberg's rule that an equality delete hits
        only data files committed before it, so re-appends survive.

    Delete files are tiny next to the table (that's why MoR exists), so
    every anti-join build side is broadcast — at 100 TB the scan stays
    the only big thing in the plan and no shuffle is introduced.

    ``with_position=True`` keeps the (_sg_file, _sg_pos) provenance
    columns on the result — ``_metadata`` resolves only on the scan
    relation itself, so ``delete_where`` on an already-deleted-from
    table must get positions from here, not re-select them downstream.
    """
    from functools import reduce

    paths = [os.path.join(table_dir, d) for d in snap["dirs"]]
    dels = snap.get("deletes", [])
    if not dels and not with_position:
        return spark.read.parquet(*paths)
    base = spark.read.parquet(*paths)
    data_cols = base.columns
    df = base.select(
        *data_cols,
        F.col("_metadata.file_path").alias("_sg_file"),
        F.col("_metadata.row_index").alias("_sg_pos"),
    )
    pos = [d for d in dels if d["kind"] == "pos"]
    eq = [d for d in dels if d["kind"] == "eq"]
    if pos:
        pdel = spark.read.parquet(
            *[os.path.join(table_dir, d["dir"]) for d in pos]
        )
        df = df.join(
            F.broadcast(pdel),
            (df["_sg_file"] == pdel["_del_file"])
            & (df["_sg_pos"] == pdel["_del_pos"]),
            "left_anti",
        )
    if eq:
        dir_seq = man.get("dir_seq", {})
        seq_map = F.create_map(
            *[F.lit(x) for d in snap["dirs"] for x in (d, dir_seq.get(d, 0))]
        )
        df = df.withColumn(
            "_sg_seq",
            F.coalesce(seq_map[_rel_dir_of("_sg_file")], F.lit(0)),
        )
        for d in eq:
            kdf = spark.read.parquet(os.path.join(table_dir, d["dir"]))
            cond = reduce(
                lambda a, b: a & b,
                [df[c].eqNullSafe(kdf[c]) for c in d["cols"]],
            ) & (df["_sg_seq"] < F.lit(d["seq"]))
            df = df.join(F.broadcast(kdf), cond, "left_anti")
    if with_position:
        return df.select(*data_cols, "_sg_file", "_sg_pos")
    return df.select(*data_cols)


class CommitConflict(RuntimeError):
    """A concurrent commit invalidated this operation's snapshot basis
    (Iceberg's validation failure on conflicting concurrent writes)."""


def delete_where(spark: SparkSession, table_dir: str, predicate: str) -> int:
    """Row-level DELETE as a merge-on-read POSITIONAL delete file
    (Iceberg v2 position deletes) — no data file is rewritten.

    Scans the current snapshot for rows matching ``predicate`` (a SQL
    boolean over the table's columns), records their (file_path,
    row_index) pairs in a ``del-*`` parquet file, and commits a new
    snapshot whose data dirs are UNCHANGED. Readers subtract the
    positions via a broadcast anti-join (`_plan_snapshot`). At 100 TB
    the cost is one predicate scan + a tiny delete-file write — against
    copy-on-write's full rewrite of every touched file.

    A no-match predicate commits nothing and returns the current id.
    If a concurrent OVERWRITE/compaction replaces the files the delete
    positions were computed against, the CAS loop raises
    :class:`CommitConflict` instead of publishing deletes aimed at
    files the head no longer owns (file paths are uuid-unique, so a
    position can never silently re-target new data). Concurrent APPENDs
    rebase fine: a positional delete is file-scoped by construction.

    History semantics match Iceberg: time travel to a pre-delete
    snapshot still shows the rows; ``vacuum`` keeps every delete file a
    retained snapshot references.
    """
    man = _committed(table_dir)
    snap = _head_snap(man, table_dir)
    matched = (
        _plan_snapshot(spark, table_dir, man, snap, with_position=True)
        .where(F.expr(predicate))
        .select(
            F.col("_sg_file").alias("_del_file"),
            F.col("_sg_pos").alias("_del_pos"),
        )
    )
    del_dir = f"del-{uuid.uuid4().hex[:12]}"
    del_path = os.path.join(table_dir, del_dir)
    matched.write.mode("errorifexists").parquet(del_path)
    back = spark.read.parquet(del_path)
    # dirs the delete positions live in — the conflict-validation set.
    # ONE collect answers both "any matches?" and "which dirs?" (the
    # r16 shape ran an isEmpty job and then a distinct-collect job).
    ref_dirs = {
        r[0]
        for r in back.select(_rel_dir_of("_del_file")).distinct().collect()
    }
    if not ref_dirs:
        shutil.rmtree(del_path, ignore_errors=True)
        return snap["id"]
    return _delete_commit_entry(
        table_dir, {"dir": del_dir, "kind": "pos"}, ref_dirs
    )


def delete_matching(
    spark: SparkSession, table_dir: str, keys: DataFrame, cols: list[str]
) -> int:
    """Row-level DELETE as a merge-on-read EQUALITY delete file
    (Iceberg v2 equality deletes — the CDC-writer primitive).

    Writes ``keys``' distinct ``cols`` tuples as a ``del-*`` file; a
    reader drops any row whose key columns null-safe-equal a tuple AND
    whose source data file was committed strictly BEFORE this delete
    (sequence scoping via ``dir_seq``) — so the same key re-appended
    afterwards is visible again, exactly Iceberg's contract. Unlike
    positional deletes this never scans the table at delete time: cost
    is the tiny key-file write + one manifest publish, which is why
    streaming upsert writers emit equality deletes.

    Returns the new snapshot id (or the current one if ``keys`` is
    empty). Concurrent appends rebase safely: whoever commits earlier
    gets the lower sequence number, and the delete applies only below
    its own.
    """
    man = _committed(table_dir)
    del_dir = f"del-{uuid.uuid4().hex[:12]}"
    del_path = os.path.join(table_dir, del_dir)
    keys.select(*cols).distinct().write.mode("errorifexists").parquet(del_path)
    if spark.read.parquet(del_path).isEmpty():
        shutil.rmtree(del_path, ignore_errors=True)
        return man["current"]
    return _delete_commit_entry(
        table_dir, {"dir": del_dir, "kind": "eq", "cols": list(cols)}, None
    )


def _delete_commit_entry(
    table_dir: str, delete: dict, ref_dirs: set[str] | None
) -> int:
    """CAS-publish a delete-file commit: same dirs as the head, the new
    delete appended to the head's delete list. ``ref_dirs`` (positional
    deletes only) must still be owned by the head on every rebase, else
    :class:`CommitConflict` — the delete was computed against files a
    concurrent overwrite removed. Equality deletes capture their
    sequence number HERE (the allocated snapshot id), so scoping stays
    correct however many writers raced in between."""

    def step(man: dict):
        base = _head_snap(man, table_dir)
        head = base["id"]
        if ref_dirs is not None and not ref_dirs <= set(base["dirs"]):
            raise CommitConflict(
                f"positional delete targets {sorted(ref_dirs - set(base['dirs']))} "
                f"which snapshot {head} no longer owns (concurrent overwrite)"
            )
        snap_id = _max_id(man) + 1
        entry_del = dict(delete)
        if entry_del["kind"] == "eq":
            entry_del["seq"] = snap_id
        entry = {
            "id": snap_id,
            "dirs": base["dirs"],
            "op": "delete",
            "deletes": base.get("deletes", []) + [entry_del],
        }
        return {"current": snap_id, "snapshots": man["snapshots"] + [entry]}, snap_id

    return _transact(table_dir, step)


def _require_head(man: dict, basis: int, what: str) -> None:
    """Refuse a rewrite whose input was read at ``basis`` once any other
    commit moved main's head."""
    if man["current"] != basis:
        raise CommitConflict(
            f"{what} read snapshot {basis} but head moved to "
            f"{man['current']} — rerun against the new head"
        )


def rewrite_data_files(spark: SparkSession, table_dir: str) -> int:
    """Compaction: materialize the current snapshot WITH its deletes
    applied into fresh data files and commit it as an overwrite — the
    delete list comes back empty, positions/keys are folded in (Iceberg
    ``rewrite_data_files`` + ``rewrite_position_delete_files`` in one
    step; MoR's deferred cost paid once, off the read path).

    Validates optimistically: if any OTHER commit lands between the
    read and the publish, raises :class:`CommitConflict` rather than
    clobbering it with a stale materialization (run compaction
    exclusively or retry on conflict, as Iceberg's rewrite action does).
    """
    man = _committed(table_dir)
    snap = _head_snap(man, table_dir)
    df = _plan_snapshot(spark, table_dir, man, snap)
    snap_dir = f"snap-{uuid.uuid4().hex[:12]}"
    df.write.mode("errorifexists").parquet(os.path.join(table_dir, snap_dir))

    def step(man: dict):
        _require_head(man, snap["id"], "compaction")
        snap_id = _max_id(man) + 1
        # the compacted dir itself gets no stats (conservative scan)
        entry = {"id": snap_id, "dirs": [snap_dir], "op": "replace"}
        return {
            "current": snap_id,
            "snapshots": man["snapshots"] + [entry],
            "dir_seq": dict(man["dir_seq"], **{snap_dir: snap_id}),
        }, snap_id

    return _transact(table_dir, step)


def compaction_plan(
    table_dir: str, target_bytes: int
) -> list[list[str]]:
    """SELECT which data dirs to compact — the planning half of
    Iceberg's ``rewrite_data_files(strategy => 'binpack')``: dirs
    smaller than ``target_bytes`` are greedily packed (deterministic
    manifest order, running-size cut at the target) into bins of >= 2
    dirs; full-size dirs and singleton leftovers are left alone, so a
    well-compacted table plans ZERO work (the idempotence that lets a
    maintenance job run on a schedule).

    Planning is manifest + file-stat metadata only (no data read) and
    driver-side by design — the manifest lists dirs, not files, so the
    plan input is tiny however large the data is; Iceberg's action
    plans from manifest metadata identically. Returns a list of bins,
    each a list of dir names, for :func:`rewrite_dirs`.
    """
    man = _load_manifest(table_dir)
    snap = _head_snap(man, table_dir)
    sizes: list[tuple[str, int]] = []
    for d in snap["dirs"]:
        full = os.path.join(table_dir, d)
        size = sum(
            os.path.getsize(os.path.join(full, f))
            for f in os.listdir(full)
            if f.endswith(".parquet") and not f.startswith("_")
        )
        if size < target_bytes:
            sizes.append((d, size))
    bins: list[list[str]] = []
    cur: list[str] = []
    acc = 0
    for d, size in sizes:  # manifest order: deterministic
        cur.append(d)
        acc += size
        if acc >= target_bytes:
            bins.append(cur)
            cur, acc = [], 0
    if len(cur) >= 2:
        bins.append(cur)
    return [b for b in bins if len(b) >= 2]


def rewrite_dirs(spark: SparkSession, table_dir: str, dirs: list[str]) -> int:
    """Compact a SUBSET of the head's data dirs into one — the apply
    half of binpack rewrite: the new snapshot keeps every other dir
    untouched, so a maintenance job can fold one bin at a time instead
    of rewriting the table (``rewrite_data_files`` is the whole-table
    fallback that also folds merge-on-read deletes).

    Refuses when the head carries ANY delete files: a delete can
    reference rows inside the bin, and folding it for only part of the
    table would change which snapshot the delete applies to — run
    ``rewrite_data_files`` first (Iceberg's binpack similarly rewrites
    delete-affected files through its delete-aware path). Validates
    optimistically like compaction: if the head moved between read and
    publish, raises :class:`CommitConflict`.
    """
    man = _load_manifest(table_dir)
    snap = _head_snap(man, table_dir)
    if snap.get("deletes"):
        raise ValueError(
            "head snapshot carries merge-on-read deletes — "
            "rewrite_data_files (delete-aware) before bin-scoped rewrites"
        )
    missing = [d for d in dirs if d not in snap["dirs"]]
    if missing:
        raise ValueError(
            f"dirs {missing} are not part of head snapshot {snap['id']}"
        )
    if len(dirs) < 2:
        raise ValueError("a rewrite bin needs >= 2 dirs")
    df = spark.read.parquet(*[os.path.join(table_dir, d) for d in dirs])
    snap_dir = f"snap-{uuid.uuid4().hex[:12]}"
    df.coalesce(1).write.mode("errorifexists").parquet(
        os.path.join(table_dir, snap_dir)
    )

    def step(man: dict):
        _require_head(man, snap["id"], "bin rewrite")
        snap_id = _max_id(man) + 1
        kept = [d for d in snap["dirs"] if d not in set(dirs)]
        entry = {"id": snap_id, "dirs": kept + [snap_dir], "op": "rewrite"}
        changes = {
            "current": snap_id,
            "snapshots": man["snapshots"] + [entry],
            # the merged dir inherits the LOWEST source seq: every row
            # in it was committed at-or-after that point, and equality
            # deletes (none now, possibly later) scope conservatively
            "dir_seq": dict(
                man["dir_seq"],
                **{snap_dir: min(man["dir_seq"].get(d, 0) for d in dirs)},
            ),
        }
        # merged bounds per column where EVERY bin dir has stats — else
        # no stats for the merged dir (conservative scan)
        per_dir = [man.get("dir_stats", {}).get(d) for d in dirs]
        if all(per_dir):
            commoncols = set(per_dir[0]).intersection(
                *[set(p) for p in per_dir[1:]]
            )
            merged = {
                c: [
                    min(p[c][0] for p in per_dir),
                    max(p[c][1] for p in per_dir),
                ]
                for c in commoncols
                if all(p[c][0] is not None for p in per_dir)
            }
            if merged:
                changes["dir_stats"] = dict(man["dir_stats"], **{snap_dir: merged})
        return changes, snap_id

    return _transact(table_dir, step)


def create_branch(
    table_dir: str, name: str, from_version: int | None = None
) -> int:
    """Create a named branch pointing at ``from_version`` (default: the
    current main snapshot) — Iceberg's branch ref, the staging half of
    write-audit-publish. Published through the same manifest CAS as
    commits; returns the branch's starting snapshot id."""
    # branching an empty, never-committed table is legal (stage-first
    # workflows create the audit branch before any main data exists) —
    # the hypothesis branch-model sweep caught the missing makedirs
    os.makedirs(table_dir, exist_ok=True)

    def step(man: dict):
        if name in man["refs"]:
            raise ValueError(f"branch {name!r} already exists in {table_dir}")
        start = man["current"] if from_version is None else from_version
        if start != 0:
            _snap(man, start)  # must name a real snapshot
        return {"refs": dict(man["refs"], **{name: start})}, start

    return _transact(table_dir, step)


def drop_branch(table_dir: str, name: str) -> None:
    """Remove a branch ref. Its snapshots stay in history until vacuum
    (exactly Iceberg: dropping a ref never deletes data)."""

    def step(man: dict):
        if name not in man["refs"]:
            raise ValueError(f"no branch {name!r} in {table_dir}")
        return {"refs": {k: v for k, v in man["refs"].items() if k != name}}, None

    _transact(table_dir, step)


def fast_forward(table_dir: str, branch: str) -> int:
    """PUBLISH a branch: move main's pointer to the branch head —
    Iceberg's fast_forward, the atomic publish half of
    write-audit-publish. Refuses unless the branch head genuinely
    extends main — BOTH main's data directories AND main's
    merge-on-read delete files must be carried by the branch head
    (Iceberg's fast_forward requires main's head to be an ancestor of
    the branch head). The dir check alone is not enough: a DELETE
    committed on main after the branch was created leaves main's dirs
    unchanged, so a dirs-only subset test would publish a branch head
    whose inherited delete list predates the delete — silently
    resurrecting the deleted rows (r9 advice fix; pytest
    test_snapshots.py::test_fast_forward_refuses_lost_main_delete).
    Returns the new main snapshot id."""

    def step(man: dict):
        if branch not in man["refs"]:
            raise ValueError(f"no branch {branch!r} in {table_dir}")
        head = man["refs"][branch]
        if head == 0:
            raise ValueError(f"branch {branch!r} has no commits to publish")
        head_snap = _snap(man, head)
        if man["current"] != 0:
            cur_snap = _snap(man, man["current"])
            cur_dirs, head_dirs = set(cur_snap["dirs"]), set(head_snap["dirs"])
            if not cur_dirs <= head_dirs:
                raise ValueError(
                    f"branch {branch!r} does not extend main "
                    f"(main owns {sorted(cur_dirs - head_dirs)} the branch "
                    "head lacks) — publish would lose committed data"
                )
            # delete files are identified by their unique del-* dir;
            # a compaction on the branch legitimately folds main's
            # deletes in, but then it also rewrote main's data dirs and
            # the dirs-subset check above already refused — so within a
            # dirs-subset publish, every main delete must survive
            cur_dels = {d["dir"] for d in cur_snap.get("deletes", [])}
            head_dels = {d["dir"] for d in head_snap.get("deletes", [])}
            if not cur_dels <= head_dels:
                raise ValueError(
                    f"branch {branch!r} does not carry main's deletes "
                    f"({sorted(cur_dels - head_dels)}) — publish would "
                    "resurrect rows deleted on main"
                )
        return {"current": head}, head

    return _transact(table_dir, step)


def rollback_to(table_dir: str, version: int) -> int:
    """Iceberg's ``rollback_to_snapshot``: move MAIN's current pointer
    back to an earlier snapshot. Exactly like Iceberg, this writes NO
    new snapshot and deletes NO data — the abandoned commits stay in
    history (still readable via ``read(version=)``, still listed by
    ``snapshots_metadata``) until vacuum retention drops them, so a
    rollback is instantly reversible by rolling "back" forward.

    A subsequent append builds on the restored head (it inherits that
    snapshot's dirs and merge-on-read delete files through the normal
    append path), which is what makes rollback the fix-a-bad-load tool:
    roll back, re-run the corrected load, keep the full audit trail.
    Published through the same manifest CAS as every other ref move.
    """

    def step(man: dict):
        _snap(man, version)  # must name a real committed snapshot
        return {"current": version}, version

    return _transact(table_dir, step)


def history(table_dir: str) -> list[int]:
    """Committed snapshot ids, oldest first."""
    return [s["id"] for s in _load_manifest(table_dir)["snapshots"]]


def snapshots_metadata(
    spark: SparkSession, table_dir: str, with_counts: bool = True
) -> DataFrame:
    """The table's ``$snapshots`` metadata relation — Iceberg exposes
    per-table ``snapshots``/``refs`` metadata tables (``SELECT * FROM
    tbl$snapshots``); this is the emulated layer's equivalent, derived
    purely from the manifest:

      snapshot_id     committed id, oldest first
      operation       Iceberg snapshot summary operation: append /
                      overwrite / delete (MoR delete-file commit) /
                      replace (compaction rewrite)
      branch          the ref the commit targeted ('main' for head
                      commits, the branch name for staged ones)
      n_data_dirs     data directories the snapshot references
      n_delete_files  merge-on-read delete files still unapplied
      record_count    rows visible at the snapshot (deletes applied) —
                      a per-snapshot scan-plan count, skip with
                      ``with_counts=False`` on deep histories
      refs            comma-joined ref names whose head is this
                      snapshot ('main' = the current table head)
      is_current      whether this is main's head

    Manifests written before the ``op`` field surface operation=NULL
    (additive evolution, same contract as the schema layer).
    """
    man = _committed(table_dir)
    rows = []
    for snap in man["snapshots"]:
        names = sorted(
            name for name, head in man["refs"].items() if head == snap["id"]
        )
        if snap["id"] == man["current"]:
            names = ["main"] + names
        count = (
            _plan_snapshot(spark, table_dir, man, snap).count()
            if with_counts
            else None
        )
        rows.append(
            (
                snap["id"],
                snap.get("op"),
                snap.get("branch", "main"),
                len(snap["dirs"]),
                len(snap.get("deletes", [])),
                count,
                ",".join(names) if names else None,
                snap["id"] == man["current"],
            )
        )
    from .tables import local_df

    return local_df(
        spark,
        rows,
        "snapshot_id bigint, operation string, branch string, "
        "n_data_dirs int, n_delete_files int, record_count bigint, "
        "refs string, is_current boolean",
    )


def files_metadata(spark: SparkSession, table_dir: str) -> DataFrame:
    """The table's ``$files`` metadata relation — one row per data
    directory the CURRENT snapshot references, derived from the
    manifest (Iceberg's ``tbl$files``: per-file partition/stats/counts
    without touching data):

      dir            data directory name
      added_by       snapshot id that committed it (``dir_seq`` — the
                     sequence number scoping equality deletes)
      stats          {col: 'lo..hi'} bounds recorded at commit time
                     (empty map when the dir was committed without
                     ``stats_cols``)
      n_files        parquet part files on disk
      size_bytes     their total size

    Everything except the two filesystem columns comes from the
    manifest alone; the listing is driver-side O(files of the head
    snapshot), never a data read.
    """
    man = _committed(table_dir)
    snap = _head_snap(man, table_dir)
    dir_seq = man.get("dir_seq", {})
    dir_stats = man.get("dir_stats", {})
    rows = []
    for d in snap["dirs"]:
        full = os.path.join(table_dir, d)
        parts = [
            f
            for f in os.listdir(full)
            if f.endswith(".parquet") and not f.startswith("_")
        ]
        size = sum(os.path.getsize(os.path.join(full, f)) for f in parts)
        stats = {
            c: f"{b[0]}..{b[1]}" for c, b in dir_stats.get(d, {}).items()
        }
        rows.append((d, dir_seq.get(d, 0), stats, len(parts), size))
    from .tables import local_df

    return local_df(
        spark,
        rows,
        "dir string, added_by bigint, stats map<string,string>, "
        "n_files int, size_bytes bigint",
    )


def vacuum(table_dir: str, keep_last: int = 1) -> list[str]:
    """Explicitly destructive: drop history older than the last
    ``keep_last`` snapshots and delete directories no retained snapshot
    references (Iceberg's expire_snapshots). Superseded manifest
    versions are pruned too. Returns removed data dirs."""

    def step(man: dict):
        snaps = man["snapshots"]
        # retention keeps the last keep_last entries PLUS main's current
        # snapshot and every branch head: a ref must never dangle and a
        # branch's staged-but-unpublished data must survive retention
        pinned = {man["current"]} | set(man["refs"].values())
        kept = [
            snap
            for i, snap in enumerate(snaps)
            if i >= len(snaps) - keep_last or snap["id"] in pinned
        ]
        if len(kept) == len(snaps):
            return None, ([], 0)  # nothing expires, no version is pruned
        # a retained snapshot's merge-on-read delete files are as
        # load-bearing as its data dirs — expiring one would resurrect
        # deleted rows in a snapshot readers can still resolve
        keep_dirs = {d for s in kept for d in s["dirs"]} | {
            dl["dir"] for s in kept for dl in s.get("deletes", [])
        }
        kept_ids = {s["id"] for s in kept}
        removed = []
        for s in snaps:
            if s["id"] in kept_ids:
                continue
            for d in s["dirs"] + [dl["dir"] for dl in s.get("deletes", [])]:
                if d not in keep_dirs and d not in removed:
                    removed.append(d)
        # the txns map is not among the changes, so it survives
        # retention verbatim: a streaming batch replayed after its
        # snapshot entry was trimmed must still be a no-op, or vacuum
        # silently voids the exactly-once contract (txns is O(runs) by
        # construction, so carrying it is ~free)
        return {
            "snapshots": kept,
            # sequence numbers and stats travel with the dirs that survive
            "dir_seq": {
                d: q for d, q in man["dir_seq"].items() if d in keep_dirs
            },
            "dir_stats": {
                d: s
                for d, s in man.get("dir_stats", {}).items()
                if d in keep_dirs
            },
        }, (removed, man["seq"] + 1)

    # the trimmed manifest is published FIRST (through the same CAS as
    # commits) so a crash mid-delete can only leave orphan directories,
    # never a dangling manifest
    removed, published = _transact(table_dir, step)
    for d in removed:
        shutil.rmtree(os.path.join(table_dir, d), ignore_errors=True)
    for d in removed:
        # a fully-expired partitioned commit leaves a root husk above
        # its nested partition dirs holding only writer metadata
        # (_SUCCESS, .crc) — drop it once no partition dir (or any
        # other real content) remains
        if "/" in d:
            root = os.path.join(table_dir, d.split("/", 1)[0])
            with contextlib.suppress(OSError):
                if all(
                    f.startswith(("_", "."))
                    and os.path.isfile(os.path.join(root, f))
                    for f in os.listdir(root)
                ):
                    shutil.rmtree(root, ignore_errors=True)
    for seq in _manifest_versions(table_dir):
        if seq < published:
            # two concurrent vacuums can race on the same stale version;
            # the loser finding it already gone IS success (r8 advice fix)
            with contextlib.suppress(FileNotFoundError):
                os.unlink(_manifest_path(table_dir, seq))
    return removed


def read_incremental(
    spark: SparkSession, table_dir: str, after_version: int
) -> DataFrame:
    """Read ONLY the data appended after ``after_version`` — Iceberg's
    incremental scan (`incremental append scan` in its API), the
    primitive behind CDC-style consumers that fold each new commit into
    a running aggregate instead of rescanning the table.

    Defined for append lineage: every snapshot since ``after_version``
    must contain its predecessor's directories (an intervening OVERWRITE
    rewrites history, so "what was appended" is no longer well-defined —
    raises ValueError, exactly as Iceberg's append scan refuses overwrite
    snapshots). ``after_version=0`` returns the whole current snapshot.
    """
    man = _committed(table_dir)
    cur = man["current"]
    cur_snap = _snap(man, cur)
    prev = _snap(man, after_version) if after_version else {"dirs": []}
    prev_dirs, cur_dirs = prev["dirs"], cur_snap["dirs"]
    if not set(prev_dirs) <= set(cur_dirs):
        raise ValueError(
            f"snapshots {after_version}..{cur} are not append lineage "
            "(an overwrite replaced history); incremental read undefined"
        )
    # a merge-on-read delete in the range rewrites VISIBLE history the
    # same way an overwrite rewrites physical history — "what was
    # appended" is no longer the whole delta, so refuse (Iceberg's
    # incremental append scan rejects delete snapshots identically)
    if cur_snap.get("deletes", []) != prev.get("deletes", []):
        raise ValueError(
            f"snapshots {after_version}..{cur} contain row-level deletes; "
            "incremental append scan undefined over delete snapshots"
        )
    new_dirs = [d for d in cur_dirs if d not in set(prev_dirs)]
    if not new_dirs:
        return spark.read.parquet(
            os.path.join(table_dir, cur_dirs[0])
        ).limit(0)
    return spark.read.parquet(*[os.path.join(table_dir, d) for d in new_dirs])
