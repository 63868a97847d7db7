"""Fixture-table IO.

The reference's sources are a REST API + MongoDB collections
(SURVEY §2.1 S1–S2); here the engine's sources are columnar scans of
the driver's synthetic star schema (TESTDATA.md). Everything goes
through ``spark.read.parquet`` so Catalyst gets predicate pushdown,
column pruning and partition planning for free — at 100 TB these
scans are the single biggest lever, so nothing below ever collects,
infers schemas row-wise, or reads more columns than the query needs
(callers ``select`` immediately; pruning reaches the scan).
"""

from __future__ import annotations

import os
import stat
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: Every synthetic table the driver generates (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _pin_timestamp_confs(spark: SparkSession) -> None:
    """Make parquet timestamps engine-portable.

    * ``events.parquet`` stores TIMESTAMP(NANOS); Spark has no nanos
      type, so read as LONG and rebuild microsecond timestamps.
    * The other tables store TIMESTAMP(MILLIS, isAdjustedToUTC=false),
      which Spark 4 infers as TIMESTAMP_NTZ; we want session-TZ (UTC)
      timestamps so epoch math matches DuckDB's UTC-naive reads.

    Runtime SQL confs — safe to set on any session, including the
    driver's.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # Epoch math must agree with DuckDB's UTC-naive reads even when the
    # caller's session (e.g. the driver's) didn't pin a time zone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table (columnar, pushdown-capable)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    _pin_timestamp_confs(spark)
    df = _read_parquet(spark, table_path(sf_dir, name))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # Fixture vintages differ: TIMESTAMP(NANOS) events arrive as
        # LONG under nanosAsLong and need the nanos→micros rebuild;
        # TIMESTAMP(MICROS) events arrive as a ready timestamp.
        # Integer DIV keeps 2^63-scale values exact (double division
        # would lose precision past 2^53).
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


#: Per-session memo of inferred base-table schemas (see
#: :func:`_read_parquet`), keyed by (applicationId, absolute path,
#: size, mtime_ns): a fresh JVM gets a fresh applicationId, and a
#: rewritten file gets a fresh key.
_SCHEMAS: dict[tuple[str, str, int, int], StructType] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema inferred once per
    session: inference is a Spark job (a parallel footer read) that
    would otherwise run on every registry query that scans a base
    table. Only local regular files are memoised — their size and
    mtime say when to infer again; a directory or a remote URI is read
    exactly as before."""
    try:
        st = os.stat(path)
    except OSError:  # a remote URI, or a missing path Spark reports
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = (
        spark.sparkContext.applicationId,
        os.path.abspath(path),
        st.st_size,
        st.st_mtime_ns,
    )
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


#: spread() width rule: one task per this many estimated input bytes
#: (Catalyst plan statistics — compressed parquet bytes after column
#: pruning). 64 KiB/task reaches FULL width well before the 10×
#: upsample sizes (sf1 documents ≈ 2.4 MB pruned → 38 → clamped to
#: the core count) while the tiny single-split fixtures stop paying a
#: full-width shuffle fan-out for sub-second Arrow passes (sf0.1
#: documents ≈ 250 KB pruned → 4 tasks).
SPREAD_BYTES_PER_TASK = 64 * 1024


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition toward the session's default parallelism
    when the plan's CURRENT partitioning would leave cores idle.

    A small input (one parquet row group → one split) serializes every
    downstream row-local stage onto a single task — the signature-UDF
    passes of the dedup/similarity family are the hot case. On a real
    cluster reading many splits the partition count already meets the
    target, so this is a no-op (the check is driver-side planning
    only, no job) and a 100 TB scan never pays a gratuitous full-data
    shuffle. Call it AFTER filters, so pushdown still reaches the scan.

    Width is bytes-aware (the r6 verdict's #2 item): a FIXED fan-out
    is wrong in one regime or the other — full width costs ~0.1-0.3 s
    of gratuitous full-text shuffle per tiny-fixture Arrow pass, while
    a narrowed fixed width measured 2-10× slower at the 10× upsample
    where the same stages are compute-bound (the f592f3b lesson; the
    at-scale regime always wins a conflict). So the fan-out is sized
    from the optimizer's input-size estimate at one task per
    ``SPREAD_BYTES_PER_TASK``, clamped to [current, core count]: big
    inputs always get full width, and the knob only ever narrows
    plans that are small enough for shuffle overhead to dominate.
    Never shrinks an existing partitioning.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    current = df.rdd.getNumPartitions()
    if current >= target:
        return df
    width = spread_width(plan_bytes(df), current, target)
    if width <= current:
        return df
    return df.repartition(width)


def hash_spread(df: DataFrame, *cols: str) -> DataFrame:
    """Hash-repartition ``df`` on ``cols`` at an explicit width that AQE
    keeps — the probe side of a pair join, whose heavy join and verify
    work should run on every core even when the input is one small file
    (one file → one task).

    The count is explicit on purpose: a column-only ``repartition(col)``
    is ``REPARTITION_BY_COL``, which AQE coalesces, and any shuffle below
    its 1 MiB ``minPartitionSize`` collapses back to one task.
    ``REPARTITION_BY_NUM`` is never coalesced, so the width must be sized
    here instead of by AQE: :func:`spread_width` at
    ``SPREAD_BYTES_PER_TASK``, clamped to [min(core count, shuffle
    partitions), shuffle partitions]. A small input gets the core count
    (not the thousands of shuffle partitions a cluster is configured
    with), a 100 TB input the full shuffle width. Driver-side planning
    only, no job."""
    spark = df.sparkSession
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    lo = min(spark.sparkContext.defaultParallelism, shuffle)
    return df.repartition(spread_width(plan_bytes(df), lo, shuffle), *cols)


def plan_bytes(df: DataFrame) -> int:
    """Catalyst's plan-time size estimate of ``df`` in bytes — real
    footer sizes for a parquet scan, the optimizer's propagated
    estimate above it (driver-side planning, no job). The one probe
    behind every size-aware decision in the engine: :func:`spread`,
    :func:`hash_spread`, :func:`session_fixture`'s file count, the rank
    range partitions, small-file compaction and the d_source_overlap
    shape gate."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    return int(str(stats.sizeInBytes()))


def spread_width(
    est_bytes: int,
    lo: int,
    hi: int | None = None,
    bytes_per_part: int = SPREAD_BYTES_PER_TASK,
) -> int:
    """The one bytes→partitions rule: one partition (task or output
    file) per ``bytes_per_part`` of estimated input, clamped to
    [lo, hi] (no upper bound when ``hi`` is None; ``lo`` wins when
    ``lo > hi``). Integer ceil-division, so estimates near 2^63
    (Catalyst's "unknown") stay exact. Property-tested in
    test_layout.py."""
    want = -(-est_bytes // bytes_per_part)
    if hi is not None:
        want = min(hi, want)
    return max(lo, want)


#: Per-session memo of staged derived frames (see
#: :func:`session_fixture`). Keyed by (applicationId, sf_dir, name) —
#: a fresh JVM gets a fresh applicationId, so nothing leaks across
#: sessions, and the scratch files are atexit-removed by the process
#: that created them.
_FIXTURES: dict[tuple[str, str, str], DataFrame] = {}

#: Target bytes per staged-fixture output file (guide §6: sensible
#: output file sizing — aim for large files; readers re-split big
#: parquet files at row-group granularity, so large files never cost
#: scan parallelism, while many small files cost one task per file
#: in EVERY consumer stage). At sf0.1 the signature fixture written
#: at build width was 10 sub-MB files → 10-task stages in every one
#: of its ~15 consumers' row-local branches (measured +0.3-0.4 s per
#: composite query); one file reads as 1-2 splits.
FIXTURE_TARGET_FILE_BYTES = 128 * 1024 * 1024

#: Seconds each staged fixture took to DERIVE AND WRITE in this
#: process, keyed by fixture name (r10 verdict #1: the staging build
#: cost must be visible in every recorded bench number — bench.py
#: stamps this dict into its summary as ``fixtures``). Cumulative per
#: name across sf_dirs; a fixture that was never built this session
#: is simply absent.
FIXTURE_BUILD_SECONDS: dict[str, float] = {}


def session_fixture(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build,
) -> DataFrame:
    """Stage a deterministic derived frame ONCE per (session, sf_dir)
    and hand every consumer the parquet scan of it.

    The pattern a real deployment uses for any shared derivation that
    several queries consume (a graph's edge list, a cleansed bronze
    batch): materialize it in the staging layer, then run the analytics
    suite against storage — instead of re-deriving the frame inside
    every consumer's plan. ``build`` is a zero-arg callable returning
    the lazy frame; it runs only on the first request. The staged copy
    is parquet in a session-scoped scratch dir (write+read beats both
    re-deriving per consumer and caching: the scan is pushdown-capable,
    survives executor loss, and is exactly how the consumer would read
    the staging table in production). Falls back to memoizing the lazy
    plan only when there is no staging root (a cluster master with no
    configured root, or a read-only /tmp); a failing build or staging
    write raises.

    Determinism contract: ``build`` must produce a frame whose VALUES
    are partition-order-independent (every staged fixture here is a
    keyed aggregate/distinct), so consumers see identical results with
    or without the staging hop.
    """
    import time

    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _FIXTURES.get(key)
    if cached is not None:
        return cached
    t0 = time.perf_counter()
    df = build()
    root = _session_scratch(spark)
    if root is None:
        # degraded mode (read-only tmp, or a non-local master with no
        # configured staging root): every later consumer reuses the
        # one derivation instead of re-running it
        df = materialize(df)
    else:
        import hashlib

        # distinct sf_dir strings must stage to distinct paths even
        # when a lossy sanitization would collide ('/a/b' vs '/a_b'):
        # an overwrite would delete the part files under an earlier
        # fixture's still-live scan. Hash the raw string instead.
        sub = hashlib.sha256(sf_dir.encode()).hexdigest()[:16]
        path = f"{root}/{sub}/{name}"
        # size the OUTPUT files, not the build: a repartition (not
        # coalesce — coalesce would collapse the Arrow build pass's
        # compute width too) shrinks the write to
        # ceil(est / FIXTURE_TARGET_FILE_BYTES) files. The shuffle
        # moves only the fixture itself, and values are row-local /
        # keyed-aggregate (partition-order independent), so the
        # staged values are unaffected. The build's own partition count
        # is not asked for: under AQE that runs its shuffle stages in a
        # job of their own, and the write then runs them again. So the
        # estimate alone decides, against the core count a spread build
        # runs at; a build already that narrow pays one shuffle of a
        # frame under cores × FIXTURE_TARGET_FILE_BYTES.
        out = df
        nfiles = spread_width(
            plan_bytes(df), 1, bytes_per_part=FIXTURE_TARGET_FILE_BYTES
        )
        if nfiles < spark.sparkContext.defaultParallelism:
            out = out.repartition(nfiles)
        out.write.mode("overwrite").parquet(path)
        df = spark.read.parquet(path)
    FIXTURE_BUILD_SECONDS[name] = round(
        FIXTURE_BUILD_SECONDS.get(name, 0.0)
        + (time.perf_counter() - t0),
        3,
    )
    _FIXTURES[key] = df
    return df


#: Session-scoped scratch roots created by :func:`_session_scratch`.
_SCRATCH: dict[str, str | None] = {}


def select_scratch_mode(
    master: str | None, env_root: str | None, conf_root: str | None
) -> tuple[str, str | None]:
    """Staging-root policy as a pure, unit-testable function
    (r10 verdict #3: ``mkdtemp`` on the driver's local filesystem is
    only valid when driver and executors SHARE that filesystem — true
    on ``local[N]``, false on any real cluster, where it would
    silently write per-executor fragments).

    Returns ``("root", uri)`` when an explicit staging root is
    configured (env beats conf — same precedence as the other
    SPARK_GRAFT knobs), ``("mkdtemp", None)`` on a local master with
    no override, and ``("degraded", None)`` on a non-local master
    with no override — the caller must then fall back to
    :func:`materialize` (cluster-correct: blocks live on executors),
    never to a driver-local path.
    """
    root = env_root or conf_root
    if root:
        return ("root", root.rstrip("/"))
    if master is not None and master.startswith("local"):
        return ("mkdtemp", None)
    return ("degraded", None)


def _session_scratch(spark: SparkSession) -> str | None:
    """One staging root per session, or ``None`` when no root is
    usable (degraded mode): a non-local master with no configured root
    (see :func:`select_scratch_mode`), or a ``mkdtemp`` that fails.

    * Explicit root (``$SPARK_GRAFT_SCRATCH`` or the
      ``spark.baronbatch.scratch`` conf): any filesystem every
      executor can reach — a DFS/object-store URI on a cluster. A
      session-private ``bb_fixtures_<applicationId>`` subdir keeps
      concurrent sessions apart; local roots are atexit-removed,
      scheme'd URIs are left to the store's lifecycle policy (the
      driver may be gone before a remote delete completes).
    * Local master, no override: a private ``mkdtemp`` dir (mode
      0700, unguessable — a predictable /tmp name could be
      pre-created or symlinked by another local user on a shared
      host), removed at interpreter exit by the process that created
      it.
    """
    import atexit
    import shutil
    import tempfile

    app_id = spark.sparkContext.applicationId
    if app_id in _SCRATCH:
        return _SCRATCH[app_id]
    mode, root = select_scratch_mode(
        spark.sparkContext.master,
        os.environ.get("SPARK_GRAFT_SCRATCH"),
        spark.conf.get("spark.baronbatch.scratch", None),
    )
    if mode == "root":
        base = f"{root}/bb_fixtures_{app_id}"
        if "://" not in base:
            os.makedirs(base, mode=0o700, exist_ok=True)
            atexit.register(shutil.rmtree, base, ignore_errors=True)
    elif mode == "mkdtemp":
        try:
            base = tempfile.mkdtemp(prefix="bb_fixtures_")
        except OSError:  # read-only or full tmp: degraded mode
            base = None
        else:
            atexit.register(shutil.rmtree, base, ignore_errors=True)
    else:
        base = None
    _SCRATCH[app_id] = base
    return base


def materialize(df: DataFrame) -> DataFrame:
    """``df`` cut from its lineage by a lazy local checkpoint: the first
    action that reads it computes it once into block storage, and later
    reads (several consumers, or the next round of an iteration) take
    the stored blocks. The engine's one checkpoint call.

    The blocks free with the frame (at GC; ``unpersist()`` does not
    release them) and are unreplicated, so losing an executor that
    holds one fails the job instead of recomputing it. A durable
    ``checkpoint`` would survive that, at the price of a write and a
    second computation of the frame; no workload measures that side.

    Frames scoped to one block (a streaming gate) use ``cache()`` +
    ``unpersist()`` at its end instead; returned lazy frames use this.
    """
    return df.localCheckpoint(eager=False)


def fixed_point(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    measure: Callable[[DataFrame], object],
    max_rounds: int,
) -> tuple[DataFrame, bool]:
    """``state = materialize(step(state))`` until two rounds in a row
    have an equal ``measure`` (a driver-side action, which is also the
    job that computes the round), or for ``max_rounds`` rounds.
    Returns ``(state, converged)``; the caller decides what the cap
    means. ``measure`` must stop changing exactly when the state does
    (a count of a shrinking set, a sum of falling labels)."""
    prev = object()  # ≠ any measure, None included
    for _ in range(max_rounds):
        state = materialize(step(state))
        cur = measure(state)
        if cur == prev:
            return state, True
        prev = cur
    return state, False


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Scan all fixture tables → {name: DataFrame}."""
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Scan all tables and register each as a temp view (SQL surface)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
