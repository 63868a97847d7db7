"""Semantic tests for the layout/sketch additions: z-order clustering
actually bounds both dimensions per bucket, and HLL sketch unions
stay inside the error envelope."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from baronbatch_etl_spark.queries import load_all

REG = load_all()


def test_zorder_buckets_bound_both_dimensions(spark, sf_dir):
    rows = REG["q_zorder_layout"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.z_bucket <= 15
        # top-4 z-bits pin the top 2 bits of EACH dimension: every
        # bucket's rectangle is at most 64×64 of the 256×256 space —
        # the property that makes file-level min/max stats prune scans
        # on either predicate column after a z-sorted write.
        assert r.cust_span <= 64
        assert r.day_span <= 64
    # exact quadrant check: bucket bits (3..0) = (day7, cust7, day6,
    # cust6) — each bucket's min/max must sit inside that 64×64 cell
    for r in rows:
        c_hi = ((r.z_bucket >> 1) & 2) | ((r.z_bucket >> 0) & 1)
        d_hi = ((r.z_bucket >> 2) & 2) | ((r.z_bucket >> 1) & 1)
        assert r.min_cust >> 6 == r.max_cust >> 6 == c_hi
        assert r.min_day >> 6 == r.max_day >> 6 == d_hi


def test_zorder_covers_all_rows(spark, sf_dir):
    out = REG["q_zorder_layout"].fn(spark, sf_dir)
    total = out.agg(F.sum("n")).collect()[0][0]
    from baronbatch_etl_spark.io import load_table

    assert total == load_table(spark, sf_dir, "orders").count()


def test_hll_union_invariant(spark, sf_dir):
    r = REG["a_hll_union"].fn(spark, sf_dir).collect()[0]
    assert r.union_ok is True
    assert r.n_sketches >= 1 and r.exact_users >= 1


def test_write_zordered_files_bound_both_dimensions(spark, sf_dir, tmp_path):
    # the WRITE path of the audited property: lay orders out z-ordered
    # on (custkey mod 256, order-day mod 256) and verify — from the
    # parquet footers themselves — that every file's min/max bounds
    # BOTH dimensions inside a 64x64 rectangle, i.e. a predicate on
    # either column prunes at scan time
    import glob

    import pyarrow.parquet as pq

    from baronbatch_etl_spark.io import load_table
    from baronbatch_etl_spark.operators.layout import write_zordered

    o = load_table(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 256).alias("cx"),
        (
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1995-01-01").cast("date"),
            )
            % 256
        ).cast("long").alias("dy"),
        "o_totalprice",
    )
    out = str(tmp_path / "zordered")
    write_zordered(o, out, "cx", "dy")

    files = glob.glob(f"{out}/z_bucket=*/*.parquet")
    assert len(files) >= 8
    n_rows = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        lo = {"cx": 1 << 30, "dy": 1 << 30}
        hi = {"cx": -1, "dy": -1}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            n_rows += g.num_rows
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                if name in lo and col.statistics is not None:
                    lo[name] = min(lo[name], col.statistics.min)
                    hi[name] = max(hi[name], col.statistics.max)
        assert hi["cx"] - lo["cx"] < 64, f
        assert hi["dy"] - lo["dy"] < 64, f
        # and the rectangle sits inside one 64x64 quadrant cell
        assert lo["cx"] >> 6 == hi["cx"] >> 6
        assert lo["dy"] >> 6 == hi["dy"] >> 6
    assert n_rows == o.count()  # nothing lost in the clustered write


def test_write_zordered_rejects_out_of_range_keys(spark, tmp_path):
    # out-of-range keys would wrap under the bit mask and silently
    # void the pruning guarantee — the writer must refuse instead
    import pytest as _pytest

    from baronbatch_etl_spark.operators.layout import write_zordered

    df = spark.range(10).select(
        (F.col("id") + 300).alias("cx"), F.col("id").alias("dy")
    )
    with _pytest.raises(ValueError, match="outside"):
        write_zordered(df, str(tmp_path / "z"), "cx", "dy")


def test_spread_width_is_bytes_aware(spark, sf_dir):
    """spread() sizes its fan-out from the optimizer's input-size
    estimate (one task per SPREAD_BYTES_PER_TASK): tiny single-split
    fixtures must NOT pay a full-width shuffle, large inputs must
    reach full parallelism, and an already-wide partitioning is never
    shrunk (the r6 verdict's bytes-aware gate)."""
    from pyspark.sql import functions as F

    from baronbatch_etl_spark import io as IO

    target = spark.sparkContext.defaultParallelism
    docs = IO.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    est = IO.plan_bytes(docs)
    expected = min(target, -(-est // IO.SPREAD_BYTES_PER_TASK))
    got = IO.spread(docs).rdd.getNumPartitions()
    assert got == max(expected, docs.rdd.getNumPartitions())
    # the sf0.001 smoke fixture is tiny: the whole point is that this
    # is NARROWER than a blanket full-width repartition
    assert got < target
    # a frame the optimizer thinks is big gets full width (inner-join
    # stats multiply child sizes, so this estimate is astronomically
    # conservative — exactly the at-scale-wins default we want)
    big = docs.alias("a").join(
        IO.load_table(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("b_id")),
        F.col("a.doc_id") == F.col("b_id"),
    )
    assert IO.spread(big).rdd.getNumPartitions() == target
    # never shrink: a frame already wider than the bytes rule keeps
    # its partitioning
    wide = docs.repartition(target)
    assert IO.spread(wide).rdd.getNumPartitions() == target


def test_hash_spread_width_is_bounded_by_size_and_shuffle_partitions(
    spark, sf_dir
):
    """hash_spread()'s explicit count (which AQE never coalesces) is
    sized by the input, not by the session's shuffle width: a tiny
    frame gets the core count even when shuffle partitions are set
    cluster-high, a frame the optimizer thinks is big gets the full
    shuffle width, and a shuffle width below the core count caps both.
    """
    from baronbatch_etl_spark import io as IO

    cores = spark.sparkContext.defaultParallelism
    docs = IO.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    big = docs.alias("a").join(
        IO.load_table(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("b_id")),
        F.col("a.doc_id") == F.col("b_id"),
    )
    assert -(-IO.plan_bytes(docs) // IO.SPREAD_BYTES_PER_TASK) <= cores
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    try:
        for shuffle in (8 * cores, max(1, cores // 2)):
            spark.conf.set(key, str(shuffle))
            small = IO.hash_spread(docs, "doc_id")
            assert small.rdd.getNumPartitions() == min(cores, shuffle)
            assert IO.hash_spread(big, "doc_id").rdd.getNumPartitions() == (
                shuffle
            )
            plan = small._jdf.queryExecution().executedPlan().toString()
            assert re.search(r"hashpartitioning\(doc_id#\d+L?, ", plan), plan
            assert "REPARTITION_BY_NUM" in plan, plan
    finally:
        spark.conf.set(key, before)


def test_spread_width_properties():
    """Property-pin the one bytes→partitions rule under each clamp the
    engine passes it: spread() ([current, target]), the rank range
    partitions ([2, shuffle partitions]) and the staged-fixture and
    compaction file counts (at least 1, no upper bound). Bounded,
    monotonic in the estimate, full width from 'big enough', never
    zero partitions, and an exact integer ceil even near 2^63
    (Catalyst's estimate for an unknown size)."""
    from hypothesis import given, strategies as st

    from baronbatch_etl_spark.io import spread_width

    @given(
        est=st.integers(min_value=0, max_value=1 << 50),
        current=st.integers(min_value=1, max_value=64),
        target=st.integers(min_value=1, max_value=4096),
        bpt=st.integers(min_value=1, max_value=1 << 30),
    )
    def check(est, current, target, bpt):
        w = spread_width(est, current, target, bpt)
        assert current <= w or w == current  # never shrinks
        assert w >= min(current, target)
        assert w <= max(current, target)
        # monotonic in the estimate
        assert spread_width(est + bpt, current, target, bpt) >= w
        # big inputs always reach full width (the f592f3b invariant:
        # the at-scale regime must never be narrowed)
        assert spread_width(target * bpt, current, target, bpt) >= min(
            target, max(current, target)
        ) or current > target
        if est > 0 and current == 1:
            assert w >= 1

    @given(
        est=st.integers(min_value=0, max_value=1 << 50),
        cap=st.integers(min_value=1, max_value=4096),
        bpp=st.integers(min_value=1, max_value=1 << 30),
    )
    def check_rank(est, cap, bpp):
        w = spread_width(est, 2, cap, bpp)
        # at least 2 keeps the multi-partition path exercised
        assert 2 <= w <= max(2, cap)
        assert spread_width(est + bpp, 2, cap, bpp) >= w
        assert spread_width(cap * bpp, 2, cap, bpp) == max(2, cap)

    def exact_ceil(est, bpp):
        # the count is the exact ceil: every byte fits, no spare part
        n = spread_width(est, 1, bytes_per_part=bpp)
        assert n >= 1
        assert n * bpp >= est
        assert n == 1 or (n - 1) * bpp < est
        return n

    @given(
        est=st.integers(min_value=0, max_value=1 << 50),
        bpp=st.integers(min_value=1, max_value=1 << 30),
    )
    def check_files(est, bpp):
        exact_ceil(est, bpp)

    check()
    check_rank()
    check_files()
    top = (1 << 63) - 1
    for bpp in (1, 3, 7, 64 << 10, 4 << 20, 128 << 20, (1 << 40) + 1):
        for est in (top, top - 1, top - bpp, 1 << 62, (1 << 62) + 1):
            exact_ceil(est, bpp)
    # float division rounds here (ceil(top / 3) is off by 171)
    assert spread_width(top, 1, bytes_per_part=3) == top // 3 + 1
    assert spread_width(top, 1, bytes_per_part=128 << 20) == 1 << 36
    assert spread_width(top, 2, 8, 4 << 20) == 8


def test_session_fixture_stages_once_and_matches_build(spark, sf_dir):
    """session_fixture must hand every consumer the SAME staged frame
    (one derivation per session) with values identical to the direct
    build — the contract the graph/p11 shared-derivation queries rely
    on."""
    from baronbatch_etl_spark import io as bio

    calls = []

    def build():
        calls.append(1)
        return (
            bio.load_table(spark, sf_dir, "orders")
            .groupBy("o_orderstatus")
            .count()
        )

    name = "test_fixture_orders_by_status"
    a = bio.session_fixture(spark, sf_dir, name, build)
    b = bio.session_fixture(spark, sf_dir, name, build)
    assert a is b  # memo hit — build ran exactly once
    assert calls == [1]
    direct = sorted(map(tuple, build().collect()))
    staged = sorted(map(tuple, a.collect()))
    assert staged == direct


def test_session_fixture_keys_by_sf_dir(spark, sf_dir, tmp_path):
    """Two sf_dirs must not collide in the memo (a staged frame for
    one scale factor answering for another would be silent wrong
    data)."""
    from baronbatch_etl_spark import io as bio

    def build_a():
        return spark.range(3).withColumnRenamed("id", "k")

    def build_b():
        return spark.range(5).withColumnRenamed("id", "k")

    a = bio.session_fixture(spark, "/fake/sf_a", "test_fixture_range", build_a)
    b = bio.session_fixture(spark, "/fake/sf_b", "test_fixture_range", build_b)
    assert a.count() == 3
    assert b.count() == 5


def test_session_fixture_colliding_sf_dir_spellings_stay_distinct(spark):
    """Distinct sf_dir strings that a lossy path sanitization would
    merge ('/fake/sf_x' vs '/fake_sf_x') must stage to distinct
    scratch paths — an overwrite would delete part files under the
    earlier fixture's still-live scan."""
    from baronbatch_etl_spark import io as bio

    a = bio.session_fixture(
        spark, "/fake/sf_x", "test_fixture_collide",
        lambda: spark.range(2).withColumnRenamed("id", "k"),
    )
    b = bio.session_fixture(
        spark, "/fake_sf_x", "test_fixture_collide",
        lambda: spark.range(7).withColumnRenamed("id", "k"),
    )
    assert b.count() == 7
    assert a.count() == 2  # the earlier handle must still resolve


def test_select_scratch_mode_branches():
    """The staging-root policy (r10 verdict #3): explicit root wins
    everywhere (env beats conf), driver-local mkdtemp is offered ONLY
    under a local master, and a cluster master with no configured
    root degrades to localCheckpoint — never to a driver-local path
    that executors cannot read."""
    from baronbatch_etl_spark.io import select_scratch_mode as sel

    # explicit roots win on any master; env beats conf; trailing /
    # normalized
    assert sel("local[32]", "/scr", None) == ("root", "/scr")
    assert sel("spark://host:7077", None, "hdfs://nn/stage/") == (
        "root",
        "hdfs://nn/stage",
    )
    assert sel("k8s://https://api", "/env", "/conf") == ("root", "/env")
    # local master, no override → private mkdtemp
    assert sel("local[8]", None, None) == ("mkdtemp", None)
    assert sel("local-cluster[2,1,1024]", None, None) == ("mkdtemp", None)
    # cluster master (or unknown), no override → degraded
    assert sel("yarn", None, None) == ("degraded", None)
    assert sel("spark://host:7077", None, None) == ("degraded", None)
    assert sel(None, None, None) == ("degraded", None)


def test_checkpoints_only_in_io():
    """io.materialize is the package's one checkpoint call: no other
    module calls localCheckpoint( or .checkpoint( itself."""
    from pathlib import Path

    import baronbatch_etl_spark as pkg

    root = Path(pkg.__file__).parent
    calls = [
        f"{p.relative_to(root)}:{n}"
        for p in sorted(root.rglob("*.py"))
        if p != root / "io.py"
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if "localCheckpoint(" in line or ".checkpoint(" in line
    ]
    assert calls == []


def test_session_fixture_honors_scratch_env(spark, tmp_path, monkeypatch):
    """SPARK_GRAFT_SCRATCH must redirect staging into the configured
    root (the cluster deployment's DFS path), under a
    session-private subdir."""
    from baronbatch_etl_spark import io as bio

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    # the root is memoized per applicationId — drop any earlier
    # mkdtemp decision so the env override is exercised
    app_id = spark.sparkContext.applicationId
    saved = bio._SCRATCH.pop(app_id, None)
    try:
        df = bio.session_fixture(
            spark, "/fake/sf_env", "test_fixture_env_root",
            lambda: spark.range(4).withColumnRenamed("id", "k"),
        )
        assert df.count() == 4
        staged = list(
            (tmp_path / f"bb_fixtures_{app_id}").rglob(
                "test_fixture_env_root/*.parquet"
            )
        )
        assert staged, "fixture was not staged under SPARK_GRAFT_SCRATCH"
    finally:
        bio._SCRATCH.pop(app_id, None)
        if saved is not None:
            bio._SCRATCH[app_id] = saved


def test_session_fixture_records_build_seconds(spark):
    """Every staged fixture must leave its build cost in
    FIXTURE_BUILD_SECONDS so bench.py can stamp it (r10 verdict #1:
    staging cost was invisible in every recorded number)."""
    from baronbatch_etl_spark import io as bio

    bio.FIXTURE_BUILD_SECONDS.pop("test_fixture_timed", None)
    bio.session_fixture(
        spark, "/fake/sf_t", "test_fixture_timed",
        lambda: spark.range(10).withColumnRenamed("id", "k"),
    )
    assert bio.FIXTURE_BUILD_SECONDS.get("test_fixture_timed", 0) > 0


def test_session_fixture_failing_build_raises(spark):
    """Only a missing staging root degrades to localCheckpoint: a build
    that fails while it runs, or a frame the staging write rejects,
    must raise — never turn into an unreported slow path — and leave
    nothing memoized."""
    import pytest as _pytest
    from pyspark.errors import AnalysisException, SparkRuntimeException

    from baronbatch_etl_spark import io as bio

    failing = {
        "test_fixture_build_fails": (
            lambda: spark.range(3).where("assert_true(id < 0) IS NULL"),
            SparkRuntimeException,
        ),
        "test_fixture_write_fails": (
            lambda: spark.range(3).selectExpr(
                "id AS k", "make_interval(0, 0, 0, 1) AS iv"
            ),
            AnalysisException,
        ),
    }
    for name, (build, err) in failing.items():
        with _pytest.raises(err):
            bio.session_fixture(spark, "/fake/sf_fail", name, build)
        key = (spark.sparkContext.applicationId, "/fake/sf_fail", name)
        assert key not in bio._FIXTURES


def _jobs_launched(spark, fn):
    """(fn's result, number of Spark jobs fn launched), counted through
    the status tracker under a private job group."""
    import uuid

    sc = spark.sparkContext
    group = f"test-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store through the async
    # listener bus: drain it before counting
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_session_fixture_sizes_its_write_without_a_job(spark, monkeypatch):
    """Deciding the staged file count must not run the build: under AQE
    asking a frame with an exchange for its partition count runs the
    shuffle stages in a job of their own, which the write then repeats.
    The write is stubbed to stop, so every job counted is the
    decision's."""
    import pytest as _pytest
    from pyspark.sql.readwriter import DataFrameWriter

    from baronbatch_etl_spark import io as bio

    class _Stop(Exception):
        pass

    def stop(self, *args, **kwargs):
        raise _Stop

    monkeypatch.setattr(DataFrameWriter, "parquet", stop)

    def build():
        return spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()

    def stage():
        with _pytest.raises(_Stop):
            bio.session_fixture(spark, "/fake/sf_nojob", "test_fixture_nojob", build)

    _, n_jobs = _jobs_launched(spark, stage)
    assert n_jobs == 0


def test_load_table_infers_schema_once_per_session(spark, tmp_path):
    """A repeat load of a local parquet file reuses the schema the
    first load inferred: no inference job, same schema and rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from baronbatch_etl_spark import io as bio

    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}),
        tmp_path / "region.parquet",
    )
    first, n_first = _jobs_launched(
        spark, lambda: bio.load_table(spark, str(tmp_path), "region")
    )
    again, n_again = _jobs_launched(
        spark, lambda: bio.load_table(spark, str(tmp_path), "region")
    )
    assert n_first >= 1  # the inference job the memo saves
    assert n_again == 0
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


def test_load_table_reinfers_a_rewritten_file(spark, tmp_path):
    """Rewriting the file with a different schema changes its size and
    mtime, so the next load infers the new schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from baronbatch_etl_spark import io as bio

    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    assert bio.load_table(spark, str(tmp_path), "region").columns == [
        "r_regionkey"
    ]
    pq.write_table(
        pa.table({"r_regionkey": [5], "r_comment": ["rewritten"]}), path
    )
    df, n_jobs = _jobs_launched(
        spark, lambda: bio.load_table(spark, str(tmp_path), "region")
    )
    assert n_jobs >= 1
    assert df.columns == ["r_regionkey", "r_comment"]
    assert [tuple(r) for r in df.collect()] == [(5, "rewritten")]


def test_load_table_directory_path_is_not_memoised(spark, tmp_path):
    """A directory table (Spark's own part-file layout) loads exactly
    as spark.read.parquet does, and leaves nothing in the memo."""
    from baronbatch_etl_spark import io as bio

    path = tmp_path / "region.parquet"
    spark.range(6).selectExpr(
        "id AS r_regionkey", "CAST(id AS STRING) AS r_name"
    ).repartition(3).write.parquet(str(path))
    before = dict(bio._SCHEMAS)
    df = bio.load_table(spark, str(tmp_path), "region")
    direct = spark.read.parquet(str(path))
    assert df.schema == direct.schema
    assert sorted(df.collect()) == sorted(direct.collect())
    assert bio._SCHEMAS == before
    _, n_again = _jobs_launched(
        spark, lambda: bio.load_table(spark, str(tmp_path), "region")
    )
    assert n_again >= 1  # inferred afresh, as before the memo
