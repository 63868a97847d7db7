"""Session defaults: host-derived parallelism and heap, and the
local-only checkpoint manager."""

from __future__ import annotations

from baronbatch_etl_spark import session as S

GIB = 2**30


def test_host_defaults_follow_the_host():
    assert S.host_defaults({}, 4, 16 * GIB) == ("local[4]", 4, "4096m")
    assert S.host_defaults({}, 64, 256 * GIB) == ("local[64]", 64, "65536m")


def test_host_defaults_floor_small_hosts():
    # no affinity answer reads as one CPU; a tiny host still gets 1 GiB
    assert S.host_defaults({}, 0, GIB) == ("local[1]", 1, "1024m")


def test_host_defaults_env_overrides():
    env = {"SPARK_GRAFT_CPUS": "8", "SPARK_GRAFT_DRIVER_MEM": "3g"}
    assert S.host_defaults(env, 4, 16 * GIB) == ("local[8]", 8, "3g")
    # a non-numeric core spec passes through to the master; partitions
    # then follow the host
    assert S.host_defaults({"SPARK_GRAFT_CPUS": "*"}, 4, 16 * GIB) == (
        "local[*]",
        4,
        "4096m",
    )
    # an empty variable is unset, not "local[]"
    master, _, _ = S.host_defaults({"SPARK_GRAFT_CPUS": ""}, 2, 8 * GIB)
    assert master == "local[2]"


def test_local_master_conf_only_for_local_masters():
    want = {
        "spark.sql.streaming.checkpointFileManagerClass": S.RENAME_CHECKPOINT_MANAGER
    }
    for master in ("local", "local[4]", "local[*]", "local[4,2]"):
        assert S.local_master_conf(master) == want, master
    for master in (
        "spark://host:7077",
        "yarn",
        "k8s://https://host:6443",
        "local-cluster[2,1,1024]",
    ):
        assert S.local_master_conf(master) == {}, master


def test_get_spark_local_session_writes_checkpoints_by_rename(spark):
    assert spark.sparkContext.master.startswith("local[")
    assert (
        spark.conf.get("spark.sql.streaming.checkpointFileManagerClass")
        == S.RENAME_CHECKPOINT_MANAGER
    )
