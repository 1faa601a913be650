"""Spark-free checks of the session's host sizing."""

from __future__ import annotations

from corhist_spark.session import host_defaults

GIB = 1 << 30


def test_host_defaults_follow_the_host():
    assert host_defaults({}, 4, 15 * GIB) == (4, "7680m")
    assert host_defaults({}, 64, 512 * GIB) == (64, "8192m")
    assert host_defaults({}, 1, 2 * GIB) == (1, "1024m")


def test_host_defaults_yield_to_the_environment():
    env = {"SPARK_GRAFT_CPUS": "12", "SPARK_DRIVER_MEMORY": "2g"}
    assert host_defaults(env, 4, 15 * GIB) == (12, "2g")
    # an empty variable counts as unset
    assert host_defaults({"SPARK_GRAFT_CPUS": "", "SPARK_DRIVER_MEMORY": ""}, 4, 15 * GIB) == (4, "7680m")
