"""Driver heap derivation in ``session_confs``: pure, no JVM started."""

import pytest

from paperslicer_spark.session import host_heap, session_confs

GIB = 2 ** 30


def test_small_host_gets_a_quarter_of_ram():
    assert host_heap(15 * GIB) == "3840m"
    confs = session_confs(env={}, ram_bytes=15 * GIB)
    assert confs["spark.driver.memory"] == "3840m"


def test_large_host_is_capped_at_8g():
    assert host_heap(64 * GIB) == "8192m"
    assert session_confs(env={}, ram_bytes=64 * GIB)[
        "spark.driver.memory"] == "8192m"


def test_env_heap_wins_over_host_size():
    confs = session_confs(env={"SPARK_DRIVER_MEMORY": "3g"},
                          ram_bytes=64 * GIB)
    assert confs["spark.driver.memory"] == "3g"


@pytest.mark.parametrize("env", [{}, {"SPARK_DRIVER_MEMORY": "8g"}])
def test_extra_confs_heap_wins_over_env(env):
    confs = session_confs({"spark.driver.memory": "3584m"}, env=env,
                          ram_bytes=64 * GIB)
    assert confs["spark.driver.memory"] == "3584m"


@pytest.mark.parametrize("extra,env", [
    ({}, {}),                                     # host_heap()
    ({}, {"SPARK_DRIVER_MEMORY": "3g"}),          # environment
    ({"spark.driver.memory": "3584m"}, {}),       # extra_confs
])
def test_heap_is_a_ceiling_not_pre_touched(extra, env):
    """Whichever source sets the heap ceiling, the only driver JVM
    option is the collector: no initial-heap floor and no start-up
    touch, so the heap grows to its working set."""
    confs = session_confs(extra, env=env, ram_bytes=15 * GIB)
    assert confs["spark.driver.extraJavaOptions"].split() == ["-XX:+UseG1GC"]


@pytest.mark.parametrize("heap,half", [("8g", "4096m"), ("1g", "512m"),
                                       ("3584m", "1792m"), ("2048", "1024m")])
def test_max_result_size_is_half_the_heap(heap, half):
    confs = session_confs(env={"SPARK_DRIVER_MEMORY": heap})
    assert confs["spark.driver.maxResultSize"] == half


def test_unparseable_heap_is_rejected():
    with pytest.raises(ValueError):
        session_confs(env={"SPARK_DRIVER_MEMORY": "lots"})
