"""Driver heap derivation in ``session_confs``: pure, no JVM started."""

import re

import pytest

from paperslicer_spark.session import host_heap, session_confs

GIB = 2 ** 30


def _xms_mib(confs):
    return int(re.search(r"-Xms(\d+)m\b",
                         confs["spark.driver.extraJavaOptions"])[1])


def test_small_host_gets_a_quarter_of_ram():
    assert host_heap(15 * GIB) == "3840m"
    confs = session_confs(env={}, ram_bytes=15 * GIB)
    assert confs["spark.driver.memory"] == "3840m"
    assert _xms_mib(confs) == 3840


def test_large_host_is_capped_at_8g():
    assert host_heap(64 * GIB) == "8192m"
    assert session_confs(env={}, ram_bytes=64 * GIB)[
        "spark.driver.memory"] == "8192m"


def test_env_heap_wins_over_host_size():
    confs = session_confs(env={"SPARK_DRIVER_MEMORY": "3g"},
                          ram_bytes=64 * GIB)
    assert confs["spark.driver.memory"] == "3g"
    assert _xms_mib(confs) == 3 * 1024


@pytest.mark.parametrize("env", [{}, {"SPARK_DRIVER_MEMORY": "8g"}])
def test_extra_confs_heap_sets_xms(env):
    confs = session_confs({"spark.driver.memory": "3584m"}, env=env,
                          ram_bytes=64 * GIB)
    assert confs["spark.driver.memory"] == "3584m"
    assert _xms_mib(confs) == 3584
    assert "-XX:+AlwaysPreTouch" in confs["spark.driver.extraJavaOptions"]


@pytest.mark.parametrize("heap,half", [("8g", "4096m"), ("1g", "512m"),
                                       ("3584m", "1792m"), ("2048", "1024m")])
def test_max_result_size_is_half_the_heap(heap, half):
    confs = session_confs(env={"SPARK_DRIVER_MEMORY": heap})
    assert confs["spark.driver.maxResultSize"] == half


def test_unparseable_heap_is_rejected():
    with pytest.raises(ValueError):
        session_confs(env={"SPARK_DRIVER_MEMORY": "lots"})
