"""Driver-heap sizing in ``session.get_spark``: the explicit override
passes through, and the default fits the host. No Spark needed: the
memory probe is monkeypatched.
"""

from __future__ import annotations

import logging

import pytest

from flink_project_spark import session as S
from tests.conftest import pytest_report_header

GIB = 1 << 30


def _heap_gib(value: str) -> int:
    assert value.endswith("g"), value
    return int(value[:-1])


@pytest.fixture
def host(monkeypatch):
    """Set the probed (physical, cgroup limit) in bytes; env unset."""
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)

    def set_host(physical: int, cgroup_limit: int | None = None) -> None:
        monkeypatch.setattr(S, "_host_memory", lambda: (physical, cgroup_limit))

    return set_host


@pytest.mark.parametrize("value", ["4g", "7168m", "100g", "512m"])
def test_explicit_env_value_passes_through_verbatim(host, monkeypatch, value):
    host(16 * GIB)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", value)
    assert S._driver_memory() == value


@pytest.mark.parametrize(
    "physical",
    [2 * GIB, 3 * GIB, 8 * GIB, 15 * GIB + 700 * (1 << 20), 64 * GIB,
     96 * GIB, 512 * GIB],
)
def test_default_is_within_half_of_host_and_48g(host, physical):
    host(physical)
    heap = _heap_gib(S._driver_memory())
    assert heap * GIB <= physical // 2
    assert heap <= 48
    # whole-GiB rounding gives up less than 1 GiB of the half
    assert heap == 48 or (heap + 1) * GIB > physical // 2


def test_default_on_15gb_host_and_at_the_48g_cap(host):
    host(15 * GIB + 700 * (1 << 20))
    assert S._driver_memory() == "7g"
    host(96 * GIB)
    assert S._driver_memory() == "48g"
    host(1024 * GIB)
    assert S._driver_memory() == "48g"


@pytest.mark.parametrize("physical", [0, 256 << 20, GIB, 2 * GIB + GIB // 2])
def test_default_is_never_below_1g(host, physical):
    host(physical)
    assert S._driver_memory() == "1g"


def test_smaller_cgroup_limit_is_honoured(host):
    host(64 * GIB, cgroup_limit=6 * GIB)
    assert S._driver_memory() == "3g"
    # a limit above physical memory does not raise the heap
    host(8 * GIB, cgroup_limit=64 * GIB)
    assert S._driver_memory() == "4g"


def test_resolution_logs_heap_and_inputs(host, monkeypatch, caplog):
    host(16 * GIB, cgroup_limit=10 * GIB)
    with caplog.at_level(logging.INFO, logger=S.__name__):
        assert S._driver_memory() == "5g"
    (msg,) = [r.getMessage() for r in caplog.records]
    assert "5g" in msg and "16.0 GiB" in msg and "10.0 GiB" in msg
    assert "SPARK_GRAFT_DRIVER_MEM=None" in msg
    # the test suite's report header prints the same line
    assert pytest_report_header(None) == msg

    caplog.clear()
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "4g")
    with caplog.at_level(logging.INFO, logger=S.__name__):
        S._driver_memory()
    (msg,) = [r.getMessage() for r in caplog.records]
    assert "SPARK_GRAFT_DRIVER_MEM=4g" in msg


def test_host_memory_probe_reports_this_host():
    physical, cgroup_limit = S._host_memory()
    assert physical > 0
    assert cgroup_limit is None or cgroup_limit > 0
