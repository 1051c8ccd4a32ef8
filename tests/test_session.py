"""get_spark's driver memory, checked without starting Spark."""

import pytest

from ivory_spark import session

GIB = 1 << 30


@pytest.mark.parametrize(
    "ram, want",
    [
        (15 * GIB, "3840m"),  # a quarter
        (3 * GIB, "1024m"),  # floor 1g
        (64 * GIB, "16384m"),
        (256 * GIB, "16384m"),  # cap 16g
    ],
)
def test_driver_memory_default_is_a_quarter_of_ram(monkeypatch, ram, want):
    page = 4096
    sysconf = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": ram // page}
    monkeypatch.setattr(session.os, "sysconf", sysconf.__getitem__)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    assert session.driver_memory() == want


def test_driver_memory_env_overrides(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert session.driver_memory() == "3g"
