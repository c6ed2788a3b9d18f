"""Host-fit session defaults: cores and driver memory come from the host
when neither the arguments nor the env overrides set them. No session is
started here."""

import os

from search_engine_spark import session


def test_defaults_follow_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1, 2})
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": (15 << 30) // 4096}
    monkeypatch.setattr(os, "sysconf", lambda name: pages[name])
    assert session.default_cores() == 3
    assert session.default_driver_memory() == "7g"  # half of 15 GiB
    pages["SC_PHYS_PAGES"] = (1 << 30) // 4096
    assert session.default_driver_memory() == "1g"  # never below 1g


def test_env_overrides_win(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0})
    assert session.default_cores() == 6
    assert session.default_driver_memory() == "3g"


def test_real_host_values_fit_the_host():
    if "SPARK_GRAFT_CPUS" not in os.environ:
        assert session.default_cores() == len(os.sched_getaffinity(0))
    if "SPARK_DRIVER_MEM" not in os.environ:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        gib = int(session.default_driver_memory().rstrip("g"))
        assert 1 <= gib and gib << 30 <= max(ram, 1 << 30)
