"""get_spark's host-derived defaults, checked without starting a session."""

from pycrawler_spark import session


def test_defaults_follow_the_host(monkeypatch):
    for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"):
        monkeypatch.delenv(k, raising=False)
    # 3 CPUs in the affinity mask (not 0..n-1), 16 GiB of RAM
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 2, 5})
    conf = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": 16 * 2**30 // 4096}
    monkeypatch.setattr(session.os, "sysconf", conf.__getitem__)
    assert session.default_master() == "local[3]"
    assert session.default_driver_mem() == "4g"
    conf["SC_PHYS_PAGES"] = 2**30 // 4096  # a 1 GiB host keeps a 1g floor
    assert session.default_driver_mem() == "1g"

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    assert session.default_master() == "local[2]"
    monkeypatch.setenv("SPARK_GRAFT_MASTER", "local-cluster[2,1,1024]")
    assert session.default_master() == "local-cluster[2,1,1024]"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "6g")
    assert session.default_driver_mem() == "6g"
