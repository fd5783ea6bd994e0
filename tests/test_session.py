"""Default JVM heap sizing: fits the host's RAM, whatever the cores."""

import pytest

from geokit_spark import session
from geokit_spark.session import default_driver_mem_gb

GIB_KB = 1 << 20


@pytest.mark.parametrize(
    "cores, mem_kb, want",
    [
        (4, 256 * GIB_KB, 16),  # plentiful RAM: the 16 GiB floor
        (32, 256 * GIB_KB, 48),  # plentiful RAM: 1.5 GiB per slot
        (4, 15 * GIB_KB, 9),  # 15 GiB host: 0.6 x 15, under the floor
        (32, 15 * GIB_KB, 9),
        (4, 1 * GIB_KB, 1),  # never 0g
        (4, None, 16),  # MemTotal unknown: unclamped
    ],
)
def test_heap_default_fits_the_host(cores, mem_kb, want):
    assert default_driver_mem_gb(cores, mem_kb) == want


def test_get_spark_default_uses_the_clamp(monkeypatch):
    """get_spark's default heap comes from MemTotal (mocked small) and
    SPARK_DRIVER_MEM still overrides it; the codegen class cache is
    sized past the benchmark's 225 classes and extra= overrides it."""
    seen = {}

    class _Builder:
        def master(self, _):
            return self

        def appName(self, _):
            return self

        def config(self, k, v):
            seen[k] = v
            return self

        def getOrCreate(self):
            raise RuntimeError("stop before starting a JVM")

    monkeypatch.setattr(session.SparkSession, "builder", _Builder())
    monkeypatch.setattr(session, "_mem_total_kb", lambda: 8 * GIB_KB)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    try:
        session.get_spark(cores=4)
    except RuntimeError:
        pass
    assert seen["spark.driver.memory"] == "4g"
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    try:
        session.get_spark(cores=4)
    except RuntimeError:
        pass
    assert seen["spark.driver.memory"] == "3g"
    assert seen["spark.sql.codegen.cache.maxEntries"] == "1024"
    try:
        session.get_spark(
            cores=4, extra={"spark.sql.codegen.cache.maxEntries": "64"}
        )
    except RuntimeError:
        pass
    assert seen["spark.sql.codegen.cache.maxEntries"] == "64"
