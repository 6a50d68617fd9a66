"""Session sizing: the default driver heap must fit the host it runs on;
session conf that keeps the driver-side build cheap."""

from __future__ import annotations

from cm_well_spark import session


def _bytes(spec: str) -> int:
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    spec = spec.strip().lower()
    return int(spec[:-1]) * units[spec[-1]] if spec[-1] in units else int(spec)


def test_default_heap_fits_host(monkeypatch):
    monkeypatch.delenv("CMW_DRIVER_MEM", raising=False)
    heap = _bytes(session.driver_memory())
    assert 0 < heap <= session.host_memory() // 2
    assert heap <= 24 << 30


def test_driver_mem_override(monkeypatch):
    monkeypatch.setenv("CMW_DRIVER_MEM", "3g")
    assert session.driver_memory() == "3g"


def test_call_site_capture_off(spark):
    # per-call Python call-site capture costs py4j round trips on every
    # pyspark.sql.functions call (see session.get_spark)
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
