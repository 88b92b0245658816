"""Session defaults sized from the host."""

from docling_parse_spark.session import driver_memory

GIB = 1 << 30


def test_driver_memory_is_half_of_ram_clamped(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    assert driver_memory(16 * GIB) == "8192m"
    assert driver_memory(15 * GIB + 123) == "7680m"
    assert driver_memory(GIB) == "1024m"  # floor
    assert driver_memory(1024 * GIB) == "49152m"  # cap: the old 48g default
    # no argument: sized from this host's RAM, always inside the clamp
    mib = int(driver_memory()[:-1])
    assert 1024 <= mib <= 48 * 1024


def test_driver_memory_env_wins(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert driver_memory(16 * GIB) == "3g"
