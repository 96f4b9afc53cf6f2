"""Session defaults that need no JVM."""

from satsure_agri_datapipeline_spark.session import MAX_DRIVER_HEAP_MB, default_driver_memory

GiB = 1024**3


def test_driver_memory_is_half_the_host_capped_at_48g():
    assert default_driver_memory(15 * GiB) == "7680m"
    assert default_driver_memory(64 * GiB) == "32768m"
    assert default_driver_memory(96 * GiB) == f"{MAX_DRIVER_HEAP_MB}m" == "49152m"
    assert default_driver_memory(512 * GiB) == "49152m"
    assert default_driver_memory(1 * GiB) == "1024m"  # floor for tiny hosts


def test_driver_memory_default_fits_this_host():
    mb = int(default_driver_memory().rstrip("m"))
    assert 1024 <= mb <= MAX_DRIVER_HEAP_MB
