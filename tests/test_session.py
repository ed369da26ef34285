"""Driver heap sizing: the pre-touched heap follows the host's
MemAvailable, so the JVM can always commit it at start."""

from deces_dataprep_spark.session import (
    _DEFAULT_HEAP_SHARE,
    _MAX_HEAP_SHARE,
    _MIN_HEAP_MB,
    _driver_heap_mb,
)


def _meminfo(tmp_path, avail_kib: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text("MemTotal:       16456384 kB\n"
                 "MemFree:         1000000 kB\n"
                 f"MemAvailable:   {avail_kib} kB\n")
    return str(p)


def test_default_heap_is_a_share_of_mem_available(tmp_path):
    info = _meminfo(tmp_path, 15 * 1024 * 1024)  # 15 GiB free
    assert _driver_heap_mb(None, info) == int(15 * 1024 * _DEFAULT_HEAP_SHARE)
    assert _driver_heap_mb("", info) == _driver_heap_mb(None, info)


def test_explicit_heap_is_clamped_to_the_host(tmp_path):
    info = _meminfo(tmp_path, 15 * 1024 * 1024)
    cap = int(15 * 1024 * _MAX_HEAP_SHARE)
    # the old 16g default and bench.py's 48g cannot be committed on a
    # host with 15 GiB free
    assert _driver_heap_mb("16g", info) == cap
    assert _driver_heap_mb("48G", info) == cap
    # requests that fit are kept as asked, in any JVM size unit
    assert _driver_heap_mb("2g", info) == 2048
    assert _driver_heap_mb("1536m", info) == 1536
    assert _driver_heap_mb(str(3 << 30), info) == 3072


def test_heap_never_below_floor(tmp_path):
    info = _meminfo(tmp_path, 1024 * 1024)  # 1 GiB free
    assert _driver_heap_mb(None, info) == _MIN_HEAP_MB
    assert _driver_heap_mb("64m", info) == _MIN_HEAP_MB
