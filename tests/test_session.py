"""Session defaults that depend on the host."""

from phonlp_spark.pipeline.session import default_driver_memory


def _meminfo(tmp_path, kb):
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kb} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_driver_memory_is_a_quarter_of_memtotal(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 16 * 1024 * 1024)) == "4096m"


def test_driver_memory_capped_at_24g(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 128 * 1024 * 1024)) == "24576m"


def test_driver_memory_unreadable_meminfo(tmp_path):
    assert default_driver_memory(str(tmp_path / "absent")) == "24g"
