"""Session defaults that depend on the host."""

from iceberg_ruby_spark.session import default_driver_memory


def test_default_driver_memory_sizes_from_memtotal(tmp_path):
    """Half of ``MemTotal``, capped at 24g; 24g when the file is missing
    or carries no readable ``MemTotal`` line."""
    meminfo = tmp_path / "meminfo"

    def sized(text):
        meminfo.write_text(text)
        return default_driver_memory(str(meminfo))

    assert sized("MemFree: 1 kB\nMemTotal:       15728640 kB\n") == "7680m"
    assert sized("MemTotal: 67108864 kB\n") == "24g"
    assert sized("MemTotal: 50331648 kB\n") == "24g"  # exactly the cap
    assert sized("MemTotal: lots kB\n") == "24g"
    assert sized("SwapTotal: 0 kB\n") == "24g"
    assert default_driver_memory(str(tmp_path / "absent")) == "24g"
