"""Session sizing: the default driver heap follows the host."""

from gate_spark.session import default_driver_memory


def test_default_driver_memory_is_a_share_of_memtotal(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16479424 kB\nMemFree:  1 kB\n")
    assert default_driver_memory(str(meminfo)) == f"{16479424 * 55 // 100 // 1024}m"
    assert default_driver_memory(str(tmp_path / "missing")) == "4g"
