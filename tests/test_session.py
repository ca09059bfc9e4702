"""Session defaults that must hold on the host running the suite."""

from joern_spark.session import default_driver_mem


def test_default_driver_mem_is_a_quarter_of_ram_within_bounds():
    gib = 1024 * 1024  # kB
    # a 15.7 GB host gets a quarter of its RAM, in megabytes
    assert default_driver_mem(16479424) == "4023m"
    assert default_driver_mem(16 * gib) == "4096m"
    # capped at 16g on big hosts, floored at 1g on tiny ones
    assert default_driver_mem(128 * gib) == "16384m"
    assert default_driver_mem(512 * gib) == "16384m"
    assert default_driver_mem(2 * gib) == "1024m"
    assert default_driver_mem(0) == "1024m"
