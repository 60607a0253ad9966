"""Session factory defaults."""

from __future__ import annotations

import os

from cql_xmlpipe_spark.session import default_driver_memory


def test_default_driver_memory_below_physical_ram():
    """Without SPARK_GRAFT_DRIVER_MEM the driver heap must fit the host:
    a default above physical RAM kills the JVM once the heap grows."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mem = default_driver_memory()
    assert mem.endswith("g")
    assert 1 <= int(mem[:-1]) and int(mem[:-1]) * 2**30 < ram
