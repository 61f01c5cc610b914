"""Driver heap sizing — pure arithmetic, no JVM."""

from __future__ import annotations

import os

from vcf2parquet_spark.session import default_driver_mem, mem_total_bytes


def _mib(size: str) -> int:
    assert size.endswith("m"), size
    return int(size[:-1]) << 20


def test_default_heap_fits_physical_ram():
    host = mem_total_bytes()
    assert host > 0
    for mem, cores in ((host, os.cpu_count() or 1), (4 << 30, 4),
                       (4 << 30, 1)):
        assert 0 < _mib(default_driver_mem(mem, cores)) < mem, (mem, cores)


def test_default_heap_capped_and_floored():
    assert default_driver_mem(1 << 40, 64) == "24576m"     # old 24g cap
    assert default_driver_mem(0, 4) == "512m"              # RAM unknown
