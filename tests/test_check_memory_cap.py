"""The local checker caps DuckDB from the machine it runs on: half of the
physical RAM the Spark driver's heap leaves, so a large oracle spills
instead of growing the process until the kernel kills it."""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from tools.check import duckdb_memory_limit_mb, jvm_memory_bytes  # noqa: E402

GIB = 1 << 30


def test_jvm_memory_bytes_units():
    assert jvm_memory_bytes("8g") == 8 * GIB
    assert jvm_memory_bytes("512M") == 512 << 20
    assert jvm_memory_bytes("2048") == 2 * GIB      # bare number: MiB
    assert jvm_memory_bytes("1.5g") == 3 * GIB // 2


def test_cap_is_half_of_ram_left_beside_driver_heap():
    assert duckdb_memory_limit_mb(15 * GIB, "8g") == 7 * 1024 // 2
    assert duckdb_memory_limit_mb(64 * GIB, "2g") == 31 * 1024
    # a heap as large as the machine still leaves DuckDB a floor
    assert duckdb_memory_limit_mb(8 * GIB, "8g") == 1024


def test_cap_reads_this_machine():
    assert duckdb_memory_limit_mb() >= 1024
