from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from streaming_examples_spark import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _driver_mem_from_ram() -> str | None:
    """Half the machine's physical RAM, capped at the session's 16g
    default: a full test run grows the JVM toward its heap limit, and a
    heap sized past the RAM gets the JVM killed by the kernel instead
    of collected."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    except (OSError, StopIteration, ValueError):
        return None  # no /proc: keep the session default
    return f"{min(16 * 1024, kb // 2048)}m"


_ram_mem = _driver_mem_from_ram()
if _ram_mem is not None:
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", _ram_mem)


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def tables(spark):
    from streaming_examples_spark import load_tables

    return load_tables(spark, SF_DIR)
