from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fixtures.gen_pages import gen_rows, write_parquet  # noqa: E402


def _driver_memory_conf() -> dict[str, str]:
    """Without SPARK_DRIVER_MEM, size the test session's driver heap to half
    of the host's MemTotal: the engine default (24g) exceeds small hosts,
    where the kernel then kills the JVM mid-suite."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return {}
    with open("/proc/meminfo", encoding="ascii") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {"spark.driver.memory": f"{kib // 2048}m"}


@pytest.fixture(scope="session")
def spark():
    from engine.session import get_spark

    s = get_spark(
        app_name="spark-extract-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf=_driver_memory_conf(),
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages_unit_path(tmp_path_factory) -> str:
    path = str(tmp_path_factory.mktemp("pages") / "pages_unit.parquet")
    write_parquet(gen_rows(64, seed=42), path)
    return path


@pytest.fixture(scope="session")
def goldens_unit() -> list[dict]:
    golden_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "fixtures", "goldens", "sf_unit.jsonl",
    )
    with open(golden_path, encoding="utf-8") as f:
        return [json.loads(line) for line in f]


@pytest.fixture(scope="session")
def goldens_unit_fallback() -> list[dict]:
    golden_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "fixtures", "goldens", "sf_unit_fallback.jsonl",
    )
    with open(golden_path, encoding="utf-8") as f:
        return [json.loads(line) for line in f]


@pytest.fixture(scope="session")
def pages_small_rows() -> list[dict]:
    return gen_rows(400, seed=7)


@pytest.fixture(scope="session")
def pages_small_path(tmp_path_factory, pages_small_rows) -> str:
    path = str(tmp_path_factory.mktemp("pages_small") / "pages_small.parquet")
    write_parquet(pages_small_rows, path)
    return path
