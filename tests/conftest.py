from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from streaming_examples_spark import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def tables(spark):
    from streaming_examples_spark import load_tables

    return load_tables(spark, SF_DIR)


def tree_digest(root: str) -> dict[str, str]:
    """Every file under ``root`` by relative path -> sha256 of its
    bytes: two equal digests mean a byte-identical tree."""
    import hashlib

    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def to_manifest_backend_dir(state: str) -> None:
    """Reshape a committed local-posix state dir into what the retired
    generation-pointer backend left: a seal naming ``manifest`` and the
    committed version in ``_pointer/gen-*`` (plus its ``_latest`` hint)
    instead of ``CURRENT``."""
    import json

    with open(os.path.join(state, "_layout.json")) as fh:
        layout = json.load(fh)
    with open(os.path.join(state, "_layout.json"), "w") as fh:
        json.dump({**layout, "backend": "manifest"}, fh)
    current = os.path.join(state, "CURRENT")
    with open(current) as fh:
        version = fh.read().strip()
    os.remove(current)
    os.makedirs(os.path.join(state, "_pointer"))
    with open(os.path.join(state, "_pointer", "gen-000000000001"), "w") as fh:
        fh.write(version)
    with open(os.path.join(state, "_pointer", "_latest"), "w") as fh:
        fh.write("1")
