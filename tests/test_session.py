"""``build_session``'s master-URL parsing, without a session."""

from __future__ import annotations

import pytest

from goskyr_spark.spark.session import master_cores


@pytest.mark.parametrize(
    "master, cores",
    [
        ("local", 1),
        ("local[4]", 4),
        ("local[*]", 6),
        ("local[4,2]", 4),
        ("local[*,3]", 6),
        ("local-cluster[2,1,1024]", 2),
        ("local-cluster[3, 2, 512]", 6),
        ("spark://host:7077", 6),
        ("yarn", 6),
    ],
)
def test_master_cores(master, cores):
    assert master_cores(master, cpus=6) == cores
