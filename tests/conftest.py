import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_SMOKE = "/root/testdata/sf0.001"


def _host_driver_mem() -> str | None:
    """~40% of the host's memory, never above the session's 48g default:
    the default heap outgrows a small host and gets the test JVM
    OOM-killed.  None when the host total is unreadable."""
    try:
        with open("/proc/meminfo") as fh:
            kib = next(int(line.split()[1]) for line in fh
                       if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return None
    return f"{min(48 * 1024, kib * 2 // 5 // 1024)}m"


# read by graphraft_spark.session at import, so set before any test
# module imports it
_DRIVER_MEM = _host_driver_mem()
if _DRIVER_MEM is not None:
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", _DRIVER_MEM)


@pytest.fixture(scope="session")
def spark():
    from graphraft_spark.session import get_spark

    s = get_spark("graphraft-tests", master="local[4]",
                  extra_conf={"spark.sql.shuffle.partitions": "4"})
    yield s


@pytest.fixture(scope="session")
def tiny_graph(spark):
    """Hand-built fixture graph with known answers (FIXTURES.md §4):
    two authors sharing a name, a both-direction CITES pair, a hub topic.

    nodes: 1-3 Author, 10-13 Paper, 20 Institution, 30 FieldOfStudy
    """
    from pyspark.sql.types import StructType

    from graphraft_spark.graph.model import PropertyGraph
    from graphraft_spark.session import local_frame

    def frame(rows, ddl):
        # a local relation: a parallelized list would plan an RDD scan
        # whose every action starts Python workers
        schema = StructType.fromDDL(ddl)
        return local_frame(spark, [dict(zip(schema.names, r)) for r in rows],
                           schema)

    nodes = frame(
        [
            (1, "Author", "Ada"),
            (2, "Author", "Ada"),        # duplicate name (multi-binding)
            (3, "Author", "Bob"),
            (10, "Paper", "P-alpha"),
            (11, "Paper", "P-beta"),
            (12, "Paper", "P-gamma"),
            (13, "Paper", "P-delta"),
            (20, "Institution", "MIT"),
            (30, "FieldOfStudy", "ML"),
        ],
        "nodeId bigint, label string, name string",
    )
    edges = frame(
        [
            (100, 1, 10, "WRITES"),
            (101, 1, 11, "WRITES"),
            (102, 2, 12, "WRITES"),   # the *other* Ada
            (103, 3, 11, "WRITES"),
            (104, 3, 13, "WRITES"),
            (105, 1, 20, "AFFILIATED_WITH"),
            (106, 3, 20, "AFFILIATED_WITH"),
            (107, 10, 11, "CITES"),
            (108, 11, 10, "CITES"),   # both-direction pair (SURVEY §7.1)
            (109, 12, 10, "CITES"),
            (110, 10, 30, "HAS_TOPIC"),
            (111, 11, 30, "HAS_TOPIC"),
            (112, 12, 30, "HAS_TOPIC"),
            (113, 13, 30, "HAS_TOPIC"),
        ],
        "edgeId bigint, src bigint, dst bigint, relType string",
    )
    return PropertyGraph(nodes=nodes, edges=edges)
