import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crawler_pyspider_spark.session import driver_mem_default, get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # One JVM serves the whole suite (100+ tests): broadcast relations,
    # cached plans and codegen classes accumulate heap across tests, and
    # the default 8g driver was measured to die mid-suite with "Not
    # enough memory to build and broadcast" — taking every later test
    # down with ConnectionRefused.  Give the test driver as much headroom
    # as the host allows (a 10g heap ran the suite at an 11.4 GB RSS
    # peak); an exported SPARK_GRAFT_DRIVER_MEM still wins.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", driver_mem_default())
    s = get_spark(app_name="tests", cores=4, shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def small_world(spark):
    """Tiny deterministic web: 120 pages, 8 hosts, 4 links/page."""
    from crawler_pyspider_spark.sources import synth

    pages = synth.gen_pages(spark, n_pages=120, n_hosts=8, show=4).cache()
    pages.count()
    robots = synth.gen_robots(spark, 8).cache()
    politeness = synth.gen_politeness(spark, 8, rate=1000.0, burst=10000.0).cache()
    seeds = synth.gen_seeds(spark, pages, 4).cache()
    return {"pages": pages, "robots": robots, "politeness": politeness, "seeds": seeds}
