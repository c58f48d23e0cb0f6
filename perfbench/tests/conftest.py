import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT, os.path.join(ROOT, "scripts")]


@pytest.fixture(scope="session")
def tiny_replica(tmp_path_factory):
    """An sf0.001-sized seeded replica (1,500 orders, 100 documents)."""
    import inputs

    out = str(tmp_path_factory.mktemp("replica") / "sf")
    inputs.generate_replica(out, seed=5, mult=0.01, doc_mult=0.02, emb_mult=0.1)
    return out


@pytest.fixture(scope="module")
def session_factory():
    """Start one local session at a time; the module's session is stopped
    when its tests end (Python workers import the program from ROOT)."""
    from osm_coverage_spark.session import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    started = []

    def start(extra_conf=None):
        s = get_spark(app_name="perfbench_tests", master="local[2]",
                      shuffle_partitions=4, extra_conf=extra_conf)
        started.append(s)
        return s

    yield start
    for s in started:
        s.stop()
