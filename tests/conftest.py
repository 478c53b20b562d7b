import sys
from pathlib import Path

import pytest

# repo root importable regardless of pytest invocation dir
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


@pytest.fixture(scope="session")
def spark():
    from html5ever_elixir_spark.session import get_spark

    s = get_spark(app_name="pytest", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def checkpoint_plans(spark):
    """``checkpoint_plans(run)`` calls ``run()`` and returns its result
    with the physical plans of the eager ``localCheckpoint`` jobs it
    ran, read from the SQL status store. A barrier truncates the
    returned frame's plan to a ``Scan ExistingRDD``, so the shape of
    the work before it is only visible in these job plans."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        bus.waitUntilEmpty()  # the status store is fed by the listener bus
        xs = store.executionsList()
        return [xs.apply(i) for i in range(xs.size())]

    def run_and_read(run):
        before = {e.executionId() for e in executions()}
        out = run()
        plans = [
            e.physicalPlanDescription()
            for e in executions()
            if e.executionId() not in before
            and e.description().startswith("localCheckpoint")
        ]
        return out, plans

    return run_and_read
