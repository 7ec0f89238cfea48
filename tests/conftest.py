from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")  # small & fast for unit tests


@pytest.fixture(scope="session")
def spark():
    from project_obsidian_core_spark.session import build_session

    spark = build_session(app_name="obsidian-spark-tests", shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


class FakeState:
    """Stand-in for pyspark's ``GroupState`` so a stateful group function
    can be driven batch by batch without Spark.  ``wm_ms`` is the event-
    time watermark the evict-mode functions read; ``timeout_ms`` records
    the timeout the current call armed (Spark requires it past the
    watermark).  Drive calls through :meth:`drive`: like Spark, it clears
    the key's timeout before each call, so a call that arms none leaves
    none."""

    def __init__(self, wm_ms=0):
        self.exists = False
        self._v = None
        self.wm_ms = wm_ms
        self.hasTimedOut = False
        self.timeout_ms = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v
        self.exists = True

    def getCurrentWatermarkMs(self):
        return self.wm_ms

    def setTimeoutTimestamp(self, ms):
        assert ms > self.wm_ms  # Spark's contract
        self.timeout_ms = ms

    def drive(self, fn, key, frames, timed_out=False):
        """One call of the group function ``fn`` for ``key`` over
        ``frames``, as Spark makes it: the timeout is cleared first, and
        ``hasTimedOut`` says whether this call is a timeout."""
        self.timeout_ms = None
        self.hasTimedOut = timed_out
        return list(fn(key, iter(frames), self))


@pytest.fixture
def fake_state():
    """The :class:`FakeState` class, for tests to instantiate per key."""
    return FakeState
