from __future__ import annotations

import os
import sys
import threading
import uuid
from contextlib import contextmanager
from types import SimpleNamespace

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sts_opentelemetry_collector_spark.session import get_spark  # noqa: E402

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMOKE = os.path.join(TESTDATA, "sf0.001")
SF_CORRECT = os.path.join(TESTDATA, "sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def webtext_dir(tmp_path_factory):
    """Small deterministic webtext table shared by pipeline tests."""
    from sts_opentelemetry_collector_spark.sources.webtext import write_webtext

    d = tmp_path_factory.mktemp("webtext")
    write_webtext(str(d), n_rows=2000)
    return str(d)


@pytest.fixture(scope="session")
def webtext(spark, webtext_dir):
    import os as _os

    return spark.read.parquet(_os.path.join(webtext_dir, "webtext.parquet"))


@pytest.fixture
def spark_jobs(spark):
    """`with spark_jobs() as jobs: ...` counts the Spark jobs the block
    launches from the calling thread into `jobs.n`: the block runs under
    its own job group, and the count is read once the listener bus has
    delivered every job-start event."""
    sc = spark.sparkContext

    @contextmanager
    def count():
        group = f"spark_jobs-{uuid.uuid4().hex}"
        keys = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
        prev = {k: sc.getLocalProperty(k) for k in keys}
        jobs = SimpleNamespace(n=None)
        sc.setJobGroup(group, "counted block")
        try:
            yield jobs
        finally:
            for k, v in prev.items():
                sc.setLocalProperty(k, v)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs.n = len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture(scope="session")
def null_ident_mappings():
    """The default mappings plus one whose required identifier evaluates
    to null on every row, so every page records a mapping error."""
    from sts_opentelemetry_collector_spark.config import ComponentMapping, ComponentOutput
    from sts_opentelemetry_collector_spark.sources.settings import default_mappings

    ms = default_mappings()
    ms.components.append(
        ComponentMapping(
            identifier="null-ident-mapping",
            output=ComponentOutput(
                identifier="attrs['nope']", name="host", type_name="'t'"
            ),
        )
    )
    return ms


@pytest.fixture
def crash_once():
    """`crash_once(owner, attr, when)` replaces `owner.attr` with a wrapper
    that raises RuntimeError("injected crash") on the first call whose
    arguments satisfy `when(*args, **kwargs)`, and puts the original back
    as it raises; every other call passes through. Teardown puts it back
    if the crash never fired."""
    patches = []

    def install(owner, attr, when):
        mp = pytest.MonkeyPatch()
        patches.append(mp)
        orig = getattr(owner, attr)
        armed = [True]
        lock = threading.Lock()

        def call(*args, **kwargs):
            if armed and when(*args, **kwargs):
                with lock:  # one crash, however many threads match
                    fire = armed and armed.pop()
                if fire:
                    mp.undo()
                    raise RuntimeError("injected crash")
            return orig(*args, **kwargs)

        mp.setattr(owner, attr, call)

    yield install
    for mp in patches:
        mp.undo()
