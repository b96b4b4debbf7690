import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bertseyeview_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="bertseyeview_tests",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "8g"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture
def cached_rdds(spark):
    """``cached_rdds()`` counts the session's persisted RDDs that back a
    DataFrame cache. Spark names each after its plan; the unnamed
    localCheckpoint blocks are left out, because the ContextCleaner
    drops them at its own pace once their frame is garbage."""
    jsc = spark.sparkContext._jsc

    def count():
        rdds = jsc.getPersistentRDDs()
        return sum(1 for k in rdds if rdds[k].name() is not None)

    return count


@pytest.fixture
def rank_paths(monkeypatch):
    """Run a rank test on both sides of the ``RANK_LOCAL_MAX_EDGES``
    dispatch: ``for path in rank_paths(): ...`` yields ``"local"`` at the
    default ceiling, then ``"distributed"`` with the ceiling at 0."""
    from bertseyeview_spark.operators import rank

    def paths():
        yield "local"
        monkeypatch.setattr(rank, "RANK_LOCAL_MAX_EDGES", 0)
        yield "distributed"

    return paths


@pytest.fixture
def kmeans_paths(monkeypatch):
    """Run a k-means test on both sides of the ``KMEANS_LOCAL_MAX_VALUES``
    dispatch: ``for path in kmeans_paths(): ...`` yields ``"local"`` at
    the default ceiling, then ``"distributed"`` with the ceiling at 0."""
    from bertseyeview_spark.operators import similarity

    def paths():
        yield "local"
        monkeypatch.setattr(similarity, "KMEANS_LOCAL_MAX_VALUES", 0)
        yield "distributed"

    return paths


def _join_dedup(a, b, pair):
    """The banded candidate join before ``banded_pairs``: explode every
    band, equi-join on (band, bucket), then ``dropDuplicates`` on the
    id pair."""
    from pyspark.sql import functions as F

    ea = a.select("*", F.posexplode("bkts_a").alias("band", "bucket"))
    eb = b.select("*", F.posexplode("bkts_b").alias("band", "bucket"))
    ids = [c for c in a.columns + b.columns if "id" in c.split("_")]
    return (
        ea.join(eb, ["band", "bucket"])
        .where(pair)
        .dropDuplicates(ids)
        .drop("band", "bucket", "bkts_a", "bkts_b")
    )


@pytest.fixture
def band_join_paths(monkeypatch):
    """Run a banded-LSH test on both candidate-join shapes: ``for path in
    band_join_paths(): ...`` yields ``"first_band"`` (``banded_pairs``),
    then ``"join_dedup"`` with ``banded_pairs`` replaced in every
    calling module by :func:`_join_dedup`."""
    from bertseyeview_spark.operators import canonicalize, dedup, similarity

    def paths():
        yield "first_band"
        for mod in (canonicalize, dedup, similarity):
            monkeypatch.setattr(mod, "banded_pairs", _join_dedup)
        yield "join_dedup"

    return paths
