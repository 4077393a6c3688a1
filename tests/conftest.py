from __future__ import annotations

import pytest

from yelp_business_data_pipeline_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture
def distributed_rounds(monkeypatch):
    """Run the distributed rounds of ``connected_components`` and
    ``k_core`` on any graph: with the shared local-finish bound at 0
    every non-empty input is above it, so hashmin, star, the contraction,
    the k-core peel and their round budgets run as on a graph too large
    to collect to the driver."""
    from yelp_business_data_pipeline_spark.operators import iterutil

    monkeypatch.setattr(iterutil, "_LOCAL_FINISH_EDGES", 0)


@pytest.fixture
def partitioned_regime(monkeypatch):
    """Put ``pagerank`` and ``k_core`` in their Pregel-layout regime on
    any graph: with both edge-count crossovers at 0 every input is above
    them."""
    from yelp_business_data_pipeline_spark.operators import graph, ranking

    monkeypatch.setattr(ranking, "_PARTITION_EDGES_MIN", 0)
    monkeypatch.setattr(graph, "_KCORE_PARTITION_EDGES_MIN", 0)


@pytest.fixture
def lazy_plans(monkeypatch):
    """Plan inspection: with ``iterutil._CHECKPOINT`` off the lineage-
    cutting operators return their whole lazy plan, so a test sees the
    genuine round shape instead of a checkpoint scan. Connected
    components then never collects, and pagerank and ``k_core`` plan
    their default regime."""
    from yelp_business_data_pipeline_spark.operators import iterutil

    monkeypatch.setattr(iterutil, "_CHECKPOINT", False)
