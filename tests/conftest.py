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
def distributed_cc(monkeypatch):
    """Run ``connected_components``' distributed rounds on any graph: with
    the local-finish bound at 0 every input is above it, so hashmin, star,
    precontract and their round budgets run as on a graph too large to
    collect to the driver."""
    from yelp_business_data_pipeline_spark.operators import components

    monkeypatch.setattr(components, "_LOCAL_FINISH_EDGES", 0)
