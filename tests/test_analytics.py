"""BI analytics over the unified table (the Athena/QuickSight layer)."""

from __future__ import annotations

import pytest

from yelp_business_data_pipeline_spark.operators import unified_analytics
from yelp_business_data_pipeline_spark.operators.analytics import (
    elite_distribution_by_location,
    reviewer_engagement,
    sentiment_by_category,
    sentiment_by_city,
)

from .test_yelp_etl import etl  # noqa: F401


@pytest.fixture(scope="module")
def unified(etl):  # noqa: F811
    u = unified_analytics(etl["review"], etl["user"], etl["business"]).cache()
    yield u
    u.unpersist()


def test_sentiment_by_city(unified):
    rows = {r.city: r for r in sentiment_by_city(unified).collect()}
    sp = rows["Springfield"]
    # r1 positive, r2 negative, r3 neutral — all on b1 in Springfield
    assert sp.n_reviews == 3
    assert sp.n_positive == 1 and sp.n_negative == 1


def test_sentiment_by_category(unified):
    rows = {r.category: r for r in sentiment_by_category(unified).collect()}
    # every category of b1 sees all 3 reviews once each (category grain)
    assert set(rows) == {"Restaurants", "Pizza", "Bars"}
    assert all(r.n_reviews == 3 for r in rows.values())


def test_reviewer_engagement(unified):
    rows = {r.user_id: r for r in reviewer_engagement(unified).collect()}
    assert rows["u1"].n_reviews == 2  # r1, r2 — not multiplied by friends/categories
    assert rows["u1"].avg_review_engagement == pytest.approx((6 + 0) / 2)
    assert rows["u2"].n_reviews == 1
    assert rows["u1"].elite_years_count == 3


def test_elite_distribution(unified):
    rows = elite_distribution_by_location(unified).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.state, r.city) == ("IL", "Springfield")
    assert r.n_reviewers == 2
    assert r.n_elite_reviewers == 1  # only u1 has elite years
    assert r.elite_share == 0.5
