"""Unified analytics star join.

Reference ``join/unified_data_analytics.py``: review fact LEFT JOIN user dim
on ``user_id``, LEFT JOIN business dim on ``business_id``; overlapping
non-key columns prefixed ``review_`` / ``business_`` before joining (ref
:23-41, rule ``README.md:188``); every review row survives (left semantics,
``README.md:189``).

Scale strategy: the review fact is the big side; user and business are
dimension tables. The joins carry no hints. A dim under the broadcast
threshold is broadcast (at planning time from file stats, or at runtime
under AQE), so the 100 TB fact is not shuffled for it; otherwise Catalyst's
sort-merge join + AQE skew splitting handles hot ``business_id`` keys
(popular businesses are the classic skew case, SURVEY.md J2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .cleaning import prefix_overlapping_columns


def unified_analytics(
    reviews: DataFrame,
    users: DataFrame,
    businesses: DataFrame,
) -> DataFrame:
    """Build the denormalized UnifiedAnalytics table."""
    user_cols = set(users.columns)
    review_cols = set(reviews.columns)
    # Reference rename rules, from ORIGINAL column sets
    # (join/unified_data_analytics.py:23-41): review columns colliding with
    # USER columns -> review_*; business columns colliding with
    # (review | user) -> business_*. Join keys are exempt. With the real
    # Yelp schemas review∩user is empty, so in practice only the business
    # side is prefixed (business_stars, business_name,
    # business_review_count).
    join_keys = ("user_id", "business_id")
    reviews_r = prefix_overlapping_columns(reviews, user_cols, "review_", keep=join_keys)
    businesses_r = prefix_overlapping_columns(
        businesses, review_cols | user_cols, "business_", keep=join_keys
    )
    return reviews_r.join(users, "user_id", "left").join(businesses_r, "business_id", "left")
