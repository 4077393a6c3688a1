"""Yelp-domain ETL semantics, pinned against the reference's behavior.

Ports every invariant from the reference's ``test_cases/{business,review,
user}.py`` (including the two broken-as-written tests, implemented with
their documented intent — SURVEY.md §5) and the signature derived-feature
semantics table (SURVEY.md §2.7), using the FIXTURES.md-shaped JSON rows.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from yelp_business_data_pipeline_spark.operators import (
    business_etl,
    null_profile,
    review_etl,
    unified_analytics,
    user_etl,
    user_friend_edges,
)
from yelp_business_data_pipeline_spark.schemas import (
    BUSINESS_RAW_SCHEMA,
    REVIEW_RAW_SCHEMA,
    USER_RAW_SCHEMA,
)
from yelp_business_data_pipeline_spark.sources.readers import read_json_lines

BUSINESSES = [
    {
        "business_id": "  b1  ",
        "name": "Pizza Plaza",
        "address": "1 Main St",
        "city": "Springfield",
        "state": "IL",
        "latitude": 39.8,
        "longitude": -89.6,
        "stars": 4.5,
        "review_count": 120,
        "is_open": 1,
        "categories": "Restaurants, Pizza,Bars",
        "hours": {"Monday": "9:0-17:30", "Tuesday": "22:0-2:0", "Wednesday": "9:0-9:0"},
        "attributes": {
            "BusinessAcceptsCreditCards": "True",
            "HasTV": "False",
            "NoiseLevel": "u'average'",
            "WiFi": "u'free'",
            "RestaurantsPriceRange2": "2",
            "Ambience": json.dumps({"casual": "True", "romantic": "False"}),
            "BusinessParking": json.dumps({"lot": "True"}),
        },
    },
    # closed business -> dropped by is_open filter
    {
        "business_id": "b2",
        "name": "Closed Cafe",
        "is_open": 0,
        "categories": "Cafes",
        "hours": {"Monday": "8:0-12:0"},
    },
    # null categories -> dropped
    {
        "business_id": "b3",
        "name": "No Cats",
        "is_open": 1,
        "categories": None,
        "hours": {"Monday": "8:0-12:0"},
    },
    # null hours -> dropped
    {"business_id": "b4", "name": "No Hours", "is_open": 1, "categories": "Bars", "hours": None},
    # null business_id -> dropped (README.md rule; absent from notebook code)
    {"business_id": None, "name": "Ghost", "is_open": 1, "categories": "Bars",
     "hours": {"Monday": "8:0-12:0"}},
]

REVIEWS = [
    {
        "review_id": "r1",
        "user_id": "u1",
        "business_id": "b1",
        "stars": 5.0,
        "useful": 3,
        "funny": 1,
        "cool": 2,
        "text": "great amazing delicious food we love it",
        "date": "2021-06-01 10:30:00",
    },
    {
        "review_id": "r2",
        "user_id": "u1",
        "business_id": "b1",
        "stars": 1.0,
        "useful": 0,
        "funny": 0,
        "cool": 0,
        "text": "terrible awful rude service never again",
        "date": "2021-07-02 11:00:00",
    },
    {
        "review_id": "r3",
        "user_id": "u2",
        "business_id": "b1",
        "stars": 3.0,
        "useful": 1,
        "funny": 0,
        "cool": 0,
        "text": None,
        "date": "2021-08-03 12:00:00",
    },
    # missing user_id -> dropped (README.md:173 rule)
    {
        "review_id": "r4",
        "user_id": None,
        "business_id": "b1",
        "stars": 2.0,
        "useful": 0,
        "funny": 0,
        "cool": 0,
        "text": "meh",
        "date": "2021-09-04 13:00:00",
    },
]

USERS = [
    {
        "user_id": "u1",
        "name": "Alice",
        "review_count": 10,
        "yelping_since": "2015-03-01 00:00:00",
        "useful": 5,
        "funny": 2,
        "cool": 3,
        "fans": 7,
        "elite": "2018,2019,2020",
        "friends": "u2, u3",
        "compliment_hot": 1,
        "compliment_more": 2,
        "compliment_profile": 3,
        "compliment_cute": 4,
        "compliment_list": 5,
        "compliment_note": 6,
        "compliment_plain": 7,
        "compliment_cool": 8,
        "compliment_funny": 9,
        "compliment_writer": 10,
        "compliment_photos": 11,
    },
    {
        "user_id": "u2",
        "name": "Bob",
        "review_count": 1,
        "yelping_since": "2024-01-15 00:00:00",
        "useful": 0,
        "funny": 0,
        "cool": 0,
        "fans": 0,
        "elite": "",
        "friends": "",
    },
]


def _write_jsonl(tmp_path, name, rows):
    p = tmp_path / name
    p.write_text("\n".join(json.dumps(r) for r in rows))
    return str(p)


@pytest.fixture(scope="module")
def etl(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("yelp")
    braw = read_json_lines(spark, _write_jsonl(tmp, "business.json", BUSINESSES), BUSINESS_RAW_SCHEMA)
    rraw = read_json_lines(spark, _write_jsonl(tmp, "review.json", REVIEWS), REVIEW_RAW_SCHEMA)
    uraw = read_json_lines(spark, _write_jsonl(tmp, "user.json", USERS), USER_RAW_SCHEMA)
    frames = {
        "business": business_etl(braw).cache(),
        "review": review_etl(rraw).cache(),
        "user": user_etl(uraw, as_of="2026-01-01 00:00:00").cache(),
    }
    yield frames
    for df in frames.values():
        df.unpersist()


# --- business (reference Business_ETL.py; test_cases/business.py) ----------


def test_business_filters_and_grain(etl):
    rows = etl["business"].collect()
    # only b1 survives (is_open=1, categories+hours present); 3 categories
    assert {r.business_id for r in rows} == {"b1"}  # trimmed
    assert sorted(r.category for r in rows) == ["Bars", "Pizza", "Restaurants"]


def test_business_flat_schema(etl):
    # reference test_cases/business.py:17-20 — no struct/array survives
    for f in etl["business"].schema.fields:
        assert not isinstance(f.dataType, (T.StructType, T.ArrayType)), f.name


def test_business_dropped_columns(etl):
    cols = set(etl["business"].columns)
    # reference :61,99-100,148-149 drops
    for gone in ("address", "attributes", "hours", "is_open", "categories", "corkage_flag"):
        assert gone not in cols
    assert "latitude" in cols and "longitude" in cols


def test_business_attribute_flattening(etl):
    r = etl["business"].limit(1).collect()[0]
    # reference column names exactly (Business_ETL.py:82-98): the first two
    # flags carry no _flag suffix
    assert r.accepts_credit_cards is True
    assert r.has_tv_flag is False
    assert r.accepts_insurance is None  # absent attr -> null, not False
    assert r.noise_level == "average"  # u'average' unwrapped + lowered
    assert r.wifi == "u'free'"  # RAW passthrough (ref :97 applies no unwrap)
    assert r.price_range == 2
    # reference drops the parsed Ambience/Parking structs (ref :148)
    assert "ambience_casual" not in etl["business"].columns


def test_business_attribute_structs_extension(spark, tmp_path):
    import json as _json

    from yelp_business_data_pipeline_spark.operators.business import business_etl as _etl

    p = tmp_path / "b.json"
    p.write_text(_json.dumps(BUSINESSES[0]))
    from yelp_business_data_pipeline_spark.schemas import BUSINESS_RAW_SCHEMA as S

    df = _etl(read_json_lines(spark, str(p), S), include_attribute_structs=True)
    r = df.limit(1).collect()[0]
    assert r.ambience_casual is True and r.ambience_romantic is False
    assert r.parking_lot is True


def test_business_none_string_attribute_is_null(spark, tmp_path):
    # Yelp encodes unknown as the string "None"; the reference's Spark 3
    # cast yielded null — under Spark 4 ANSI this requires try_cast
    import json as _json

    from yelp_business_data_pipeline_spark.schemas import BUSINESS_RAW_SCHEMA as S

    row = dict(BUSINESSES[0])
    row["attributes"] = {"HasTV": "None", "RestaurantsPriceRange2": "None"}
    p = tmp_path / "b.json"
    p.write_text(_json.dumps(row))
    r = business_etl(read_json_lines(spark, str(p), S)).limit(1).collect()[0]
    assert r.has_tv_flag is None
    assert r.price_range is None


def test_business_hours_semantics(etl):
    r = etl["business"].limit(1).collect()[0]
    # Monday 9:00-17:30 = 8.5h; Tuesday 22:00-2:00 overnight = 4h;
    # Wednesday 9:0-9:0 equal -> 0h (reference keeps non-wrap branch);
    # missing days -> 0.0
    assert r.weekly_open_hours == pytest.approx(12.5)
    assert r.days_open == 2  # Wednesday's 0h day does not count


# --- review (reference Review_ETL.py; test_cases/review.py) ----------------


def test_review_key_filter_and_engagement(etl):
    rows = {r.review_id: r for r in etl["review"].collect()}
    assert set(rows) == {"r1", "r2", "r3"}  # r4 dropped: null user_id
    # reference test_cases/review.py:11-13 — engagement recomputation
    assert rows["r1"].engagement_score == 6
    assert rows["r3"].engagement_score == 1
    for gone in ("useful", "funny", "cool", "text"):
        assert gone not in etl["review"].columns


def test_review_sentiment(etl):
    rows = {r.review_id: r for r in etl["review"].collect()}
    assert rows["r1"].sentiment_label == "positive" and rows["r1"].sentiment_score > 0.05
    assert rows["r2"].sentiment_label == "negative" and rows["r2"].sentiment_score < -0.05
    # null text -> 0.0 / neutral (reference Review_ETL.py:74)
    assert rows["r3"].sentiment_score == 0.0
    assert rows["r3"].sentiment_label == "neutral"


def test_review_date_type(etl):
    f = {x.name: x for x in etl["review"].schema.fields}
    assert isinstance(f["date"].dataType, T.DateType)
    r1 = etl["review"].filter(F.col("review_id") == "r1").collect()[0]
    assert str(r1.date) == "2021-06-01"


def test_review_no_all_null_rows(etl):
    # intent of broken reference test_cases/business.py:27-30
    non_null = etl["review"].na.drop(how="all")
    assert non_null.count() == etl["review"].count()


# --- user (reference User_ETL.py; test_cases/user.py) ----------------------


def test_user_compliments_kept(etl):
    cols = set(etl["user"].columns)
    assert {"compliment_list", "compliment_writer", "compliment_note", "compliment_photos"} <= cols
    for gone in ("compliment_hot", "compliment_more", "compliment_profile", "compliment_cute",
                 "compliment_plain", "compliment_cool", "compliment_funny"):
        assert gone not in cols
    for gone in ("useful", "funny", "cool", "elite", "friends"):
        assert gone not in cols


def test_user_derived_features(etl):
    u1 = etl["user"].filter(F.col("user_id") == "u1").collect()
    # friends "u2, u3" -> 2 rows, trimmed
    assert sorted(r.friend for r in u1) == ["u2", "u3"]
    r = u1[0]
    assert r.engagement_compliments == 10
    # intent of broken reference test_cases/user.py:23 — elite count
    assert r.elite_years_count == 3
    assert r.friend_count == 2
    # floor(months_between('2026-01-01','2015-03-01')/12) = floor(130/12) = 10
    assert r.account_age_years == 10
    # reference keeps the parsed ts, drops the raw string (User_ETL.py:87-91)
    assert "yelping_since" not in etl["user"].columns
    assert str(r.yelping_since_ts).startswith("2015-03-01")


def test_user_empty_friends_corrected_semantics(etl):
    # documented deviation (SURVEY.md §7): reference would yield friend_count=1
    # with an empty-string friend row; engine yields 0 + NULL friend row.
    u2 = etl["user"].filter(F.col("user_id") == "u2").collect()
    assert len(u2) == 1
    assert u2[0].friend is None
    assert u2[0].friend_count == 0
    assert u2[0].elite_years_count == 0


def test_user_friend_edges(etl):
    edges = user_friend_edges(etl["user"]).collect()
    assert sorted((e.user_id, e.friend_id) for e in edges) == [("u1", "u2"), ("u1", "u3")]


# --- unified (reference join/unified_data_analytics.py) --------------------


def test_unified_star_join(etl):
    uni = unified_analytics(etl["review"], etl["user"], etl["business"])
    # left-join semantics: every review row survives (README.md:189); the
    # business side is (business x category) grain -> r1/r2/r3 x 3 categories,
    # x user grain (u1 has 2 friend rows, u2 has 1)
    rows = uni.collect()
    by_review = {}
    for r in rows:
        by_review.setdefault(r.review_id, []).append(r)
    assert set(by_review) == {"r1", "r2", "r3"}
    # r1: user u1 (2 friend rows) x business b1 (3 categories) = 6
    assert len(by_review["r1"]) == 6
    # r3: user u2 (1 row) x 3 categories = 3
    assert len(by_review["r3"]) == 3
    # conflict renames follow the reference exactly
    # (join/unified_data_analytics.py:23-41): review cols colliding with
    # USER cols -> review_* (empty set for the real schemas, so review.stars
    # stays plain "stars"); business cols colliding with review|user ->
    # business_* (stars, name, review_count).
    cols = uni.columns
    assert "stars" in cols and "business_stars" in cols
    assert "review_stars" not in cols
    assert "name" in cols and "business_name" in cols
    assert "review_count" in cols and "business_review_count" in cols


def test_null_profile_shape(etl, spark):
    prof = null_profile(etl["review"]).collect()[0]
    assert prof["review_id"] == 0
    assert prof["sentiment_score"] == 0


def test_null_profile_empty_frame_counts_zero(spark):
    from pyspark.sql import functions as F

    from yelp_business_data_pipeline_spark.operators.cleaning import null_profile

    df = spark.createDataFrame([(1, "a")], "a long, b string").filter(F.lit(False))
    row = null_profile(df).collect()[0]
    assert row.a == 0 and row.b == 0  # zeros, not NULLs


def test_prefix_rename_collision_raises(spark):
    import pytest as _pytest

    from yelp_business_data_pipeline_spark.operators.cleaning import (
        prefix_overlapping_columns,
    )

    df = spark.createDataFrame([(1, 2)], "name long, review_name long")
    with _pytest.raises(ValueError, match="collides"):
        prefix_overlapping_columns(df, ["name"], "review_")
