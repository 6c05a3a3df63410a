"""Golden-case parity tests for the routing operators, derived from the
reference's observable semantics (bin/mqtt-streamr.js:99-106,161-166)."""

from __future__ import annotations

import re

import pytest
import pyspark.sql.functions as F

from mqtt_streamr_spark.operators.routing import (
    mqtt_wildcard_to_regex,
    stream_id_from_template,
    truncate_topic,
)


def _eval(spark, column):
    return spark.range(1).select(column.alias("x")).collect()[0]["x"]


@pytest.mark.parametrize(
    "topic,levels,expected",
    [
        ("/a/b/c", 1, "/a"),        # leading '/' -> empty part[0] (bin:99-106)
        ("/a/b/c", 2, "/a/b"),
        ("a/b/c", 1, "a/b"),        # no leading slash: first 2 parts
        ("a/b/c", 0, "a/b/c"),      # levels=0 -> unchanged
        ("a/b/c", None, "a/b/c"),   # undefined -> unchanged
        ("/a", 5, "/a"),            # levels beyond depth -> whole topic
        ("a//b", 1, "a/"),          # empty middle level preserved
    ],
)
def test_truncate_topic(spark, topic, levels, expected):
    assert _eval(spark, truncate_topic(F.lit(topic), levels)) == expected


def _js_truncate(topic, levels):
    """bin:99-106 restated: split on '/', keep levels+1 parts, rejoin."""
    if topic is None or not levels or levels <= 0:
        return topic
    return "/".join(topic.split("/")[: levels + 1])


def test_truncate_topic_column_matches_js(spark):
    """truncate_topic over a real DataFrame column (not a folded literal)
    agrees with the JS split/slice/join on the edge shapes: leading and
    trailing '/', an empty middle level, fewer levels than asked, the
    empty string and NULL."""
    topics = ["/a/b/c", "a/b/c/", "/a/", "a//b", "a", "a/b", "", "/", "//",
              "a/b/c/d/e", None]
    df = spark.createDataFrame([(t,) for t in topics], "topic string")
    for levels in (None, 0, 1, 2, 3, 5):
        out = df.select(
            "topic", truncate_topic(F.col("topic"), levels).alias("t")
        ).collect()
        got = [(r["topic"], r["t"]) for r in out]
        assert got == [(t, _js_truncate(t, levels)) for t in topics], levels


@pytest.mark.parametrize(
    "topic,template,levels,expected",
    [
        ("/home/bed/lamp", "/$topic", None, "//home/bed/lamp"),  # default tmpl
        ("/home/bed/lamp", "/x/$topic", 1, "/x//home"),
        ("a/b", "/p/$topic/s/$topic", None, "/p/a/b/s/$topic"),  # first only
        ("a/b", "/constant", None, "/constant"),  # no placeholder -> constant
    ],
)
def test_stream_id_template(spark, topic, template, levels, expected):
    c = stream_id_from_template(F.lit(topic), template, topic_levels=levels)
    assert _eval(spark, c) == expected


def test_fixed_stream_id_bypass(spark):
    c = stream_id_from_template(F.lit("/any"), "/$topic", fixed_stream_id="/fixed")
    assert _eval(spark, c) == "/fixed"


@pytest.mark.parametrize(
    "pattern,topic,matches",
    [
        ("a/b", "a/b", True),
        ("a/+", "a/b", True),
        ("a/+", "a/b/c", False),
        ("a/+/c", "a/b/c", True),
        ("a/#", "a/b/c", True),
        ("a/#", "a", True),          # '#' matches parent level
        ("#", "anything/at/all", True),
        ("+/b", "a/b", True),
        ("a/+", "a/", True),         # '+' may match empty level
    ],
)
def test_mqtt_wildcard(pattern, topic, matches):
    assert bool(re.match(mqtt_wildcard_to_regex(pattern), topic)) is matches


@pytest.mark.parametrize("bad", ["a/#/b", "a+/b", "a/b#"])
def test_mqtt_wildcard_invalid(bad):
    with pytest.raises(ValueError):
        mqtt_wildcard_to_regex(bad)
