"""Bit-parity of the one-expression literal builders (functions/literals)
against the per-element ``F.lit`` forms they replaced (round 13): the
SQL-string rendering must produce exactly the same map/array values for
the real ontology dicts and for adversarial strings (quotes,
backslashes, newlines, unicode)."""

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import pytest
from pyspark.sql import functions as F

from ftm_lakehouse_spark.functions.literals import (
    lit_str_array,
    lit_str_array_map,
    lit_str_int_map,
    lit_str_map,
)
from ftm_lakehouse_spark.model.ontology import (
    PROP_TYPES,
    SCHEMA_ANCESTORS,
    SCHEMA_BUCKETS,
    SCHEMA_SPECIFICITY,
)

ADVERSARIAL = {
    "plain": "value",
    "qu'ote": "it's",
    "back\\slash": "a\\b",
    "new\nline": "tab\there",
    "uni·code→": "ß∂ƒ©",
    "empty": "",
    "'lead": "trail'",
    "\\'both\\'": "\\n not a newline",
}


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


def test_str_map_matches_create_map(spark):
    for mapping in (PROP_TYPES, SCHEMA_BUCKETS, ADVERSARIAL):
        old = F.create_map(*[F.lit(x) for kv in mapping.items() for x in kv])
        assert _one(spark, lit_str_map(mapping)) == _one(spark, old)


def test_str_array_map_matches(spark):
    old = F.create_map(
        *[
            x
            for k, v in sorted(SCHEMA_ANCESTORS.items())
            for x in (F.lit(k), F.array(*[F.lit(a) for a in v]))
        ]
    )
    new = lit_str_array_map({k: v for k, v in sorted(SCHEMA_ANCESTORS.items())})
    assert _one(spark, new) == _one(spark, old)
    # empty-array value branch
    assert _one(spark, lit_str_array_map({"k": []})) == {"k": []}


def test_str_int_map_matches(spark):
    old = F.create_map(
        *[F.lit(x) for kv in sorted(SCHEMA_SPECIFICITY.items()) for x in kv]
    )
    new = lit_str_int_map({k: v for k, v in sorted(SCHEMA_SPECIFICITY.items())})
    assert _one(spark, new) == _one(spark, old)


def test_str_array_matches(spark):
    vals = list(ADVERSARIAL) + list(ADVERSARIAL.values())
    assert _one(spark, lit_str_array(vals)) == vals
    assert _one(spark, lit_str_array([])) == []


def test_empty_maps_keep_their_types(spark):
    df = spark.range(1).select(
        lit_str_array_map({}).alias("am"), lit_str_int_map({}).alias("im")
    )
    assert df.schema["am"].dataType.simpleString() == "map<string,array<string>>"
    assert df.schema["im"].dataType.simpleString() == "map<string,int>"
    assert df.first().asDict() == {"am": {}, "im": {}}


def test_get_spark_refuses_escaped_string_literals(spark):
    from ftm_lakehouse_spark.session import get_spark

    key = "spark.sql.parser.escapedStringLiterals"
    spark.conf.set(key, "true")
    try:
        # same arguments as the session fixture: getOrCreate returns it
        with pytest.raises(ValueError, match="escapedStringLiterals"):
            get_spark("tests", shuffle_partitions=8)
    finally:
        spark.conf.unset(key)
    assert get_spark("tests", shuffle_partitions=8) is spark
