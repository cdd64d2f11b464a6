"""Multimodal plumbing: the feature-extraction round trip."""

import pytest
from pyspark.sql import functions as F

from ent_res_feedback_spark.operators.multimodal import (
    extract_media_features,
    features_long,
    media_from_table,
)


@pytest.fixture(scope="module")
def media_df(spark):
    refs = spark.createDataFrame(
        [(f"m{i}",) for i in range(6)], "media_ref string"
    )
    return media_from_table(refs)


def test_extract_features_long_roundtrip(spark, media_df):
    longf = features_long(extract_media_features(media_df))
    n = longf.count()
    assert n == 6 * 16
    assert longf.where(F.col("value").isNull()).count() == 0
