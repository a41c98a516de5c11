import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import types as T  # noqa: E402

from extract_sf_r_parallel_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="tests", master="local[8]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


IMAGES_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("bytes", T.BinaryType()),
    T.StructField("w", T.IntegerType()),
    T.StructField("h", T.IntegerType()),
    T.StructField("fmt", T.StringType()),
    T.StructField("caption", T.StringType()),
    T.StructField("phash", T.LongType()),
])

GEOTAGGED_SCHEMA = T.StructType(IMAGES_SCHEMA.fields + [
    T.StructField("x", T.DoubleType()),
    T.StructField("y", T.DoubleType()),
    T.StructField("YEAR", T.IntegerType()),
    T.StructField("PKEY", T.StringType()),
    T.StructField("SS", T.StringType()),
])

LAYER_SCHEMA = T.StructType([
    T.StructField("feature_id", T.LongType()),
    T.StructField("layer", T.StringType()),
    T.StructField("YEAR", T.IntegerType()),
    T.StructField("geom", T.ArrayType(T.ArrayType(T.DoubleType()))),
    T.StructField("is_valid_truth", T.BooleanType()),
])

# bare areadist points: the keys plus coordinates
PTS_SCHEMA = T.StructType([
    T.StructField("PKEY", T.StringType()),
    T.StructField("SS", T.StringType()),
    T.StructField("YEAR", T.IntegerType()),
    T.StructField("x", T.DoubleType()),
    T.StructField("y", T.DoubleType()),
])

WETLAND_SCHEMA = T.StructType(LAYER_SCHEMA.fields[:2] + [
    T.StructField("CWCS_Class", T.StringType()),
] + LAYER_SCHEMA.fields[2:])
