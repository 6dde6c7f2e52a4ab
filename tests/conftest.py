import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_DOCS = 1000  # F1 t1 smoke scale


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault(
        "PYTHONPATH", os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from pyspark.sql import SparkSession
    s = (SparkSession.builder.master("local[2]")
         .appName("qfilter-spark-tests")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def unsized_inputs(spark):
    """Input-side Python stages keep one task per input partition (no
    coalescing to AQE's target size), for tests that need several
    partials from a tiny input; the old value is restored after."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield
    spark.conf.set(key, old)


@pytest.fixture(scope="session")
def corpus_dir(tmp_path_factory):
    from qfilter_spark import corpus
    path = str(tmp_path_factory.mktemp("corpus") / "t1")
    corpus.write_corpus(path, N_DOCS, rows_per_file=250)
    return path


@pytest.fixture(scope="session")
def corpus_df(spark, corpus_dir):
    df = spark.read.parquet(corpus_dir).repartition(8)
    df.cache().count()
    return df
