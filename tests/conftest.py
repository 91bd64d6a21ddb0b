from __future__ import annotations

import pytest

from sherlog_parser_spark.session import CacheScope, get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("sherlog-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def cache():
    """A cache scope the test's operators cache into, released after it."""
    with CacheScope() as scope:
        yield scope


@pytest.fixture(scope="session")
def transcripts(spark):
    from sherlog_parser_spark.data.transcripts import generate_transcripts

    return generate_transcripts(spark, n_convs=150, seed=42).cache()


@pytest.fixture(scope="session")
def transcript_rows(transcripts):
    """Arrival-ordered row dicts for the sequential oracle."""
    pdf = transcripts.orderBy("ts", "conv_id", "turn_idx").toPandas()
    return pdf.to_dict("records")
