from __future__ import annotations

import pytest

from engine.generate import generate_context_events, generate_transcripts
from engine.session import build_session


@pytest.fixture(scope="session")
def spark():
    s = build_session(app_name="engine-tests", master="local[4]")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def transcripts_pdf():
    return generate_transcripts(n_convs=150, seed=42)


@pytest.fixture(scope="session")
def context_pdf(transcripts_pdf):
    return generate_context_events(transcripts_pdf, seed=43)


@pytest.fixture(scope="session")
def transcripts_df(spark, transcripts_pdf):
    from engine.schema import TRANSCRIPT_SCHEMA

    return spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPT_SCHEMA)


@pytest.fixture(scope="session")
def context_df(spark, context_pdf):
    from engine.schema import CONTEXT_SCHEMA

    return spark.createDataFrame(context_pdf, schema=CONTEXT_SCHEMA)
