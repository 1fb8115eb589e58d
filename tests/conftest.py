from __future__ import annotations

import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from multilingual_wiki_event_pipeline_spark import datagen
from multilingual_wiki_event_pipeline_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", app_name="mwep-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def corpus_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus")
    datagen.generate_to_dir(str(d), n_incidents=30, seed=42)
    return str(d)


@pytest.fixture(scope="session")
def corpus(corpus_dir):
    return datagen.generate(n_incidents=30, seed=42)


@pytest.fixture
def broadcast_threshold(spark):
    """``with broadcast_threshold(v):`` runs the block with
    ``spark.sql.autoBroadcastJoinThreshold`` set to ``v`` (``-1`` = never
    broadcast) and restores the session's value after it."""
    key = "spark.sql.autoBroadcastJoinThreshold"

    @contextmanager
    def setting(value):
        old = spark.conf.get(key)
        spark.conf.set(key, str(value))
        try:
            yield
        finally:
            spark.conf.set(key, old)

    return setting


@pytest.fixture
def both_strategies(broadcast_threshold):
    """Run ``fn()`` under the session's broadcast threshold, then again
    with broadcasting off, and return both results — the two sides of
    the graph loops' size rule."""
    def run(fn):
        first = fn()
        with broadcast_threshold(-1):
            return first, fn()

    return run
