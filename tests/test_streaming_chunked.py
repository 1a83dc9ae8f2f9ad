"""Chunked-delivery invariance of the streaming replay family (VERDICT
r10 #2 infrastructure): with spark.lakehouse.replay.chunks=N the replay
delivers N event-time-ordered files at one file per micro-batch, so the
watermark advances THROUGH the data and closed state is evicted
mid-drain — the steady-state posture of a real unbounded stream, and the
delivery mode the streaming scale measurements (tools/streaming_scale.py,
PLANS.md) run under.

These tests pin the load-bearing claim: for the wired queries the FINAL
output is delivery-invariant — single-batch availableNow and chunked
multi-batch drains hash-identically. Each query's invariance has a
specific reason (ordered slices keep nothing late; append windows emit on
watermark passage exactly once; outer-join rows emit on expiry; MG final
summaries keep no-false-negative across any batching; duplicate
deliveries ride inside their slice's chunk), so a regression here means a
watermark-correctness bug, not a test artifact.
"""

from __future__ import annotations

import glob
import os

import pytest

from nyc_taxi_lakehouse_spark.plans.invariance import content_hash
from nyc_taxi_lakehouse_spark.registry import all_queries
from nyc_taxi_lakehouse_spark.streaming.replay import (
    REPLAY_CHUNKS_CONF,
    _replay_root,
)

SF = "/root/testdata/sf0.001"

CHUNKED_QUERIES = [
    "q_session_stream",
    "q_cdc_windowed",
    "q_stream_join",
    "q_stream_join_outer",
    "q_stream_heavy_hitters",
    "q_stream_neardup",
    "q_stream_dedup",
]


@pytest.mark.parametrize("qname", CHUNKED_QUERIES)
def test_chunked_delivery_matches_single_batch(spark, qname):
    fn = all_queries()[qname].fn
    single = content_hash(fn(spark, SF))
    spark.conf.set(REPLAY_CHUNKS_CONF, "4")
    try:
        chunked = content_hash(fn(spark, SF))
    finally:
        spark.conf.set(REPLAY_CHUNKS_CONF, "1")
    assert single == chunked and single[1] > 0


def test_chunked_mode_actually_chunks(spark):
    """Non-vacuousness: a chunked drain must build its replay as multiple
    chunk files — a conf typo that silently fell back to single-file
    delivery would pass every hash check above. Builds its own chunked
    replay, so it holds whether or not the sweep above ran."""
    spark.conf.set(REPLAY_CHUNKS_CONF, "4")
    try:
        assert all_queries()["q_cdc_windowed"].fn(spark, SF).count() > 0
    finally:
        spark.conf.set(REPLAY_CHUNKS_CONF, "1")
    root = _replay_root()
    chunk_dirs = glob.glob(os.path.join(root, "*", "*_c4*"))
    assert chunk_dirs, "no chunked replay artifacts were created"
    chunk_files = glob.glob(os.path.join(root, "*", "*_c4*", "chunk-0003.*"))
    chunk_files += glob.glob(os.path.join(root, "*", "*_c4*", "**", "chunk-0003.*"))
    assert chunk_files, "chunked dirs exist but hold no 4th chunk file"
