"""The drain primitive (streaming/drain.py): where drain checkpoints go, and
that a gated chain leaves no stage dir or checkpoint behind — only the dirs
its returned DataFrame reads."""

from __future__ import annotations

import os
import tempfile

import pytest

from templatedb_spark.streaming.drain import SHM, checkpoint_tier
from tests.conftest import SF_SMALL


@pytest.mark.parametrize(
    "master,env,shm_writable,want",
    [
        ("local[4]", "/ckpt", True, "/ckpt"),
        ("local[4]", "/ckpt", False, "/ckpt"),
        ("spark://host:7077", "/ckpt", True, "/ckpt"),
        ("spark://host:7077", "/ckpt", False, "/ckpt"),
        ("local[4]", "", True, SHM),
        ("local", "", True, SHM),
        ("local[4]", "", False, "tmp"),
        ("spark://host:7077", "", True, "tmp"),
        ("spark://host:7077", "", False, "tmp"),
        ("local-cluster[2,1,1024]", "", True, "tmp"),
    ],
)
def test_checkpoint_tier(master, env, shm_writable, want, monkeypatch, tmp_path):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    expected = str(tmp_path) if want == "tmp" else want
    assert checkpoint_tier(master, env, shm_writable) == expected


@pytest.fixture
def scratch(monkeypatch, tmp_path):
    """(checkpoint root, temp dir), both empty and private to the test."""
    ckpt, tmp = tmp_path / "ckpt", tmp_path / "tmp"
    ckpt.mkdir()
    tmp.mkdir()
    monkeypatch.setenv("SPARK_GRAFT_STREAM_CKPT", str(ckpt))
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    return ckpt, tmp


def test_chains_leave_only_the_dirs_their_results_read(spark, scratch):
    from templatedb_spark.sources.pyds import pyds_stream_source
    from templatedb_spark.streaming import gate

    ckpt, tmp = scratch
    counts = {
        chain.__name__: chain(spark, SF_SMALL).count()
        for chain in (
            gate.stream_cdc_kv_state,  # foreachBatch -> KV
            gate.stream_sessionize_closed,  # Python state, memory sink
            gate.stream_interval_join_clicks,  # JVM state, memory sink
            gate.stream_static_enrich,  # file sink
            pyds_stream_source,  # processingTime drain
        )
    }
    assert counts["stream_cdc_kv_state"] > 0
    assert counts["stream_static_enrich"] > 0
    assert counts["pyds_stream_source"] == 600
    assert os.listdir(ckpt) == []
    # mkdtemp names are prefix + 8 random characters
    assert sorted(n[:-8] for n in os.listdir(tmp)) == ["cdc_kv_", "enrich_sink_"]


def test_failed_stream_build_leaves_nothing(spark, scratch, monkeypatch):
    from templatedb_spark.streaming import events, gate

    def fail(*args, **kwargs):
        raise RuntimeError("stream build failed")

    monkeypatch.setattr(events, "read_events_stream", fail)
    with pytest.raises(RuntimeError, match="stream build failed"):
        gate.stream_interval_join_clicks(spark, SF_SMALL)
    ckpt, tmp = scratch
    assert os.listdir(ckpt) == [] and os.listdir(tmp) == []
