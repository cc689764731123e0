"""One gated drain's scratch space and run: the plumbing every oracle-gated
streaming chain (streaming/gate.py, sources/pyds.py) and tools/stream_probe.py
share.

A gated chain stages its input as ordered parquet files, drains them with an
availableNow trigger, and returns a DataFrame over what the sink holds. The
stage dir and the checkpoint are dead once the drain returns, so `drain`
deletes both on the way out, error or not; only the dirs the returned
DataFrame reads lazily (KV roots, file sinks) come from `output_dir` and live
until interpreter exit.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

SHM = "/dev/shm"


def checkpoint_tier(master: str, env: str, shm_writable: bool) -> str:
    """The directory drain checkpoints go under.

    The gated chains are self-contained availableNow drains: the checkpoint
    (offset/commit WALs + state-store deltas) is written, read within the
    same call, and deleted, so durability past the call has zero value, yet
    every trigger paid fsync-to-disk latency for it (measured r11,
    stream_probe durationMs: state commitTimeMs 80-870 ms/batch + walCommit/
    commitOffsets ~40 ms each with /tmp on /dev/vda; moving the checkpoint
    to tmpfs cut the interval-join drain 3.6-4.2 → 2.8 s, ingest 1.3 → 1.0 s).
    tmpfs is host-local, so it is the default only under a `local` master,
    where every executor runs in one process; any other master checkpoints
    on disk. `env` (SPARK_GRAFT_STREAM_CKPT) names a path that overrides both,
    e.g. reliable storage for a deployment with restart semantics.
    """
    if env:
        return env
    if (master == "local" or master.startswith("local[")) and shm_writable:
        return SHM
    return tempfile.gettempdir()


def checkpoint_dir(spark: SparkSession) -> str:
    """A fresh checkpoint dir for one drain, under `checkpoint_tier`."""
    base = checkpoint_tier(
        spark.sparkContext.master,
        os.environ.get("SPARK_GRAFT_STREAM_CKPT", ""),
        os.access(SHM, os.W_OK),
    )
    return tempfile.mkdtemp(prefix="gate_ckpt_", dir=base)


def output_dir(prefix: str) -> str:
    """A scratch dir that a returned DataFrame reads lazily (a KV root, a
    file sink): it must outlive the drain, so it is removed at interpreter
    exit."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


class Drain(NamedTuple):
    stage: str  # the staged input files
    ckpt: str  # this drain's checkpoint location
    name: str  # a query name no other drain in the process uses


@contextmanager
def drain(
    spark: SparkSession, prefix: str, stage_fn: Callable[[str], None]
) -> Iterator[Drain]:
    """Stage the input with `stage_fn(stage_dir)` and make a fresh
    checkpoint; both are deleted when the block exits, including on error.
    The memory-sink query name doubles as a temp-view name, so it carries a
    uuid: a reused name would append into an earlier drain's table."""
    stage = tempfile.mkdtemp(prefix=f"{prefix}_stage_")
    ckpt = None
    try:
        stage_fn(stage)
        ckpt = checkpoint_dir(spark)
        yield Drain(stage, ckpt, f"gate_{prefix}_{uuid.uuid4().hex[:12]}")
    finally:
        shutil.rmtree(stage, ignore_errors=True)
        if ckpt is not None:
            shutil.rmtree(ckpt, ignore_errors=True)


def run(writer: DataStreamWriter, name: str, ckpt: str | None = None) -> StreamingQuery:
    """Drain the stream behind `writer` to its current end (availableNow)
    and return the finished query (its `recentProgress` stays readable).
    Without `ckpt` the query takes Spark's own checkpoint location."""
    if ckpt is not None:
        writer = writer.option("checkpointLocation", ckpt)
    q = writer.queryName(name).trigger(availableNow=True).start()
    q.awaitTermination()
    return q


def run_memory(
    stream: DataFrame, name: str, ckpt: str | None = None, output_mode: str = "append"
) -> DataFrame:
    """`run` into a memory sink; returns the sink table, a temp view in the
    stream's own session (a clone's catalog for the cloned chains)."""
    run(stream.writeStream.format("memory").outputMode(output_mode), name, ckpt)
    return stream.sparkSession.table(name)
