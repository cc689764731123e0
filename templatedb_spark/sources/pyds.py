"""Python DataSource API sources (Spark 4 `pyspark.sql.datasource`).

The reference's table-function protocol separates a `bind` phase (returns
schema + bind data) from an `execute` phase (returns a batch stream), with the
function registered by name in the catalog
(reference: src/query_engine/src/function/table/table_function.rs:26-49,
read_csv.rs:18-210). Spark's Python DataSource API is the same contract made
cluster-parallel: `DataSource.schema()` is the bind phase,
`DataSourceReader.partitions()` declares the parallel split, and
`read(partition)` is the per-partition execute phase running on executors.

`kvgen` is a deterministic keyed-row generator (the moral equivalent of the
reference's ExpressionScan/DummyScan sources made partition-parallel): useful
as a test/benchmark source with no input files. Every value derives from the
key via md5, so any slice of the output is reproducible on any executor —
the property that matters when a 1000-task scan retries a partition.
"""

from __future__ import annotations

import hashlib
import json
import os
import uuid
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)


@dataclass
class _Range(InputPartition):
    start: int
    end: int  # exclusive


class KVGenReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.num_rows = int(options.get("numrows", 1000))
        self.num_partitions = int(options.get("numpartitions", 8))
        self.num_buckets = int(options.get("numbuckets", 16))

    def partitions(self):  # the parallel split declared to the scheduler
        n, p = self.num_rows, max(1, self.num_partitions)
        step = (n + p - 1) // p
        return [_Range(i, min(i + step, n)) for i in range(0, n, step)]

    def read(self, partition: _Range):
        # executes on the executor; deterministic per key → safe retries
        for key in range(partition.start, partition.end):
            digest = hashlib.md5(f"k{key}".encode()).hexdigest()
            yield (key, key % self.num_buckets, digest[:12])


class KVGenDataSource(DataSource):
    """spark.read.format("kvgen").option("numRows", N).load()"""

    @classmethod
    def name(cls) -> str:
        return "kvgen"

    def schema(self) -> str:  # bind phase: fixed schema, options validated here
        int(self.options.get("numrows", 1000))
        return "key bigint, bucket int, value string"

    def reader(self, schema) -> KVGenReader:
        return KVGenReader(self.options)

    def streamReader(self, schema) -> "KVGenStreamReader":
        return KVGenStreamReader(self.options)


class KVGenStreamReader(DataSourceStreamReader):
    """Streaming twin of KVGenReader — the reference's table-function
    protocol (bind → execute) extended to micro-batch streaming, the shape
    of a Kafka-like source expressed through the Python DataSource API:

    - offsets are dicts `{"offset": N}`; `latestOffset` advances by
      `rowsPerBatch` per trigger until the `numRows` cap (a bounded
      backlog — availableNow-style draining without special-casing);
    - `partitions(start, end)` declares the batch's parallel split;
      `read(partition)` runs on executors and derives every value from the
      key via md5 — identical bytes to the batch source, so exactly-once
      across arbitrary retry/batch boundaries is testable by set equality
      with the batch output;
    - `commit(end)` is a no-op: the generator is stateless, replay-safe by
      construction (what a real source does here is trim its WAL).

    RESTART SEMANTICS (measured, round 4): Spark restores the committed
    offset from the checkpoint but constructs a FRESH reader, so an
    in-memory backlog clock restarts at 0 — `latestOffset` then returns
    offsets BELOW the committed start and the re-run ranges duplicate rows
    (observed: 800 rows for a 600-row backlog after a mid-backlog restart).
    A real source's offset clock lives in the external system (Kafka end
    offsets are monotone regardless of query restarts); the generator gets
    the same property via the `offsetDir` option — a tiny sidecar file
    persisting the clock across reader instances. Without offsetDir the
    source is exactly-once only within one query lifetime (documented
    caveat, fine for tests/benchmarks).
    """

    def __init__(self, options: dict) -> None:
        self.num_rows = int(options.get("numrows", 1000))
        self.rows_per_batch = int(options.get("rowsperbatch", 100))
        self.num_partitions = int(options.get("numpartitions", 4))
        self.num_buckets = int(options.get("numbuckets", 16))
        self.offset_dir = options.get("offsetdir")
        self._latest = self._load_clock()

    def _clock_path(self) -> str:
        return os.path.join(self.offset_dir, "clock.json")

    def _load_clock(self) -> int:
        if not self.offset_dir:
            return 0
        try:
            with open(self._clock_path()) as f:
                return int(json.load(f)["offset"])
        except (OSError, ValueError, KeyError):
            return 0

    def _save_clock(self) -> None:
        if not self.offset_dir:
            return
        os.makedirs(self.offset_dir, exist_ok=True)
        tmp = self._clock_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"offset": self._latest}, f)
        os.replace(tmp, self._clock_path())

    def initialOffset(self) -> dict:
        return {"offset": 0}

    def latestOffset(self) -> dict:
        self._latest = min(self.num_rows, self._latest + self.rows_per_batch)
        self._save_clock()
        return {"offset": self._latest}

    def partitions(self, start: dict, end: dict):
        s, e = start["offset"], end["offset"]
        p = max(1, self.num_partitions)
        step = max(1, (e - s + p - 1) // p)
        return [_Range(i, min(i + step, e)) for i in range(s, e, step)]

    def read(self, partition: _Range):
        for key in range(partition.start, partition.end):
            digest = hashlib.md5(f"k{key}".encode()).hexdigest()
            yield (key, key % self.num_buckets, digest[:12])

    def commit(self, end: dict) -> None:
        pass  # stateless generator: nothing to trim


# ---------------------------------------------------------------------------
# jsondir: a full read+write Python DataSource with manifest-based atomic
# commit. The write path is the two-phase contract every distributed sink
# needs: executors write uniquely-named part files (task retries can never
# collide or double-count), the driver's commit() publishes a manifest, and
# readers only believe the manifest — uncommitted/aborted parts are invisible.
# This is the same visibility protocol as parquet's _SUCCESS/commit
# coordinators, expressed through the Python DataSource API.
# ---------------------------------------------------------------------------
_MANIFEST = "_MANIFEST.json"


@dataclass
class _PartFile(WriterCommitMessage):
    filename: str
    rows: int


class JsonDirWriter(DataSourceWriter):
    def __init__(self, options: dict, schema_json: str) -> None:
        self.path = options["path"]
        self.schema_json = schema_json

    def write(self, rows) -> _PartFile:
        # executor-side: unique name per task attempt → retry-safe
        name = f"part-{uuid.uuid4().hex}.jsonl"
        os.makedirs(self.path, exist_ok=True)
        n = 0
        with open(os.path.join(self.path, name), "w") as f:
            for row in rows:
                f.write(json.dumps(list(row)) + "\n")
                n += 1
        return _PartFile(name, n)

    def commit(self, messages) -> None:
        # driver-side: publishing the manifest is the atomic commit point
        manifest = {
            "schema": self.schema_json,
            "files": [{"name": m.filename, "rows": m.rows} for m in messages],
        }
        with open(os.path.join(self.path, _MANIFEST), "w") as f:
            json.dump(manifest, f)

    def abort(self, messages) -> None:
        # tasks that never produced a commit message arrive as None — skip
        # them, or one AttributeError aborts cleanup and leaks the rest
        for m in messages:
            if m is None:
                continue
            try:
                os.remove(os.path.join(self.path, m.filename))
            except OSError:
                pass


@dataclass
class _FilePartition(InputPartition):
    filename: str


class JsonDirReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.path = options["path"]
        with open(os.path.join(self.path, _MANIFEST)) as f:
            self.manifest = json.load(f)

    def partitions(self):  # one scan partition per committed part file
        return [_FilePartition(f["name"]) for f in self.manifest["files"]]

    def read(self, partition: _FilePartition):
        with open(os.path.join(self.path, partition.filename)) as f:
            for line in f:
                yield tuple(json.loads(line))


class JsonDirDataSource(DataSource):
    """df.write.format("jsondir").option("path", p) /
    spark.read.format("jsondir").option("path", p)."""

    @classmethod
    def name(cls) -> str:
        return "jsondir"

    def schema(self):  # read path: schema comes from the manifest
        from pyspark.sql.types import StructType

        with open(os.path.join(self.options["path"], _MANIFEST)) as f:
            return StructType.fromJson(json.loads(json.load(f)["schema"]))

    def reader(self, schema) -> JsonDirReader:
        return JsonDirReader(self.options)

    def writer(self, schema, overwrite: bool) -> JsonDirWriter:
        return JsonDirWriter(dict(self.options), schema.json())

    def streamWriter(self, schema, overwrite: bool) -> "JsonDirStreamWriter":
        return JsonDirStreamWriter(dict(self.options), schema.json())


class JsonDirStreamWriter(DataSourceStreamWriter):
    """Streaming sink twin of JsonDirWriter: the SAME two-phase-commit
    contract per EPOCH. Executors write uniquely-named part files tagged
    with their batch id; the driver's commit(messages, batchId) appends the
    epoch's file list to the manifest ATOMICALLY (tmp + rename). Exactly-once
    follows from the combination: a replayed epoch's task files get fresh
    unique names, but only the files named by a committed epoch record are
    readable, and an epoch id can commit at most once (idempotent append —
    a re-committed batchId is dropped). abort() removes the epoch's parts.
    """

    def __init__(self, options: dict, schema_json: str) -> None:
        self.path = options["path"]
        self.schema_json = schema_json

    def write(self, rows) -> _PartFile:
        name = f"part-{uuid.uuid4().hex}.jsonl"
        os.makedirs(self.path, exist_ok=True)
        n = 0
        with open(os.path.join(self.path, name), "w") as f:
            for row in rows:
                f.write(json.dumps(list(row)) + "\n")
                n += 1
        return _PartFile(name, n)

    def commit(self, messages, batchId: int) -> None:
        mpath = os.path.join(self.path, _MANIFEST)
        manifest = {"schema": self.schema_json, "files": [], "epochs": []}
        if os.path.exists(mpath):
            with open(mpath) as f:
                manifest = json.load(f)
        if batchId in manifest.get("epochs", []):
            # Replayed epoch: the commit is a no-op, but THIS replay's tasks
            # already wrote fresh uniquely-named part files — invisible to
            # the manifest reader yet real bytes on disk. Remove them, or
            # retries leak unbounded orphans in the sink directory.
            for m in messages:
                if m is None:
                    continue
                try:
                    os.remove(os.path.join(self.path, m.filename))
                except OSError:
                    pass
            return
        manifest.setdefault("epochs", []).append(batchId)
        manifest["files"].extend(
            {"name": m.filename, "rows": m.rows, "epoch": batchId}
            for m in messages
            if m is not None
        )
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, mpath)  # atomic publish per epoch

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is None:
                continue
            try:
                os.remove(os.path.join(self.path, m.filename))
            except OSError:
                pass


_REGISTERED_SESSIONS = __import__("weakref").WeakSet()
_REGISTER_LOCK = __import__("threading").Lock()


def register_python_sources(spark: SparkSession) -> None:
    """Register all Python DataSources on the session ONCE, behind a lock.

    Re-registration is not merely wasteful — it races: Spark's Python
    DataSourceManager replaces an existing entry non-atomically w.r.t.
    concurrent lookups, so a 16-thread bench calling register per spec
    invocation intermittently threw DATA_SOURCE_NOT_FOUND for a source that
    was registered the whole time (reproduced 12/24 under stress; the
    first-session registration alone never fails)."""
    with _REGISTER_LOCK:
        if spark in _REGISTERED_SESSIONS:
            return
        spark.dataSource.register(KVGenDataSource)
        spark.dataSource.register(JsonDirDataSource)
        _REGISTERED_SESSIONS.add(spark)


def expected_kv_value(key: int) -> str:
    """The oracle twin of KVGenReader.read's value derivation."""
    return hashlib.md5(f"k{key}".encode()).hexdigest()[:12]


# ---------------------------------------------------------------------------
# Driver-gated spec: the Python DataSource protocol under the correctness
# oracle. kvgen's executor-side value derivation (md5 of "k{key}") is
# DuckDB-expressible, so the whole bind → partition → per-partition execute
# chain is hash-compared against SQL — protocol bugs (lost partitions,
# double reads, value drift) become oracle mismatches. numRows is fixed:
# the source is input-free by design (ExpressionScan parity), sf_dir unused
# like the values_scan spec.
# ---------------------------------------------------------------------------
_KVGEN_SPEC_ROWS = 2000


def pyds_kvgen_scan(spark: SparkSession, sf_dir: str):
    register_python_sources(spark)
    return (
        spark.read.format("kvgen")
        .option("numRows", _KVGEN_SPEC_ROWS)
        .option("numPartitions", 8)
        .load()
    )


_KVGEN_ORACLE = f"""
SELECT range::BIGINT AS key,
       (range % 16)::INT AS bucket,
       substr(md5('k' || range), 1, 12) AS value
FROM range({_KVGEN_SPEC_ROWS})
"""


def _register_spec() -> None:
    from templatedb_spark.suite import QuerySpec, register

    register(
        QuerySpec(
            "pyds_kvgen_scan",
            pyds_kvgen_scan,
            _KVGEN_ORACLE,
            "Python DataSource protocol (bind/partitions/execute) vs SQL oracle",
        )
    )


_register_spec()


# ---------------------------------------------------------------------------
# Second gated spec: the full Python DataSource WRITE protocol. The spec
# pipes a deterministic slice of orders through the jsondir sink (unique
# part names, driver-side manifest commit) and reads it back through the
# jsondir reader (manifest-driven partitions), then aggregates; the oracle
# aggregates the same slice straight off the parquet. A lost part file, a
# double-committed task, or a manifest/visibility bug all hash-mismatch.
# ---------------------------------------------------------------------------
def pyds_jsondir_roundtrip(spark: SparkSession, sf_dir: str):
    from pyspark.sql import functions as F

    from templatedb_spark.streaming.drain import output_dir
    from templatedb_spark.suite import table

    register_python_sources(spark)
    # Python-DataSource WRITE resolution goes through the JVM thread-local
    # ACTIVE session, which is unset on fresh py4j threads — a worker-thread
    # caller (the bench pool, the driver harness) got DATA_SOURCE_NOT_FOUND
    # for a source registered the whole time. Pin the active session for
    # this thread before writing (measured: main-thread ok, worker-thread
    # 100% failure without this).
    try:
        spark._jsparkSession.setActiveSession(spark._jsparkSession)
    except Exception:
        pass  # private-API drift: the write then only works main-thread
    out = output_dir("jsondir_spec_")  # `back` below reads it lazily
    src = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", F.col("o_totalprice").cast("double").alias("price")
    ).filter(F.col("o_orderkey") % 50 == 0)
    # % 50, not % 5 (r6): the audited subject is the WRITE protocol (2PC
    # manifest commit -> manifest reader), which 3k rows exercise exactly as
    # well as 30k — the Python JSON encode/decode of the bigger slice was
    # ~7 s of pure throughput noise in every bench run (seq profile #2).
    src.write.format("jsondir").option("path", out).mode("append").save()
    back = spark.read.format("jsondir").option("path", out).load()
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("price").cast("decimal(12,2)")).cast("double").alias("sum_price"),
        F.min("o_orderkey").cast("long").alias("min_key"),
        F.max("o_orderkey").cast("long").alias("max_key"),
    )


_JSONDIR_ORACLE = """
SELECT o_orderstatus, COUNT(*)::BIGINT AS n,
       CAST(SUM(o_totalprice::DECIMAL(12,2)) AS DOUBLE) AS sum_price,
       MIN(o_orderkey)::BIGINT AS min_key,
       MAX(o_orderkey)::BIGINT AS max_key
FROM orders WHERE o_orderkey % 50 = 0
GROUP BY 1
"""


def _register_jsondir_spec() -> None:
    from templatedb_spark.suite import QuerySpec, register

    register(
        QuerySpec(
            "pyds_jsondir_roundtrip",
            pyds_jsondir_roundtrip,
            _JSONDIR_ORACLE,
            "Python DataSource WRITE protocol (2PC manifest sink -> manifest reader) vs direct-parquet oracle",
        )
    )


_register_jsondir_spec()


# ---------------------------------------------------------------------------
# Third gated spec (round 9): the Python STREAMING SOURCE protocol —
# DataSource.streamReader (initialOffset → latestOffset → partitions →
# executor read → commit) under the driver oracle. The bounded kvgen
# backlog drains with availableNow in rowsPerBatch-sized micro-batches
# (600 rows / 250 per trigger = 3 genuine batches); the appended union of
# every batch must equal the SQL-generated keyspace exactly — a lost
# offset range, an overlapping re-read, or value drift in the executor
# read() is a row-count or hash mismatch. This closes the protocol
# surface: batch read (pyds_kvgen_scan), 2PC write (pyds_jsondir_roundtrip),
# streaming write (inside pyds_jsondir_roundtrip's sink), streaming read
# (this spec).
# ---------------------------------------------------------------------------
_KVGEN_STREAM_ROWS = 600
_KVGEN_STREAM_PER_BATCH = 250


def pyds_stream_source(spark: SparkSession, sf_dir: str):
    import shutil
    import time

    from pyspark.sql import functions as F

    from templatedb_spark.streaming.drain import checkpoint_dir

    register_python_sources(spark)
    # uuid, not pid/thread: a bench worker thread can run this spec twice
    # (warmup + timed), and a reused memory-sink queryName must never risk
    # appending into a previous drain's table
    name = f"pyds_stream_{uuid.uuid4().hex[:12]}"
    ckpt = checkpoint_dir(spark)
    q = (
        spark.readStream.format("kvgen")
        .option("numRows", _KVGEN_STREAM_ROWS)
        .option("rowsPerBatch", _KVGEN_STREAM_PER_BATCH)
        .option("numPartitions", 4)
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        # availableNow pins the drain's end at the FIRST latestOffset (one
        # batch of a backlog whose clock advances per poll), so the bounded
        # backlog drains under processingTime until the row cap is reached —
        # the same discipline as tests/test_pyds.py's stream drains
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            q.processAllAvailable()
            if spark.table(name).count() >= _KVGEN_STREAM_ROWS:
                break
    finally:
        q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
    q.awaitTermination()
    return spark.table(name).select(
        F.col("key").cast("long").alias("key"),
        F.col("bucket").cast("int").alias("bucket"),
        F.col("value").alias("value"),
    )


_KVGEN_STREAM_ORACLE = f"""
SELECT range::BIGINT AS key,
       (range % 16)::INT AS bucket,
       substr(md5('k' || range), 1, 12) AS value
FROM range({_KVGEN_STREAM_ROWS})
"""


def _register_stream_source_spec() -> None:
    from templatedb_spark.suite import QuerySpec, register

    register(
        QuerySpec(
            "pyds_stream_source",
            pyds_stream_source,
            _KVGEN_STREAM_ORACLE,
            "Python DataSource STREAMING READ protocol (offsets -> partitions -> executor read, 3 micro-batches drained append) vs SQL keyspace oracle",
        )
    )


_register_stream_source_spec()
