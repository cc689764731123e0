"""KV capability layer — storage-engine parity re-expressed over Spark tables.

The reference's storage engine is a LevelDB-style LSM tree exposing
`put/get/delete/write(WriteBatch)/iter/snapshot` over ordered byte keys
(reference: src/storage_engine/src/db_trait.rs:13-47, memtable/batch.rs:42,
manager/snapshot.rs:9-32). Per SURVEY.md §2.11 this is *semantic* parity —
ordered map + atomic batch + MVCC snapshot reads — not an LSM re-implementation:

- a **write batch** = one immutable parquet delta file of (key, value, op)
  rows tagged with a monotonically increasing version (the LSM's sequence
  number; one batch == one atomic commit, like WriteBatch);
- **read at version v** = merge-on-read: latest op per key with version ≤ v
  (window row_number over version desc), dropping tombstones — exactly the
  LSM's "newest sequence wins, delete shadows" merge
  (reference: iterator/db_iter.rs, kmerge_iter.rs k-way merge semantics);
- **snapshot(v)** = reading pinned at an old version (MVCC; the reference's
  `Snapshot` holds a sequence number);
- **scan(start, end)** = ordered range read (`iter` over the merged view);
- **compact_range(start, end)** = merge whole every version (range layout:
  every bucket) whose key range overlaps [start, end), closed over the
  merged key span, into one base version in one Spark write; every other
  version is hardlinked unchanged — the reference's `compact_range`
  (db_impl/template_impl.rs:180-194), LevelDB's CompactRange. **compact()**
  is compact_range with no bounds: one base, no history.

Version discovery is a MANIFEST edit log (see KVTable._load_manifest) — the
reference's VersionSet MANIFEST (manager/version_set.rs:178) — so read-path
metadata is one small-file read, not an O(versions) directory walk.

Scale: every version is a directory `version=N` sub-partitioned into
bucket dirs `bucket=B`, one parquet file each. The hash layout (default)
buckets by crc32(key) % `_KV_BUCKETS` — the same function evaluated JVM-side
at write time and in Python at read time; the range layout records each
bucket's key range in the manifest. Reads take version and bucket back as
partition columns, so key predicates are pushed into the parquet scan. A
point `get` opens ONLY its key's bucket directory under each version — 1/B
of the files, mirroring how the LSM's bloom-filtered SSTables prune reads
(reference: sstable/filter_block.rs) — and takes the key's newest row in one
Spark job. Scans and snapshots merge with one window over key (hash-shuffled
by key, no global sort except for ordered scans); a version whose every
bucket is read is passed as ONE root, so a read over up to 32 such
versions (spark.sql.sources.parallelPartitionDiscovery.threshold) starts no
file-listing job. Compaction bounds the number of deltas merged per read,
same role it plays in the LSM.

Both backends share one protocol. Every version — a batch write, a
compaction base, a MergeKVTable state — is written by
KVTable._write_version and committed by one manifest record; every read
opens what KVTable._resolve picks from the manifest; both compactions
publish through KVTable._publish. MergeKVTable differs only in the rows a
version holds (_version_rows) and in reading just its latest version.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import shutil
import threading
import zlib
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.util import inheritable_thread_target

from templatedb_spark.sources.memory import empty_df, local_df

_SCHEMA = "key string, value string, op string, version long"
_KV_BUCKETS = 16
_LAYOUTS = ("hash", "range")


def _range_intersects(rng, start: str | None, end: str | None) -> bool:
    """Does the recorded inclusive key range `rng` = (kmin, kmax) intersect
    the query range [start, end)? Unknown/absent range → True (pruning may
    be lost, correctness never)."""
    if not rng or rng[0] is None or rng[1] is None:
        return True
    kmin, kmax = rng[0], rng[1]
    if start is not None and kmax < start:
        return False
    if end is not None and kmin >= end:
        return False
    return True


def _span(ranges: list) -> tuple[str | None, str | None]:
    """The [start, end) bounds of the union of inclusive key ranges, for
    _range_intersects: (None, None) when any range is unknown. The end is
    the largest kmax plus "\x00", the least string above it."""
    if any(not r or r[0] is None or r[1] is None for r in ranges):
        return None, None
    return min(r[0] for r in ranges), max(r[1] for r in ranges) + "\x00"


def _newest_puts(deltas: DataFrame) -> DataFrame:
    """Merge-on-read: each key's newest row, kept if it is a put, as
    (key, value) — newest sequence wins, a tombstone shadows."""
    w = Window.partitionBy("key").orderBy(F.col("version").desc())
    return (
        deltas.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") == "put"))
        .select("key", "value")
    )


def _locked(fn):
    """Serialize mutators — version allocation, the delta write, and the
    manifest append must be one atomic step (two unsynchronized writers
    would allocate the same version and _clear_orphan each other's
    in-flight directory). Two layers:

    - the handle-level RLock makes one KVTable thread-safe (RocksDB-handle
      contract), and its reentrancy lets compact() run inside write_batch
      (auto-compaction);
    - an OS-level flock on <table>/.lock (held only at the OUTERMOST
      mutator, depth-counted under the RLock) serializes writers across
      HANDLES — two SparkSessions, two processes on one machine — the
      contention the reference gets from LevelDB's LOCK file
      (db_impl/mod.rs acquires a file lock on open; we lock per-mutation
      instead so independent handles can interleave batches). Cross-NODE
      coordination on a shared filesystem without flock semantics remains
      a catalog/transaction-service concern, documented out of scope."""

    @functools.wraps(fn)
    def wrapper(self, *a, **k):
        with self._write_lock:
            self._flock_depth += 1
            try:
                if self._flock_depth == 1:
                    self._acquire_flock()
                return fn(self, *a, **k)
            finally:
                self._flock_depth -= 1
                if self._flock_depth == 0:
                    self._release_flock()

    return wrapper


def bucket_of(key: str) -> int:
    """Python twin of the write path's F.crc32 bucket expression."""
    return zlib.crc32(key.encode("utf-8")) % _KV_BUCKETS


def _bucket_col() -> Column:
    return F.pmod(F.crc32(F.col("key").cast("binary")), F.lit(_KV_BUCKETS)).cast("int")


def _kv_cols() -> list[Column]:
    """key, value and op as strings (a caller's change batch may carry
    other types)."""
    return [F.col(c).cast("string").alias(c) for c in ("key", "value", "op")]


def _bucket_ids(root: Path) -> list[int]:
    """Bucket ids of one version dir, from its bucket=B subdirs."""
    return sorted(int(b.name.split("=")[1]) for b in root.glob("bucket=*") if b.is_dir())


def _concurrently(spark: SparkSession, calls: list) -> list:
    """Run independent Spark writes one thread each (guide §2.6: the next
    write's tasks back-fill the tail of the previous one) and return their
    results in order. Each call is wrapped in the caller's thread, so its
    jobs carry the caller's local properties: job group, description and
    scheduler pool. A lone call runs inline, in the caller's thread."""
    if len(calls) <= 1:
        return [c() for c in calls]
    calls = [inheritable_thread_target(spark)(c) for c in calls]
    with ThreadPoolExecutor(max_workers=len(calls)) as pool:
        return [f.result() for f in [pool.submit(c) for c in calls]]


def _obs_range(obs: Observation) -> tuple[str | None, str | None]:
    """Key range observed during a write job, tolerant of plans where the
    CollectMetrics node was optimized away — AQE's empty-relation propagation
    on an EMPTY write leaves no metrics row and Observation.get trips a JVM
    assertion (toPyRow). Missing metrics degrade to unknown range (the
    version simply isn't pruned), never to an error."""
    try:
        m = obs.get
        return m.get("kmin"), m.get("kmax")
    except Exception:
        return None, None


class KVTable:
    """Ordered, versioned key-value table over parquet delta files."""

    # True when every version holds the whole live state (MergeKVTable):
    # reads open only the newest version, and an all-deleted state is a
    # legitimate empty version
    _complete_states = False

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        auto_compact_every: int | None = None,
        layout: str | None = None,
    ):
        """auto_compact_every=N makes compaction threshold-driven: after a
        commit that leaves ≥N live versions, compact() runs inside the same
        write lock — the semantic twin of the reference's leveled trigger
        (level-0 file count reaching its limit schedules a compaction,
        db_impl/mod.rs:950-975). None (default) keeps compaction manual.

        layout picks the physical bucketing of every version directory:

        - "hash" (default): bucket = crc32(key) % B. Point reads prune to
          one bucket by hashing the key; range scans cannot prune buckets
          (a key range maps to every hash bucket).
        - "range": each version is range-partitioned and key-sorted — the
          LSM's sorted SSTable run (sstable/table_builder.rs builds sorted
          blocks; manager/version_edit.rs records each file's
          smallest/largest). Every bucket's key range is recorded in the
          manifest, so BOTH point reads and range scans/compactions prune
          at bucket granularity before any file is opened.

        The layout is pinned by a LAYOUT marker next to the MANIFEST on
        first use; reopening a table adopts the marker (passing a
        conflicting explicit layout raises). Versions written before a
        layout existed carry no bucket ranges and degrade to no bucket
        pruning — correctness is unaffected in every mixed case because
        pruning always derives from per-version manifest metadata, never
        from the table-level default.
        """
        self.spark = spark
        self.path = path
        self.auto_compact_every = auto_compact_every
        self._write_lock = threading.RLock()  # see _locked
        self._flock_depth = 0
        self._flock_fd: int | None = None
        self._lease_held = False  # O_EXCL lease fallback, see _acquire_flock
        os.makedirs(path, exist_ok=True)
        if layout is not None and layout not in _LAYOUTS:
            raise ValueError(f"layout must be one of {_LAYOUTS}, got {layout!r}")
        marker = Path(path) / "LAYOUT"
        existing: str | None = None
        try:
            existing = marker.read_text(encoding="utf-8").strip() or None
        except OSError:
            pass
        if existing is not None and layout is not None and layout != existing:
            raise ValueError(
                f"table at {path} has layout {existing!r}; cannot reopen as {layout!r}"
            )
        self.layout = existing or layout or "hash"
        # only the non-default layout needs the marker: absence == hash, so
        # hash tables (incl. every pre-existing one) never gain a new file
        if self.layout == "range" and existing is None:
            tmp = marker.with_suffix(f".tmp.{os.getpid()}")
            tmp.write_text(self.layout, encoding="utf-8")
            os.replace(tmp, marker)

    def _acquire_flock(self) -> None:
        """Blocking exclusive flock on <table>/.lock (cross-handle writer
        mutex, see _locked). On filesystems where flock is unavailable or a
        no-op between nodes (classic NFSv3 without lockd; some FUSE/object
        mounts — the semantics gap noted in r6) the fallback is an O_EXCL
        LEASE file: creation is atomic even on NFS, so at most one writer
        holds it; a crashed holder's lease is taken over after _LEASE_TTL
        via an atomic rename (exactly one contender wins the rename, the
        rest re-poll). The lease is best-effort relative to flock — a
        takeover during a >TTL-long GC pause could admit a second writer —
        which is why TTL is generous and real multi-NODE deployments should
        front writes with a catalog/transaction service (documented scope)."""
        try:
            import fcntl

            self._flock_fd = os.open(
                os.path.join(self.path, ".lock"), os.O_CREAT | os.O_RDWR, 0o644
            )
            fcntl.flock(self._flock_fd, fcntl.LOCK_EX)
            return
        except (ImportError, OSError):
            if self._flock_fd is not None:
                os.close(self._flock_fd)
            self._flock_fd = None
        self._acquire_lease()

    _LEASE_TTL = 60.0  # seconds before a holderless lease may be taken over
    _LEASE_POLL = 0.05

    def _acquire_lease(self) -> None:
        import time

        lease = os.path.join(self.path, ".lease")
        while True:
            try:
                fd = os.open(lease, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
                try:
                    os.write(fd, f"{os.getpid()} {time.time()}\n".encode("ascii"))
                finally:
                    os.close(fd)
                self._lease_held = True
                return
            except FileExistsError:
                try:
                    age = time.time() - os.stat(lease).st_mtime
                except OSError:
                    continue  # raced with a release: retry immediately
                if age > self._LEASE_TTL:
                    # stale lease (crashed holder): atomic-rename takeover so
                    # exactly one contender clears it
                    stale = f"{lease}.stale.{os.getpid()}"
                    try:
                        os.replace(lease, stale)
                        os.unlink(stale)
                    except OSError:
                        pass  # another contender won the rename
                    continue
                time.sleep(self._LEASE_POLL)
            except OSError:
                # lease dir unusable (read-only fs?): degrade to handle-level
                # locking only — the pre-r6 contract
                self._lease_held = False
                return

    def _release_flock(self) -> None:
        if self._flock_fd is not None:
            try:
                import fcntl

                fcntl.flock(self._flock_fd, fcntl.LOCK_UN)
            except (ImportError, OSError):
                pass
            os.close(self._flock_fd)
            self._flock_fd = None
        elif getattr(self, "_lease_held", False):
            try:
                os.unlink(os.path.join(self.path, ".lease"))
            except OSError:
                pass
            self._lease_held = False

    def _maybe_auto_compact(self) -> None:
        """Threshold trigger (see __init__): called at the tail of every
        committing mutator, still inside the write lock (RLock reentrancy +
        flock depth-count make the nested compact() a no-op lock-wise)."""
        if self.auto_compact_every and len(self._versions()) >= self.auto_compact_every:
            self.compact()

    # -- manifest ------------------------------------------------------------
    # Version discovery is a MANIFEST file, not a directory walk (reference:
    # manager/version_set.rs:178 keeps live versions in a MANIFEST log of
    # VersionEdits, version_edit.rs:117). Ours is an append-only JSONL log:
    #   {"op": "add", "v": N, "buckets": [..]}   — one line per committed batch
    #   {"op": "drop", "v": N}                    — compaction retires a version
    # The append IS the commit point: a batch whose delta directory was
    # written but whose manifest line wasn't (crash window) is invisible, the
    # same contract the LSM gets from logging the edit before publishing.
    # Compaction rewrites the log as a one-line snapshot via tmp + atomic
    # rename (the reference's WriteSnapshot on manifest rollover). Point
    # reads therefore do O(manifest) metadata — one small-file read — instead
    # of O(versions) directory stats; per-version bucket lists prune the
    # is_dir probes too.

    @property
    def _manifest(self) -> Path:
        return Path(self.path) / "MANIFEST"

    @property
    def _committed_marker(self) -> Path:
        return Path(self.path) / "COMMITTED"

    @property
    def _floor_marker(self) -> Path:
        return Path(self.path) / "FLOOR"

    def _bump_floor(self, v: int) -> None:
        """Record the compaction floor: every version number BELOW v is
        retired — its directory is post-compaction garbage awaiting cleanup,
        never live state. Written (tmp + atomic rename, monotone like the
        COMMITTED marker) AFTER a compaction publishes its manifest snapshot
        and BEFORE old directories are removed. The marker exists solely for
        _recover_manifest: without it, losing the MANIFEST *mid-cleanup*
        (after the snapshot, before every old rmtree finished) would let the
        directory walk resurrect already-compacted-away versions — they
        carry _SUCCESS and sit below the COMMITTED marker, so they look
        committed (the r7 'double failure' residual). With the floor,
        recovery quarantines them. The only remaining window is a crash in
        the instant BETWEEN the snapshot rename and this rename combined
        with manifest loss — two atomic renames apart, documented."""
        cur = self._read_floor()
        if cur is not None and cur >= v:
            return
        tmp = self._floor_marker.with_suffix(f".tmp.{os.getpid()}")
        tmp.write_text(str(v), encoding="utf-8")
        os.replace(tmp, self._floor_marker)

    def _read_floor(self) -> int | None:
        try:
            return int(self._floor_marker.read_text(encoding="utf-8").strip())
        except (OSError, ValueError):
            return None

    def _bump_committed_marker(self, v: int) -> None:
        """Record the highest committed version in a secondary marker
        (tmp + atomic rename), updated AFTER every manifest commit. The
        marker exists solely for _recover_manifest: with the MANIFEST lost,
        a version dir whose parquet job finished (_SUCCESS) but whose
        manifest append never landed is indistinguishable from a committed
        one by directory state alone — the marker keeps the commit-point
        contract (such a dir is uncommitted and must stay invisible) across
        manifest loss. The marker may lag by the one in-flight commit
        (crash between append and bump), which only matters under the
        double failure manifest-loss + same-instant crash; recovery then
        restores a consistent prefix."""
        cur = self._read_committed_marker()
        if cur is not None and cur >= v:
            return
        tmp = self._committed_marker.with_suffix(".tmp")
        tmp.write_text(str(v), encoding="utf-8")
        os.replace(tmp, self._committed_marker)

    def _read_committed_marker(self) -> int | None:
        try:
            return int(self._committed_marker.read_text(encoding="utf-8").strip())
        except (OSError, ValueError):
            return None

    def _load_manifest(self) -> dict[int, dict]:
        """Replay the edit log → {live version: {"buckets": sorted bucket
        ids, "kmin": smallest key or None, "kmax": largest key or None}}.
        kmin/kmax are the per-version key range — the LSM's per-SSTable
        smallest/largest FileMetaData (reference: manager/version_edit.rs
        keeps smallest/largest per file) — recorded at write time and used
        to prune whole versions out of range scans and point reads, and to
        pick what compact_range merges. Absent metadata (legacy records,
        recovered manifests) means "unknown", which every consumer treats
        as intersects-everything — pruning degrades, correctness doesn't.

        A torn record (crash mid-append) is SKIPPED: it was never a commit —
        its version number stays unassigned (latest_version won't count it)
        and its leftover dir is cleared when the number is reused
        (_clear_orphan). Later lines still replay, because _append_manifest
        repairs the missing newline before the next commit, so valid records
        can legitimately follow a torn one.
        """
        if not self._manifest.exists():
            return self._recover_manifest()
        state: dict[int, dict] = {}
        with open(self._manifest, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                try:
                    rec = json.loads(line)
                    op, v = rec["op"], rec["v"]
                except (ValueError, KeyError, TypeError):
                    continue  # torn append: never committed, skip
                if op == "add":
                    meta = {
                        "buckets": rec.get("buckets", []),
                        "kmin": rec.get("kmin"),
                        "kmax": rec.get("kmax"),
                    }
                    if rec.get("bucket_ranges"):
                        meta["bucket_ranges"] = {
                            int(b): (r[0], r[1])
                            for b, r in rec["bucket_ranges"].items()
                        }
                    if rec.get("tag"):
                        meta["tag"] = rec["tag"]
                    state[v] = meta
                elif op == "drop":
                    state.pop(v, None)
        return state

    @_locked
    def _recover_manifest(self) -> dict[int, list[int]]:
        """Pre-manifest table (or lost manifest): rebuild from the directory
        layout once, persist, and never walk again.

        Runs under the table write lock even though it is reachable from
        reader paths (_load_manifest): recovery MUTATES (quarantine renames +
        the snapshot write), and unlocked it could race a concurrent writer —
        two recoveries interleaving writes into the same MANIFEST.tmp, or a
        reader quarantining a version dir a flock-holding writer has written
        (_SUCCESS present) but not yet manifest-appended (ADVICE r6). With
        the lock held the manifest's existence is stable, but it may have
        appeared while we WAITED for the lock — re-check and replay instead
        of walking. Only version dirs whose
        parquet job COMMITTED (Hadoop _SUCCESS marker) are considered, and —
        when the COMMITTED marker survives — only versions at or below the
        marker are resurrected: a batch whose parquet job finished but which
        crashed BEFORE its manifest append was never committed, and losing
        the MANIFEST must not make it durable (it could resurrect a value
        that was correctly invisible, and collide with the version number's
        reuse). Such dirs are QUARANTINED (renamed under quarantine/), never
        deleted here: the marker is allowed to lag the manifest by one
        in-flight commit, so under the double failure manifest-loss +
        stale/corrupt marker an ACKNOWLEDGED commit could sit above the
        marker — a hard delete would silently destroy it with no recovery
        path, and this code is also reachable from a reader's _load_manifest
        while a concurrent writer commits. Quarantine keeps the bytes
        inspectable/recoverable; hard deletion stays confined to the
        writer-locked _clear_orphan (ADVICE r5). Without a marker (legacy
        layout) every _SUCCESS dir is trusted — the pre-marker behavior,
        documented best-effort.

        The FLOOR marker closes the mirror-image window at the BOTTOM: a
        version dir below the compaction floor is retired garbage whose
        post-compaction rmtree never finished — resurrecting it would splice
        pre-compaction history (whose tombstones the merged base provably
        elided) back under the merged base, corrupting state (the
        r7 'double failure' residual). Such dirs are quarantined too.
        Recovered records carry no kmin/kmax (the ranges lived only in the
        lost manifest); consumers treat that as unknown-range, so pruning
        degrades but reads stay correct."""
        if self._manifest.exists():
            return self._load_manifest()
        high = self._read_committed_marker()
        floor = self._read_floor()
        state: dict[int, dict] = {}
        orphans: list[Path] = []
        for p in Path(self.path).glob("version=*"):
            if p.is_dir() and (p / "_SUCCESS").exists():
                v = int(p.name.split("=")[1])
                if (high is not None and v > high) or (
                    floor is not None and v < floor
                ):
                    orphans.append(p)
                    continue
                state[v] = {"buckets": _bucket_ids(p), "kmin": None, "kmax": None}
        for p in orphans:
            self._quarantine(p)
        if state:
            self._write_manifest_snapshot(state)
        return state

    def _quarantine(self, p: Path) -> None:
        """Move a suspect version dir under quarantine/ instead of deleting it
        (rename is atomic on the same filesystem; a numeric suffix avoids
        collisions across repeated recoveries). Best-effort: a failed rename
        leaves the dir in place rather than risking data loss."""
        qdir = Path(self.path) / "quarantine"
        try:
            qdir.mkdir(exist_ok=True)
            target = qdir / p.name
            n = 0
            while target.exists():
                n += 1
                target = qdir / f"{p.name}.{n}"
            os.replace(p, target)
        except OSError:
            pass

    def _clear_orphan(self, v: int) -> None:
        """Remove an UNCOMMITTED leftover dir for version v (written by a
        crashed batch whose manifest line never landed). Without this the
        next write_batch re-derives the same v from the manifest and the
        errorifexists write fails forever — the one crash window the round-4
        review found in the manifest design."""
        d = Path(f"{self.path}/version={v}")
        if d.exists():
            shutil.rmtree(d, ignore_errors=True)

    def _append_manifest(self, record: dict) -> None:
        # If a crashed append left a torn tail WITHOUT a newline, start this
        # record on a fresh line — otherwise the new commit glues onto the
        # partial record and the end-of-log replay rule would discard BOTH.
        lead = ""
        try:
            with open(self._manifest, "rb") as f:
                f.seek(-1, 2)
                if f.read(1) != b"\n":
                    lead = "\n"
        except OSError:
            pass  # missing or empty file
        with open(self._manifest, "a", encoding="utf-8") as f:
            f.write(lead + json.dumps(record, separators=(",", ":")) + "\n")
        if record.get("op") == "add":
            self._bump_committed_marker(record["v"])

    @staticmethod
    def _add_record(v: int, meta: dict | list) -> dict:
        """Normalize a manifest 'add' record; meta is either a bare bucket
        list (legacy) or {"buckets", "kmin", "kmax"[, "bucket_ranges"]}
        (None ranges omitted; bucket_ranges JSON-encodes bucket ids as
        string keys)."""
        if isinstance(meta, list):
            meta = {"buckets": meta}
        rec = {"op": "add", "v": v, "buckets": meta.get("buckets", [])}
        if meta.get("kmin") is not None and meta.get("kmax") is not None:
            rec["kmin"], rec["kmax"] = meta["kmin"], meta["kmax"]
        if meta.get("bucket_ranges"):
            rec["bucket_ranges"] = {
                str(b): [r[0], r[1]] for b, r in meta["bucket_ranges"].items()
            }
        if meta.get("tag"):
            # idempotency tag (exactly-once streaming sink): the version
            # carries the (query, batch_id) that produced it, so a replayed
            # micro-batch is recognized and skipped instead of re-applied
            rec["tag"] = meta["tag"]
        return rec

    def _write_manifest_snapshot(self, state: dict[int, dict]) -> None:
        # pid-suffixed tmp: on platforms where the flock silently degrades
        # (see _acquire_flock) two processes snapshotting concurrently must
        # not interleave writes into ONE tmp file and then promote a torn
        # snapshot via os.replace (ADVICE r6; defense in depth — with a real
        # flock the callers are already serialized)
        tmp = self._manifest.with_suffix(f".tmp.{os.getpid()}")
        with open(tmp, "w", encoding="utf-8") as f:
            for v in sorted(state):
                f.write(
                    json.dumps(self._add_record(v, state[v]), separators=(",", ":"))
                    + "\n"
                )
        os.replace(tmp, self._manifest)  # atomic on POSIX
        if state:
            self._bump_committed_marker(max(state))

    def _bucket_key_ranges(
        self, v: int, buckets: list[int]
    ) -> dict[int, tuple[str, str]] | None:
        """Per-bucket key ranges from parquet FOOTER statistics — the LSM
        reading each sealed SSTable's smallest/largest out of its own file
        metadata (manager/version_edit.rs FileMetaData), driver-side, no
        data IO and no extra Spark job. Parquet writers may truncate or
        omit long binary min/max stats: a truncated min is a prefix of the
        true min (still a sound lower bound) and parquet-mr omits rather
        than weakens an oversized max, so harvested bounds are sound or
        absent. ANY absence → None: the version commits without bucket
        ranges and simply isn't bucket-pruned (correctness unaffected)."""
        import pyarrow.parquet as pq

        out: dict[int, tuple[str, str]] = {}
        for b in buckets:
            bdir = Path(f"{self.path}/version={v}/bucket={b}")
            mins: list[str] = []
            maxs: list[str] = []
            for fp in sorted(bdir.glob("*.parquet")):
                try:
                    md = pq.ParquetFile(fp).metadata
                except Exception:
                    return None
                idx = next(
                    (
                        i
                        for i in range(md.num_columns)
                        if md.schema.column(i).name == "key"
                    ),
                    None,
                )
                if idx is None:
                    return None
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx).statistics
                    if st is None or not st.has_min_max:
                        return None
                    mn, mx = st.min, st.max
                    if isinstance(mn, bytes):
                        mn = mn.decode("utf-8", errors="surrogateescape")
                    if isinstance(mx, bytes):
                        mx = mx.decode("utf-8", errors="surrogateescape")
                    mins.append(mn)
                    maxs.append(mx)
            if not mins:
                return None
            out[b] = (min(mins), max(maxs))
        return out

    def _write_version(
        self,
        rows: DataFrame,
        v: int,
        known_range: tuple[str, str] | None = None,
        n_rows_hint: int | None = None,
        allow_empty: bool = False,
    ) -> dict | None:
        """Write version v from (key, value, op) `rows` — the one version
        write of both backends — and return its manifest meta ({"buckets",
        "kmin", "kmax"[, "bucket_ranges"]}): project the (key, value, op,
        version) rows, shuffle them in the table's layout, run the single
        errorifexists parquet write, list the written buckets and harvest
        the key range. An empty version removes its directory and returns
        None, unless allow_empty (a full compaction's base and a
        MergeKVTable state are published even when nothing is live).

        hash layout: crc32(key) % B shuffle with no partition count, which
        AQE sizes to the data; the key range rides the write job as an
        Observation (zero extra jobs) unless the caller knows it
        (driver-side dict batches).
        range layout: repartitionByRange(key) + sortWithinPartitions(key) —
        each bucket is a key-sorted, range-disjoint run (the sorted
        SSTable); per-bucket smallest/largest are harvested from the
        parquet footers afterwards (see _bucket_key_ranges). The extra
        range-boundary sampling job is the LSM's sort cost. n_rows_hint
        narrows a small range write to ~32 rows per bucket, so a 30-row
        sketch batch writes one file from one task instead of paying a
        _KV_BUCKETS-task shuffle (~400 ms of task overhead per micro-write
        in the streaming KV chains); the bucket count is per-version
        metadata, so fewer buckets only coarsen pruning. Hash writes ignore
        the hint."""
        root = Path(f"{self.path}/version={v}")
        self._clear_orphan(v)
        out = rows.select(*_kv_cols(), F.lit(v).cast("long").alias("version"))
        obs: Observation | None = None
        if self.layout == "range":
            width = (
                _KV_BUCKETS
                if n_rows_hint is None
                else min(_KV_BUCKETS, max(1, (n_rows_hint + 31) // 32))
            )
            out = (
                out.repartitionByRange(width, F.col("key"))
                .sortWithinPartitions("key")
                .withColumn("bucket", F.spark_partition_id())
            )
        else:
            out = out.withColumn("bucket", _bucket_col())
            if known_range is None:
                obs = Observation()
                out = out.observe(
                    obs, F.min("key").alias("kmin"), F.max("key").alias("kmax")
                )
            # no partition count: AQE coalesces whole hash partitions, so
            # each bucket still lands in one task (one file per bucket dir)
            # while the task count follows the data size
            out = out.repartition(F.col("bucket"))
        out.write.mode("errorifexists").partitionBy("bucket").parquet(str(root))
        buckets = _bucket_ids(root)
        if not buckets:
            if allow_empty:
                return {"buckets": []}
            shutil.rmtree(root, ignore_errors=True)
            return None
        ranges = self._bucket_key_ranges(v, buckets) if self.layout == "range" else None
        if ranges:
            return {
                "buckets": buckets,
                "bucket_ranges": ranges,
                "kmin": min(r[0] for r in ranges.values()),
                "kmax": max(r[1] for r in ranges.values()),
            }
        kmin, kmax = known_range or (_obs_range(obs) if obs else (None, None))
        return {"buckets": buckets, "kmin": kmin, "kmax": kmax}

    def _link(self, o: int, v: int, buckets: list[int]) -> None:
        """Hardlink version=o's `buckets` dirs and its own files (the
        _SUCCESS marker manifest recovery looks for) under version=v (same
        filesystem — both live in the table dir). The version of a row is
        read from the directory name (see _read), so the link IS the
        renumbered version."""
        src, dst = Path(f"{self.path}/version={o}"), Path(f"{self.path}/version={v}")
        for sdir, dirs, files in os.walk(src):
            if Path(sdir) == src:
                dirs[:] = [f"bucket={b}" for b in buckets]
            ddir = dst / Path(sdir).relative_to(src)
            ddir.mkdir(parents=True, exist_ok=True)
            for fn in files:
                os.link(Path(sdir) / fn, ddir / fn)

    def _commit(
        self,
        batches: list[DataFrame],
        tag: str | None = None,
        n_rows_hint: int | None = None,
        known_range: tuple[str, str] | None = None,
    ) -> list[int]:
        """The commit path of every batch write: one version per change
        batch, numbered in list order up front, written concurrently (see
        _concurrently), and committed by appending the manifest records IN
        VERSION ORDER after every write landed. The append-is-the-commit
        contract holds: a crash anywhere leaves either nothing (the dirs are
        orphans, invisible, reclaimed on number reuse) or a clean prefix of
        the batches, exactly the states a sequential caller could observe.
        An empty batch commits nothing and its number is skipped (numbering
        need not be dense: reads order by the recorded versions). `tag` is
        recorded with the version (single-batch callers). The hints describe
        the change rows, so they are dropped where a version holds a whole
        state instead. Returns the committed versions."""
        v0 = self._next_version()
        changes: list[DataFrame | None] = list(batches)
        if self._complete_states:
            # a whole-state version of an empty batch still holds the
            # previous state, so its write cannot tell that the batch was
            # empty: check first (a dict batch, whose range is known, is not)
            if known_range is None:
                changes = [None if c.isEmpty() else c for c in changes]
            known_range = n_rows_hint = None
        rows = self._version_rows(changes)
        todo = [(v0 + i, r) for i, r in enumerate(rows) if r is not None]
        metas = _concurrently(
            self.spark,
            [
                functools.partial(
                    self._write_version,
                    r,
                    v,
                    known_range=known_range,
                    n_rows_hint=n_rows_hint,
                    allow_empty=self._complete_states,
                )
                for v, r in todo
            ]
        )
        committed: list[int] = []
        for (v, _), meta in zip(todo, metas):
            if meta is None:
                continue  # empty batch: no data dirs — no commit
            if tag is not None:
                meta["tag"] = tag
            self._append_manifest(self._add_record(v, meta))
            committed.append(v)
        if committed:
            self._maybe_auto_compact()
        return committed

    def _version_rows(
        self, changes: list[DataFrame | None]
    ) -> list[DataFrame | None]:
        """The rows each change batch's version holds; None stays None (a
        batch known to be empty commits nothing). A merge-on-read version
        holds the changes themselves, and its write finds an empty one."""
        return changes

    # -- versions -----------------------------------------------------------
    def _versions(self) -> list[int]:
        return sorted(self._load_manifest())

    def latest_version(self) -> int:
        vs = self._versions()
        return vs[-1] if vs else -1

    def _next_version(self, state: dict[int, dict] | None = None) -> int:
        """The first free version number: above every live version and never
        below the compaction FLOOR. After a compaction that leaves no live
        version the manifest is empty, and a number below the floor would be
        quarantined as retired by a later manifest recovery."""
        state = self._load_manifest() if state is None else state
        return max(max(state, default=-1) + 1, self._read_floor() or 0)

    # -- writes (each call is one atomic batch == one new version) ----------
    @_locked
    def write_batch(self, puts: dict[str, str] | None = None, deletes: list[str] | None = None) -> int:
        """Atomic batch of puts+deletes (reference WriteBatch, batch.rs:42).

        A key in BOTH puts and deletes resolves as delete-wins: the batch API
        applies puts then deletes, mirroring the reference WriteBatch's
        sequential record apply (last op for a key wins). The put row is
        dropped at write time, so a version never contains two rows for one
        key and the merge-on-read window has no tie to break; MergeKVTable
        applies the same rows, so both backends agree deterministically.
        """
        dels = set(deletes or [])
        rows = [(k, val, "put") for k, val in (puts or {}).items() if k not in dels]
        rows += [(k, None, "del") for k in dels]
        if not rows:
            return self.latest_version()
        keys = [r[0] for r in rows]  # driver-side batch: the key range is free
        return self._commit(
            [local_df(self.spark, rows, "key string, value string, op string")],
            n_rows_hint=len(rows),
            known_range=(min(keys), max(keys)),
        )[0]

    @_locked
    def write_batch_df(
        self,
        changes: DataFrame,
        tag: str | None = None,
        n_rows_hint: int | None = None,
    ) -> int:
        """Atomic batch from a DISTRIBUTED (key, value, op) DataFrame — the
        streaming-ingest shape: no driver materialization anywhere, the
        change set flows shuffle→write entirely on executors (the dict-based
        write_batch is O(distinct keys) on the driver, which its docstring
        admits is the one driver-side step; this is the 100 TB path).

        `n_rows_hint`: callers that know the batch is driver-sized (sketch
        merges, bounded view states) pass the row count so a range-layout
        version write narrows instead of paying the full bucket-range width;
        hash-layout writes are sized by AQE (see _write_version).

        Contract matches write_batch: op in ('put','del'), and at most one
        row per key per batch — the caller's responsibility (the streaming
        path's net-effect compaction guarantees it), exactly as the
        reference WriteBatch expects pre-deduplicated records. Returns the
        committed version, or the current latest for an empty batch (no
        empty versions, same as write_batch).

        `tag` makes the write EXACTLY-ONCE under micro-batch replay: the tag
        (caller supplies e.g. "query:b<batch_id>") is committed atomically
        with the version in its manifest record; a later call with a tag the
        manifest already holds is a recognized replay and returns the
        existing version without writing. Structured Streaming re-runs the
        last uncommitted micro-batch after a failure — with tags the sink
        commit and the dedup marker are ONE atomic manifest append, the
        transactional-sink recipe. After a compaction collapses tagged
        versions the tags are gone and a replay re-applies; that degrades to
        value-level idempotency, which the net-effect contract (same puts,
        deletes of already-absent keys) already guarantees for final state.
        """
        if tag is not None:
            hit = self._tag_version(tag)
            if hit is not None:
                return hit  # replayed micro-batch: already committed
        vs = self._commit([changes], tag=tag, n_rows_hint=n_rows_hint)
        return vs[0] if vs else self.latest_version()

    @_locked
    def write_batches_df(
        self,
        batches: list[DataFrame],
        n_rows_hint: int | None = None,
    ) -> list[int]:
        """Commit several INDEPENDENT change batches as consecutive versions
        whose Spark write jobs run CONCURRENTLY (guide §2.6). Semantically
        identical to calling write_batch_df once per batch in list order
        (see _commit): the same version numbers, an empty batch's number
        skipped, the same states. Callers keep the batches independent
        (disjoint keys, as the write_batch contract already requires at
        most one row per key per batch) — otherwise ordering between them
        is meaningless anyway, since each batch is its own atomic version
        and later versions shadow earlier ones per key regardless of
        wall-clock write order. Returns the committed version per non-empty
        batch."""
        return self._commit(batches, n_rows_hint=n_rows_hint)

    def _tag_version(self, tag: str) -> int | None:
        """Version committed under `tag`, or None (see write_batch_df)."""
        for v, m in self._load_manifest().items():
            if m.get("tag") == tag:
                return v
        return None

    def has_tag(self, tag: str) -> bool:
        return self._tag_version(tag) is not None

    def put(self, key: str, value: str) -> int:
        return self.write_batch(puts={key: value})

    def delete(self, key: str) -> int:
        return self.write_batch(deletes=[key])

    # -- reads --------------------------------------------------------------
    def _resolve(
        self,
        as_of: int | None = None,
        start: str | None = None,
        end: str | None = None,
        bucket: int | None = None,
    ) -> dict[int, list[int] | None]:
        """What a read opens, resolved purely from the manifest (no
        directory stats on the read path): {version: bucket ids, or None for
        every bucket}, ascending. Versions above as_of are skipped, and a
        complete-state table reads only the newest one left. A version whose
        recorded key range misses [start, end) is pruned — sound for
        merge-on-read because it contributes no row to any in-range key's
        merge window (the LSM's smallest/largest SSTable skip) — and so is
        every bucket whose recorded range misses it (range layout). `bucket`
        keeps only that bucket (hash-layout point read). Unknown ranges
        never prune: pruning may be lost, correctness never."""
        state = self._load_manifest()
        vs = [v for v in sorted(state) if as_of is None or v <= as_of]
        if self._complete_states:
            vs = vs[-1:]
        plan: dict[int, list[int] | None] = {}
        for v in vs:
            meta = state[v]
            if not _range_intersects((meta.get("kmin"), meta.get("kmax")), start, end):
                continue
            ranges = meta.get("bucket_ranges") or {}
            bs = [
                b
                for b in meta["buckets"]
                if bucket in (None, b) and _range_intersects(ranges.get(b), start, end)
            ]
            if bs:
                plan[v] = None if len(bs) == len(meta["buckets"]) else bs
        return plan

    def _read(self, plan: dict[int, list[int] | None]) -> DataFrame | None:
        """The rows of a _resolve plan. A whole version is ONE root instead
        of up to B bucket dirs, which keeps a multi-version read under
        spark.sql.sources.parallelPartitionDiscovery.threshold, so opening
        it starts no file-listing job. version and bucket are partition
        columns parsed from the dir names under basePath; the partition
        value overrides the `version` data column, which a hardlinked
        version still carries from its old number (see compact_range). Both
        are deterministic, so key predicates reach the parquet scan as
        pushed filters."""
        roots = [
            root
            for v, bs in plan.items()
            for root in (
                [f"{self.path}/version={v}"]
                if bs is None
                else [f"{self.path}/version={v}/bucket={b}" for b in bs]
            )
        ]
        if not roots:
            return None
        return (
            self.spark.read.schema(_SCHEMA + ", bucket int")
            .option("basePath", self.path)
            .parquet(*roots)
        )

    def snapshot(
        self,
        as_of: int | None = None,
        key_range: tuple[str | None, str | None] | None = None,
    ) -> DataFrame:
        """Merged (key, value) state at a version — MVCC read (snapshot.rs:9-32).

        key_range=[start, end) restricts the read to versions and buckets
        whose recorded key range intersects it (see _resolve); the caller
        still applies the exact row filter — pruning is a superset
        guarantee, not the predicate. A complete-state version needs no
        merge window."""
        start, end = key_range if key_range else (None, None)
        deltas = self._read(self._resolve(as_of, start, end))
        if deltas is None:
            return empty_df(self.spark, "key string, value string")
        if self._complete_states:
            return deltas.select("key", "value")
        return _newest_puts(deltas)

    def _point_deltas(self, key: str, as_of: int | None = None) -> DataFrame | None:
        """Every row for `key` at or below as_of, read from ONLY the key's
        bucket dir under each version (1/B of the table's files — the LSM
        point-read shape, db_trait.rs:17-34), with the key predicate pushed
        to parquet; versions whose recorded key range excludes the key are
        skipped entirely (the smallest/largest SSTable check before the
        bloom). Hash layout finds the bucket by hashing the key; range
        layout finds it through the manifest's per-bucket ranges. A
        complete-state table reads only its newest version: an older one may
        still hold a key that state deleted (complete states carry no
        tombstones)."""
        bucket = bucket_of(key) if self.layout == "hash" else None
        deltas = self._read(self._resolve(as_of, key, key + "\x00", bucket))
        return None if deltas is None else deltas.filter(F.col("key") == key)

    def get(self, key: str, as_of: int | None = None) -> str | None:
        # the newest row decides (newest sequence wins, a tombstone shadows):
        # a top-1 over the key's rows is one job and one stage, where a
        # row_number window would add an exchange and a second job
        deltas = self._point_deltas(key, as_of)
        if deltas is None:
            return None
        rows = (
            deltas.orderBy(F.col("version").desc()).limit(1).select("op", "value").collect()
        )
        return rows[0].value if rows and rows[0].op == "put" else None

    def scan(self, start: str | None = None, end: str | None = None, as_of: int | None = None) -> DataFrame:
        """Ordered range scan [start, end) — the LSM `iter` (db_iter.rs).
        Versions whose manifest key range misses [start, end) are pruned
        before any file is opened (see _resolve); the exact row filter
        below is still applied on what remains."""
        df = self.snapshot(as_of, key_range=(start, end))
        if start is not None:
            df = df.filter(F.col("key") >= start)
        if end is not None:
            df = df.filter(F.col("key") < end)
        return df.orderBy("key")

    def approximate_size(self, start: str | None = None, end: str | None = None) -> int:
        """Row-count stand-in for get_approximate_size (db_impl/mod.rs:1365)."""
        return self.scan(start, end).count()

    # -- maintenance --------------------------------------------------------
    def _publish(self, state: dict[int, dict], floor: int) -> None:
        """Publish a compaction, in the order crash recovery relies on: the
        manifest SNAPSHOT first (atomic rename, the version_set.rs
        WriteSnapshot analogue — a crash afterwards leaves only invisible
        orphan dirs, never a manifest pointing at deleted data), then the
        FLOOR marker (a manifest lost mid-cleanup must not resurrect the
        retired versions, see _bump_floor), and only then the rmtree of
        every version dir below the floor that the new state does not list.
        The dirs are found by listing the table, not from the old manifest,
        so the retired dirs of an earlier compaction that crashed before
        its own rmtree are reclaimed too."""
        self._write_manifest_snapshot(state)
        self._bump_floor(floor)
        for p in Path(self.path).glob("version=*"):
            o = int(p.name.split("=")[1])
            if o < floor and o not in state:
                shutil.rmtree(p, ignore_errors=True)

    def compact(self) -> int:
        """Collapse history into a single base version (compact_range parity):
        compact_range with no bounds, where every version is retired into the
        merged base. The base is published even when no key is live."""
        return self.compact_range()

    @_locked
    def compact_range(self, start: str | None = None, end: str | None = None) -> int:
        """Keyed-subrange compaction — parity with the reference's
        compact_range(start, end) (db_impl/template_impl.rs:180-194), which,
        like LevelDB's CompactRange, merges WHOLE every file that overlaps
        the range. A unit is what the manifest records a key range for: a
        range-layout (version, bucket) with a recorded bucket range (the
        SSTable), else the whole version with its kmin/kmax; an unknown
        range overlaps everything. The units that intersect [start, end)
        are closed over their key span: every unit that intersects
        [min kmin, max kmax] of the set joins it, until it stops growing.
        Without the closure an older unit disjoint from [start, end) but
        inside the span would be renumbered above the base and shadow a
        merged value, or resurrect a key whose tombstone the base dropped.

        The closed set is merged into ONE base (one Spark write, tombstones
        elided — safe, because every row of every key in the span is in the
        set) under the next version number. Every other version is
        HARDLINK-cloned under a number above the base, in its old order
        (metadata-only, no data IO, no Spark job — the reference's ordered
        SSTables skipping non-overlapping files); a range-layout version
        that lost only some buckets to the base keeps the rest with their
        recorded ranges. So keys outside the span keep their full history.
        In the hash layout a unit is a whole version, and versions of
        scattered keys all overlap, so the closure is usually every version
        and the result is compact()'s. Clones, not
        renames, keep the OLD directories untouched until _publish, so a
        crash at any point before it leaves the previous state intact.

        Returns the base's version number; an empty table returns -1, and a
        range no unit overlaps changes nothing and returns the latest
        version. The operation invalidates as_of reads of pre-compaction
        versions."""
        mstate = self._load_manifest()
        # (version, bucket) -> the key range of the unit that bucket is in
        units = {
            (o, b): meta["bucket_ranges"].get(b)
            if meta.get("bucket_ranges")
            else (meta.get("kmin"), meta.get("kmax"))
            for o, meta in mstate.items()
            for b in meta["buckets"]
        }
        merged = {u for u, rng in units.items() if _range_intersects(rng, start, end)}
        while merged:
            span = _span([units[u] for u in merged])
            grown = {u for u, rng in units.items() if _range_intersects(rng, *span)}
            if grown == merged:
                break
            merged = grown
        if not merged:
            return max(mstate, default=-1)
        plan: dict[int, list[int] | None] = {}
        for o, b in sorted(merged):
            plan.setdefault(o, []).append(b)
        for o, bs in plan.items():
            if len(bs) == len(mstate[o]["buckets"]):
                plan[o] = None  # the whole version: one root (see _read)
        v = self._next_version(mstate)
        base = _newest_puts(self._read(plan)).withColumn("op", F.lit("put"))
        written = self._write_version(base, v, allow_empty=start is None and end is None)
        state = {} if written is None else {v: written}
        numbers = itertools.count(v + 1)
        for o, meta in sorted(mstate.items()):
            keep = [b for b in meta["buckets"] if (o, b) not in merged]
            if not keep:
                continue  # every row is in the base: retired
            nv = next(numbers)
            self._clear_orphan(nv)
            self._link(o, nv, keep)
            if len(keep) < len(meta["buckets"]):  # range layout: the rest went to the base
                ranges = {b: meta["bucket_ranges"][b] for b in keep}
                meta = dict(
                    meta,
                    buckets=keep,
                    bucket_ranges=ranges,
                    kmin=min(r[0] for r in ranges.values()),
                    kmax=max(r[1] for r in ranges.values()),
                )
            state[nv] = meta
        self._publish(state, v)
        return v


class MergeKVTable(KVTable):
    """Copy-on-write twin of KVTable behind the same API: every write batch
    MERGEs into the previous state and persists a COMPLETE new state version
    (the 3-branch MERGE shape of streaming/cdc.py's net-effect apply —
    matched+delete drops the row, matched+put replaces it, unmatched put
    inserts). Where the base class is merge-on-read (LSM-style: cheap writes,
    reads fold deltas), this backend is merge-on-write (Delta/Iceberg MERGE
    style: writes rewrite state, reads touch exactly ONE version). snapshot()
    needs no window; a point get reads one bucket dir of one version. At real
    scale the full-state rewrite becomes a partition-level rewrite of only the
    buckets a batch touches — the bucket layout here is exactly that unit.
    Writes, reads and compaction run through KVTable's paths; this class
    supplies only the rows a version holds (_version_rows).
    """

    _complete_states = True

    def _version_rows(
        self, changes: list[DataFrame | None]
    ) -> list[DataFrame | None]:
        """Each batch's version holds the complete state after it: the
        previous state anti-joined with the batch's keys, plus its puts.
        Every state builds on the one before, so the batches of one
        write_batches_df call commit exactly the states sequential calls
        would, while their writes still run concurrently."""
        state, out = self.snapshot(), []
        for ch in changes:
            if ch is None:
                out.append(None)
                continue
            ch = ch.select(*_kv_cols())  # typed keys for the join
            state = state.join(ch.select("key"), "key", "left_anti").unionByName(
                ch.filter(F.col("op") == "put").select("key", "value")
            )
            out.append(state.withColumn("op", F.lit("put")))
        return out

    def compact_range(self, start: str | None = None, end: str | None = None) -> int:
        """Every version is already a COMPLETE merged state (merge-on-write),
        so a subrange has no narrower history to collapse — range compaction
        degenerates to dropping whole-state history, i.e. compact()."""
        return self.compact()

    @_locked
    def compact(self) -> int:
        """State is already merged per version — compaction just drops
        history (published as in KVTable, see _publish)."""
        state = self._load_manifest()
        if not state:
            return -1
        v = max(state)
        self._publish({v: state[v]}, v)
        return v
