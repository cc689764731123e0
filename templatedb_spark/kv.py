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
- **compact()** = rewrite the merged state as a single base version and drop
  history — the reference's `compact_range` (db_impl/template_impl.rs:180-194).

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
file-listing job. Hash-layout writes shuffle by bucket without a partition
count, so AQE sizes them (see KVTable._write_version_df). Compaction bounds
the number of deltas merged per read, same role it plays in the LSM.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import zlib
from pathlib import Path

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

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
        to prune whole versions out of range scans, point reads, and
        compact_range rewrites. Absent metadata (legacy records, recovered
        manifests) means "unknown", which every consumer treats as
        intersects-everything — pruning degrades, correctness doesn't.

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
        pre-compaction history (whose in-range tombstones compact_range
        provably elided) back under the merged base, corrupting state (the
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
                state[v] = {
                    "buckets": sorted(
                        int(b.name.split("=")[1])
                        for b in p.glob("bucket=*")
                        if b.is_dir()
                    ),
                    "kmin": None,
                    "kmax": None,
                }
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
        import shutil

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

    def _write_version_df(
        self,
        rows: DataFrame,
        v: int,
        known_range: tuple[str, str] | None = None,
        allow_empty: bool = False,
        n_rows_hint: int | None = None,
    ) -> dict | None:
        """Shuffle + write one version directory in the table's layout and
        return its manifest meta ({"buckets", "kmin", "kmax"
        [, "bucket_ranges"]}). An empty batch removes the directory and
        returns None — unless allow_empty (MergeKVTable commits complete
        states, and an all-deleted state is a legitimate empty version).

        hash layout: crc32(key) % B shuffle with no partition count, which
        AQE sizes to the data; the global key range rides the write job as
        an Observation (zero extra jobs) unless the caller already knows it
        (driver-side dict batches).
        range layout: repartitionByRange(key) + sortWithinPartitions(key) —
        each bucket is a key-sorted, range-disjoint run (the sorted
        SSTable); per-bucket smallest/largest are harvested from the
        parquet footers afterwards (see _bucket_key_ranges). The extra
        range-boundary sampling job is the LSM's sort cost.

        n_rows_hint (r10, guide §6 output sizing) sizes range-layout writes
        only: a tiny version writes from 1 task into 1 bucket instead of
        paying a fixed _KV_BUCKETS-task shuffle for 32 rows (measured: each
        16-task micro-write stage cost ~400 ms of pure task overhead in the
        streaming KV chains). The range bucket COUNT per version is already
        per-version metadata, so fewer buckets for fewer rows just means
        coarser (still correct) pruning on micro-versions. Unknown hint
        (distributed batches, compactions) keeps the full-width range
        layout."""
        import shutil

        root = Path(f"{self.path}/version={v}")
        self._clear_orphan(v)
        obs: Observation | None = None
        if self.layout == "range":
            # ~32 rows/bucket floor: a 200-row batch still fans to 7 disjoint
            # range buckets (pruning stays real); a 30-row sketch batch
            # writes one file from one task
            width = (
                _KV_BUCKETS
                if n_rows_hint is None
                else min(_KV_BUCKETS, max(1, (n_rows_hint + 31) // 32))
            )
            out = (
                rows.repartitionByRange(width, F.col("key"))
                .sortWithinPartitions("key")
                .withColumn("bucket", F.spark_partition_id())
            )
        else:
            out = rows.withColumn("bucket", _bucket_col())
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
        buckets = sorted(
            int(b.name.split("=")[1]) for b in root.glob("bucket=*") if b.is_dir()
        )
        if not buckets:
            if allow_empty:
                return {"buckets": []}
            shutil.rmtree(root, ignore_errors=True)
            return None
        if self.layout == "range":
            meta: dict = {"buckets": buckets}
            ranges = self._bucket_key_ranges(v, buckets)
            if ranges:
                meta["bucket_ranges"] = ranges
                meta["kmin"] = min(r[0] for r in ranges.values())
                meta["kmax"] = max(r[1] for r in ranges.values())
            elif known_range is not None:
                meta["kmin"], meta["kmax"] = known_range
            return meta
        kmin, kmax = known_range if known_range is not None else _obs_range(obs)
        return {"buckets": buckets, "kmin": kmin, "kmax": kmax}

    def _commit_version(
        self, v: int, kmin: str | None = None, kmax: str | None = None
    ) -> None:
        """Record a just-written delta dir in the manifest (the commit),
        with the version's key range when the writer knows it."""
        root = Path(f"{self.path}/version={v}")
        buckets = sorted(
            int(b.name.split("=")[1]) for b in root.glob("bucket=*") if b.is_dir()
        )
        self._append_manifest(
            self._add_record(v, {"buckets": buckets, "kmin": kmin, "kmax": kmax})
        )

    # -- versions -----------------------------------------------------------
    def _versions(self) -> list[int]:
        return sorted(self._load_manifest())

    def latest_version(self) -> int:
        vs = self._versions()
        return vs[-1] if vs else -1

    # -- writes (each call is one atomic batch == one new version) ----------
    @_locked
    def write_batch(self, puts: dict[str, str] | None = None, deletes: list[str] | None = None) -> int:
        """Atomic batch of puts+deletes (reference WriteBatch, batch.rs:42).

        A key in BOTH puts and deletes resolves as delete-wins: the batch API
        applies puts then deletes, mirroring the reference WriteBatch's
        sequential record apply (last op for a key wins). The put row is
        dropped at write time, so a version never contains two rows for one
        key and the merge-on-read window has no tie to break; MergeKVTable
        applies the same rule, so both backends agree deterministically.
        """
        v = self.latest_version() + 1
        dels = set(deletes or [])
        rows = [(k, val, "put", v) for k, val in (puts or {}).items() if k not in dels]
        rows += [(k, None, "del", v) for k in dels]
        if not rows:
            return self.latest_version()
        df = local_df(self.spark, rows, _SCHEMA)
        # the layout-specific shuffle co-locates buckets → exactly one file
        # per bucket dir; without it every input slice writes its own sliver
        # into every bucket (32 slices × 16 buckets = hundreds of tiny files
        # per version). Driver-side batch: the key range is free.
        keys = [r[0] for r in rows]
        meta = self._write_version_df(
            df, v, known_range=(min(keys), max(keys)), n_rows_hint=len(rows)
        )
        if meta is None:
            return self.latest_version()
        self._append_manifest(self._add_record(v, meta))
        self._maybe_auto_compact()
        return v

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
        hash-layout writes are sized by AQE (see _write_version_df).

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
        v = self.latest_version() + 1
        out = changes.select(
            F.col("key").cast("string").alias("key"),
            F.col("value").cast("string").alias("value"),
            F.col("op").cast("string").alias("op"),
            F.lit(v).cast("long").alias("version"),
        )
        # hash layout: an Observation piggybacks the key-range aggregate on
        # the write job itself (zero extra Spark jobs — the streaming commit
        # path stays one job per micro-batch); range layout harvests exact
        # per-bucket ranges from the parquet footers instead. Either way
        # this is the LSM recording each file's smallest/largest key as it
        # seals the SSTable.
        meta = self._write_version_df(out, v, n_rows_hint=n_rows_hint)
        if meta is None:  # empty batch: no data dirs were produced — no commit
            return self.latest_version()
        if tag is not None:
            meta["tag"] = tag
        self._append_manifest(self._add_record(v, meta))
        self._maybe_auto_compact()
        return v

    @_locked
    def write_batches_df(
        self,
        batches: list[DataFrame],
        n_rows_hint: int | None = None,
    ) -> list[int]:
        """Commit several INDEPENDENT change batches as consecutive versions
        with their Spark write jobs running CONCURRENTLY (guide §2.6 —
        overlap independent jobs so the next write's tasks back-fill the
        tail of the previous one). Semantically identical to calling
        write_batch_df once per batch in list order: version numbers are
        allocated in that order up front, each batch's delta directory is
        written by its own thread, and the manifest records are appended
        IN VERSION ORDER only after every write landed — so the append-is-
        the-commit contract holds and a crash anywhere leaves either
        nothing (all dirs orphaned, invisible, reclaimed on number reuse)
        or a clean prefix of the batches committed, exactly the states a
        sequential caller could observe. Callers are responsible for the
        batches being truly independent (disjoint keys, as the write_batch
        contract already requires at most one row per key per batch) —
        otherwise ordering between them is meaningless anyway, since each
        batch is its own atomic version and later versions shadow earlier
        ones per key regardless of wall-clock write order.

        An empty batch commits nothing (its version number is skipped —
        numbering is not required to be dense anywhere: reads order by the
        recorded version values, recovery walks recorded dirs). Returns the
        committed version per non-empty batch."""
        from concurrent.futures import ThreadPoolExecutor

        if not batches:
            return []
        v0 = self.latest_version() + 1
        outs = [
            b.select(
                F.col("key").cast("string").alias("key"),
                F.col("value").cast("string").alias("value"),
                F.col("op").cast("string").alias("op"),
                F.lit(v0 + i).cast("long").alias("version"),
            )
            for i, b in enumerate(batches)
        ]
        with ThreadPoolExecutor(max_workers=len(outs)) as pool:
            metas = list(
                pool.map(
                    lambda iv: self._write_version_df(
                        iv[1], v0 + iv[0], n_rows_hint=n_rows_hint
                    ),
                    enumerate(outs),
                )
            )
        committed: list[int] = []
        for i, meta in enumerate(metas):
            if meta is None:
                continue  # empty batch: no data dirs — no commit
            self._append_manifest(self._add_record(v0 + i, meta))
            committed.append(v0 + i)
        self._maybe_auto_compact()
        return committed

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
    @staticmethod
    def _intersects(meta: dict, start: str | None, end: str | None) -> bool:
        """Does version range [kmin, kmax] (inclusive actual keys) intersect
        the query range [start, end)? Unknown metadata → True (conservative:
        pruning may be lost, correctness never)."""
        return _range_intersects((meta.get("kmin"), meta.get("kmax")), start, end)

    def _version_buckets(
        self, meta: dict, start: str | None = None, end: str | None = None
    ) -> list[int]:
        """Bucket ids of one version, pruned to [start, end) when the
        manifest recorded per-bucket key ranges (range layout) — the LSM
        skipping SSTables whose smallest/largest miss the query. Buckets
        without a recorded range stay in (conservative)."""
        bs = meta["buckets"]
        branges = meta.get("bucket_ranges")
        if branges and (start is not None or end is not None):
            bs = [b for b in bs if _range_intersects(branges.get(b), start, end)]
        return bs

    def _version_bucket_paths(
        self, v: int, meta: dict, start: str | None = None, end: str | None = None
    ) -> list[str]:
        """Bucket leaf dirs of one version, pruned as in _version_buckets."""
        return [
            f"{self.path}/version={v}/bucket={b}"
            for b in self._version_buckets(meta, start, end)
        ]

    def _version_roots(self, v: int, buckets: list[int], meta: dict) -> list[str]:
        """Read roots for `buckets` of version v: the version dir itself when
        they are every bucket the manifest lists for it, else the bucket leaf
        dirs. One root per version instead of up to B keeps a multi-version
        read under spark.sql.sources.parallelPartitionDiscovery.threshold, so
        opening the read starts no file-listing job."""
        if buckets and set(buckets) == set(meta["buckets"]):
            return [f"{self.path}/version={v}"]
        return [f"{self.path}/version={v}/bucket={b}" for b in buckets]

    def _live_versions(
        self,
        as_of: int | None = None,
        start: str | None = None,
        end: str | None = None,
    ) -> list[tuple[int, dict]]:
        # resolved purely from the manifest: no directory stats on the read
        # path. start/end prune WHOLE VERSIONS whose recorded key range
        # misses [start, end) — sound for merge-on-read because a version
        # with no in-range key contributes no row to any in-range key's
        # merge window (the LSM's smallest/largest SSTable skip).
        state = self._load_manifest()
        return [
            (v, state[v])
            for v in sorted(state)
            if (as_of is None or v <= as_of) and self._intersects(state[v], start, end)
        ]

    def _delta_paths(
        self,
        as_of: int | None = None,
        bucket: int | None = None,
        start: str | None = None,
        end: str | None = None,
    ) -> list[str]:
        """Bucket leaf dirs a read must open: `bucket` picks one bucket per
        version (hash-layout point read), None every bucket surviving the
        range pruning."""
        out: list[str] = []
        for v, meta in self._live_versions(as_of, start, end):
            if bucket is None:
                out.extend(self._version_bucket_paths(v, meta, start, end))
            elif bucket in meta["buckets"]:
                out.append(f"{self.path}/version={v}/bucket={bucket}")
        return out

    def _delta_roots(
        self,
        as_of: int | None = None,
        start: str | None = None,
        end: str | None = None,
    ) -> list[str]:
        """The dirs of _delta_paths(as_of, start=start, end=end), as read
        roots (see _version_roots)."""
        return [
            root
            for v, meta in self._live_versions(as_of, start, end)
            for root in self._version_roots(
                v, self._version_buckets(meta, start, end), meta
            )
        ]

    def _read_deltas(self, roots: list[str]) -> DataFrame | None:
        if not roots:
            return None
        # version and bucket are partition columns parsed from the dir names
        # under basePath. The partition value overrides the `version` data
        # column, which a hardlink-cloned version still carries from its old
        # number (see compact_range). Both are deterministic, so key
        # predicates reach the parquet scan as pushed filters.
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

        key_range=[start, end) restricts the merge to versions whose
        recorded key range intersects it (version-level pruning for range
        scans); the caller still applies the exact row filter — pruning is
        a superset guarantee, not the predicate."""
        start, end = key_range if key_range else (None, None)
        deltas = self._read_deltas(self._delta_roots(as_of, start, end))
        if deltas is None:
            return empty_df(self.spark, "key string, value string")
        w = Window.partitionBy("key").orderBy(F.col("version").desc())
        return (
            deltas.withColumn("rn", F.row_number().over(w))
            .filter((F.col("rn") == 1) & (F.col("op") == "put"))
            .select("key", "value")
        )

    def _point_deltas(self, key: str, as_of: int | None = None) -> DataFrame | None:
        """Every row for `key` at or below as_of, read from ONLY the key's
        bucket dir under each version (1/B of the table's files — the LSM
        point-read shape, db_trait.rs:17-34), with the key predicate pushed
        to parquet; versions whose recorded key range excludes the key are
        skipped entirely (the smallest/largest SSTable check before the
        bloom). Hash layout finds the bucket by hashing the key; range
        layout finds it through the manifest's per-bucket ranges (the same
        start/end parameters drive _version_bucket_paths)."""
        deltas = self._read_deltas(
            self._delta_paths(
                as_of,
                bucket=bucket_of(key) if self.layout == "hash" else None,
                start=key,
                end=key + "\x00",
            )
        )
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
        before any file is opened (see _delta_paths); the exact row filter
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
    @_locked
    def compact(self) -> int:
        """Collapse history into a single base version (compact_range parity).

        Manifest discipline (version_set.rs WriteSnapshot analogue): the new
        base is published as a one-line manifest SNAPSHOT via atomic rename
        BEFORE old directories are removed — a crash mid-cleanup leaves only
        invisible orphan dirs, never a manifest pointing at deleted data.
        """
        old_versions = self._versions()
        state = self.snapshot().withColumn("op", F.lit("put"))
        v = self.latest_version() + 1
        out = state.withColumn("version", F.lit(v).cast("long")).select(
            "key", "value", "op", "version"
        )
        # same one-file-per-bucket discipline as write_batch — the compacted
        # base is the version every subsequent read opens. allow_empty keeps
        # the historical contract that compacting an all-deleted table still
        # publishes the (empty) base version.
        meta = self._write_version_df(out, v, allow_empty=True)
        self._write_manifest_snapshot({v: meta})
        # floor BEFORE cleanup: if the manifest is lost while the rmtrees
        # below are still running, recovery must not resurrect the retired
        # versions (see _bump_floor)
        self._bump_floor(v)
        import shutil

        for old in old_versions:
            if old != v:
                shutil.rmtree(f"{self.path}/version={old}", ignore_errors=True)
        return v

    @_locked
    def compact_range(self, start: str | None = None, end: str | None = None) -> int:
        """Keyed-subrange compaction — parity with the reference's
        compact_range(start, end) (db_impl/template_impl.rs:180-194), which
        compacts only the SSTables overlapping a key range. Here: history
        for keys in [start, end) collapses into ONE merged base (tombstones
        elided — safe, because every in-range row is also dropped from the
        rewritten history, so no older put can resurrect), while
        out-of-range keys keep their full delta history and its relative
        shadowing order, rewritten under fresh ascending version numbers.
        With both bounds None this degenerates to compact().

        Layout note: our buckets are HASH buckets (point-read pruning), so a
        key range maps to every bucket WITHIN a version — but versions whose
        manifest key range [kmin, kmax] misses [start, end) are skipped
        without a rewrite: their directories are HARDLINK-cloned under the
        new version number (metadata-only, no data IO, no Spark job) — the
        reference's ordered SSTables skipping non-overlapping files
        (version_edit smallest/largest). The clone, not a rename, keeps the
        OLD directory untouched until the manifest snapshot publishes, so a
        crash at any point pre-publish leaves the previous state fully
        intact. Versions without range metadata (legacy/recovered) are
        conservatively rewritten. Like compact(), the operation invalidates
        as_of reads of pre-compaction versions; the manifest snapshot is
        published via atomic rename BEFORE old dirs are removed, and the
        FLOOR marker is bumped before cleanup so a lost manifest
        mid-cleanup cannot resurrect retired versions."""
        import shutil

        old_versions = self._versions()
        if not old_versions:
            return -1
        if start is None and end is None:
            return self.compact()

        def in_range(col: Column) -> Column:
            cond = F.lit(True)
            if start is not None:
                cond = cond & (col >= start)
            if end is not None:
                cond = cond & (col < end)
            return cond

        state: dict[int, dict] = {}

        def link_clone(o: int, v: int, buckets: list[int] | None = None) -> None:
            """Hardlink version=o's files under version=v (same filesystem —
            both live in the table dir); buckets=None clones the whole
            version, a list clones only those bucket dirs (range layout's
            non-overlapping SSTables carried forward file-by-file). The
            effective version of a row is re-derived from the directory name
            at read time (_read_deltas), so the clone IS the renumbered
            version. Links into an existing version dir are fine — the
            Spark write that created it owns disjoint bucket ids."""
            if buckets is None:
                self._clear_orphan(v)
            src, dst = Path(f"{self.path}/version={o}"), Path(f"{self.path}/version={v}")
            roots = (
                [src] if buckets is None else [src / f"bucket={b}" for b in buckets]
            )
            for r in roots:
                for sdir, _dirs, files in os.walk(r):
                    ddir = dst / Path(sdir).relative_to(src)
                    ddir.mkdir(parents=True, exist_ok=True)
                    for fn in files:
                        os.link(Path(sdir) / fn, ddir / fn)

        # merged in-range base (new lowest version — disjoint keys from the
        # rewritten history, so relative position is irrelevant)
        v = self.latest_version() + 1
        base = (
            self.snapshot(key_range=(start, end))
            .filter(in_range(F.col("key")))
            .select(
                "key",
                "value",
                F.lit("put").alias("op"),
                F.lit(v).cast("long").alias("version"),
            )
        )
        # out-of-range history: one version per old version, in the original
        # ascending order (shadowing among surviving keys preserved — and
        # preserved ACROSS cloned and rewritten versions, because both take
        # their new numbers from the same ascending counter). The manifest
        # is stable inside the write lock — read it once. Version numbers
        # are assigned in this serial planning pass; the base write and the
        # per-version rewrites then EXECUTE concurrently (guide §2.6 —
        # they read only pre-compaction dirs and write disjoint new dirs,
        # and nothing publishes until the manifest snapshot below, so the
        # crash states are exactly the serial loop's: invisible orphans).
        # Measured r11 (paired best-of-6 at sf0.1): kv_compact_range_state's
        # compaction phase was the spec's largest serial run of mini jobs.
        mstate = self._load_manifest()
        nxt = v + 1
        clones: list[tuple[int, int, dict]] = []
        rewrites: list[tuple[int, int, list[int], list[int], dict]] = []
        for o in old_versions:
            meta_o = mstate.get(o, {"buckets": []})
            if not self._intersects(meta_o, start, end):
                # no in-range key can exist in this version: clone, don't
                # rewrite — carry the (exact) old key range forward
                clones.append((o, nxt, dict(meta_o)))
                nxt += 1
                continue
            # range layout records per-bucket key ranges: rewrite ONLY the
            # buckets overlapping [start, end) and hardlink-clone the rest —
            # the LSM rewriting only the SSTables the range touches. Hash
            # layout (or absent metadata) rewrites every bucket.
            branges = meta_o.get("bucket_ranges")
            if branges and set(branges) >= set(meta_o["buckets"]):
                hit = [
                    b
                    for b in meta_o["buckets"]
                    if _range_intersects(branges.get(b), start, end)
                ]
                miss = [b for b in meta_o["buckets"] if b not in set(hit)]
            else:
                hit, miss = list(meta_o["buckets"]), []
            rewrites.append((o, nxt, hit, miss, meta_o))
            nxt += 1

        def rewrite_one(item: tuple) -> tuple[int, dict | None]:
            o, nv, hit, miss, meta_o = item
            branges = meta_o.get("bucket_ranges")
            rows = self._read_deltas(self._version_roots(o, hit, meta_o))
            self._clear_orphan(nv)
            wrote: list[int] = []
            if rows is not None:
                # preserve each kept row's ORIGINAL bucket id (the partition
                # column) so cloned and rewritten buckets share one
                # consistent id space — and, for range layout, so every
                # bucket keeps its range-disjointness. The un-numbered
                # repartition lets AQE size the write (see _write_version_df)
                kept = rows.filter(~in_range(F.col("key"))).select(
                    "key",
                    "value",
                    "op",
                    F.lit(nv).cast("long").alias("version"),
                    "bucket",
                )
                kept = kept.repartition(F.col("bucket")).sortWithinPartitions(
                    "bucket", "key"
                )
                kept.write.mode("errorifexists").partitionBy("bucket").parquet(
                    f"{self.path}/version={nv}"
                )
                vroot = Path(f"{self.path}/version={nv}")
                wrote = sorted(
                    int(b.name.split("=")[1])
                    for b in vroot.glob("bucket=*")
                    if b.is_dir()
                )
            if miss:
                link_clone(o, nv, buckets=miss)
            buckets = sorted(set(wrote) | set(miss))
            if not buckets:
                shutil.rmtree(f"{self.path}/version={nv}", ignore_errors=True)
                return nv, None
            kmeta: dict = {"buckets": buckets}
            if branges:
                nr = {b: branges[b] for b in miss if b in branges}
                wr = self._bucket_key_ranges(nv, wrote) if wrote else {}
                if wr is not None:
                    nr.update(wr)
                    if nr:
                        kmeta["bucket_ranges"] = nr
                        kmeta["kmin"] = min(r[0] for r in nr.values())
                        kmeta["kmax"] = max(r[1] for r in nr.values())
            if (
                "kmin" not in kmeta
                and meta_o.get("kmin") is not None
                and meta_o.get("kmax") is not None
            ):
                # superset of the kept rows' true range — sound for pruning
                kmeta["kmin"], kmeta["kmax"] = meta_o["kmin"], meta_o["kmax"]
            return nv, kmeta

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=1 + max(1, len(rewrites))) as pool:
            base_fut = pool.submit(self._write_version_df, base, v)
            rw_futs = [pool.submit(rewrite_one, it) for it in rewrites]
            # no live in-range keys → _write_version_df drops the empty dir
            # and returns None; numbering stays dense either way
            meta = base_fut.result()
            rw_results = [f.result() for f in rw_futs]
        if meta is not None:
            state[v] = meta
        for o, nv, m in clones:
            link_clone(o, nv)
            state[nv] = m
        for nv, kmeta in rw_results:
            if kmeta is not None:
                state[nv] = kmeta
        self._write_manifest_snapshot(state)
        # floor BEFORE cleanup — every surviving version number is ≥ v, so a
        # recovery after manifest loss mid-cleanup quarantines the retired
        # old dirs instead of resurrecting them
        self._bump_floor(v)
        for o in old_versions:
            if o not in state:
                shutil.rmtree(f"{self.path}/version={o}", ignore_errors=True)
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
    """

    @_locked
    def write_batch(self, puts: dict[str, str] | None = None, deletes: list[str] | None = None) -> int:
        puts = puts or {}
        deletes = deletes or []
        if not puts and not deletes:
            return self.latest_version()
        v = self.latest_version() + 1
        prev = self.snapshot()
        changed = local_df(
            self.spark, [(k,) for k in set(puts) | set(deletes)], "key string"
        )
        state = prev.join(changed, "key", "left_anti")
        # delete-wins on a key in both maps — same contract as KVTable
        live = {k: val for k, val in puts.items() if k not in set(deletes)}
        if live:
            state = state.unionByName(
                local_df(self.spark, list(live.items()), "key string, value string")
            )
        out = state.select(
            "key",
            "value",
            F.lit("put").alias("op"),
            F.lit(v).cast("long").alias("version"),
        )
        # allow_empty: deleting the last live key legitimately commits an
        # empty complete-state version (the live state IS empty)
        meta = self._write_version_df(out, v, allow_empty=True)
        self._append_manifest(self._add_record(v, meta))
        self._maybe_auto_compact()
        return v

    @_locked
    def write_batch_df(self, changes: DataFrame, tag: str | None = None) -> int:
        """Distributed-changes twin of write_batch (see KVTable.write_batch_df
        for the contract): the three-branch MERGE runs entirely as a
        DataFrame plan — anti-join drops touched keys from the previous
        state, the batch's puts union in. No driver materialization.
        `tag` gives the same exactly-once replay skip as the base class —
        doubly important here, where re-applying a replayed batch is NOT
        value-idempotent at the version level (each apply rewrites a full
        state version)."""
        if tag is not None:
            hit = self._tag_version(tag)
            if hit is not None:
                return hit  # replayed micro-batch: already committed
        if changes.isEmpty():
            return self.latest_version()
        v = self.latest_version() + 1
        ch = changes.select(
            F.col("key").cast("string").alias("key"),
            F.col("value").cast("string").alias("value"),
            F.col("op").cast("string").alias("op"),
        )
        prev = self.snapshot()
        state = prev.join(ch.select("key"), "key", "left_anti").unionByName(
            ch.filter(F.col("op") == "put").select("key", "value")
        )
        out = state.select(
            "key",
            "value",
            F.lit("put").alias("op"),
            F.lit(v).cast("long").alias("version"),
        )
        meta = self._write_version_df(out, v, allow_empty=True)
        if tag is not None:
            meta["tag"] = tag
        self._append_manifest(self._add_record(v, meta))
        self._maybe_auto_compact()
        return v

    def snapshot(
        self,
        as_of: int | None = None,
        key_range: tuple[str | None, str | None] | None = None,
    ) -> DataFrame:
        state = self._load_manifest()
        vs = sorted(state)
        if as_of is not None:
            vs = [v for v in vs if v <= as_of]
        if not vs:
            return empty_df(self.spark, "key string, value string")
        v = vs[-1]
        if key_range and not self._intersects(state[v], *key_range):
            # every version is complete state — a range miss on the live
            # version means no in-range keys exist at all
            return empty_df(self.spark, "key string, value string")
        start, end = key_range if key_range else (None, None)
        df = self._read_deltas(
            self._version_roots(v, self._version_buckets(state[v], start, end), state[v])
        )
        if df is None:
            return empty_df(self.spark, "key string, value string")
        return df.select("key", "value")

    def _point_deltas(self, key: str, as_of: int | None = None) -> DataFrame | None:
        """Rows for `key` from ONLY the latest complete state at or below
        as_of: an older version may still hold a key that state deleted
        (complete states carry no tombstones), so KVTable.get's newest-row
        read must not see older versions here."""
        state = self._load_manifest()
        vs = sorted(v for v in state if as_of is None or v <= as_of)
        if not vs:
            return None
        v = vs[-1]
        if not self._intersects(state[v], key, key + "\x00"):
            return None  # key outside the live state's recorded range
        if self.layout == "hash":
            b = bucket_of(key)
            if b not in state[v]["buckets"]:
                return None
            paths = [f"{self.path}/version={v}/bucket={b}"]
        else:
            # range layout: the manifest's per-bucket ranges locate the
            # key's bucket(s); absent ranges degrade to all buckets
            paths = self._version_bucket_paths(v, state[v], key, key + "\x00")
        if not paths:
            return None
        return self._read_deltas(paths).filter(F.col("key") == key)

    def compact_range(self, start: str | None = None, end: str | None = None) -> int:
        """Every version is already a COMPLETE merged state (merge-on-write),
        so a subrange has no narrower history to collapse — range compaction
        degenerates to dropping whole-state history, i.e. compact()."""
        return self.compact()

    @_locked
    def compact(self) -> int:
        """State is already merged per version — compaction just drops history
        (manifest snapshot first, then the FLOOR marker, directory cleanup
        last; see KVTable.compact)."""
        import shutil

        state = self._load_manifest()
        if not state:
            return -1
        v = max(state)
        self._write_manifest_snapshot({v: state[v]})
        self._bump_floor(v)
        for old in state:
            if old != v:
                shutil.rmtree(f"{self.path}/version={old}", ignore_errors=True)
        return v
