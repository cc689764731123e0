"""Randomized kill-point fuzz of the KV write path's two-phase commit
(VERDICT r8 #6). write_batch_df stages a version directory (parquet write,
_SUCCESS) and publishes it with one manifest append; the directed tests in
test_kv.py each pin ONE crash window — this fuzz drives a seeded random batch
sequence and kills the writer at a seeded random point in a seeded random
batch, then recovers through a FRESH handle (the restart) and replays the
crashed batch the way Structured Streaming would (same tag, same data).

Kill points:
  pre_stage    — before anything is staged (nothing visible)
  post_stage   — version dir fully written, manifest append never ran
                 (the classic orphan window)
  torn_append  — crash mid-append: a truncated manifest line, no newline
  post_commit  — manifest line durable, the call never returned (a replayed
                 tag must be recognized: exactly-once, no double apply)

For every seed the final scan must equal the net-effect dict oracle, and for
post_commit + tagged batches the replay must return the already-committed
version without writing a new one.

Compaction kill points (compact_range publishes through KVTable._publish):
  post_base     — the base written and the clones linked, no manifest
                  snapshot yet (every new dir is an invisible orphan)
  post_snapshot — the new manifest durable, FLOOR not yet bumped
  post_floor    — FLOOR bumped, the retired versions not yet removed

Each is recovered through a fresh handle with the MANIFEST kept and again
with it removed (the directory walk of _recover_manifest): the state must
equal the oracle and no version live at the crash may be quarantined.

Reference semantics under test: WriteBatch atomicity
(src/storage_engine/src/db_trait.rs:13-47) — an acknowledged batch is fully
visible, an unacknowledged one fully invisible, across crashes.
"""

from __future__ import annotations

import json
import os
import random
import tempfile

import pytest

from templatedb_spark.kv import KVTable, MergeKVTable

_KEYS = [f"k{i}" for i in range(8)]
_POINTS = ["pre_stage", "post_stage", "torn_append", "post_commit"]


class InjectedCrash(RuntimeError):
    pass


def _random_batches(rng: random.Random, n: int):
    """Net-effect batches: at most one row per key (the write_batch_df
    contract), random put/del mix, some batches tagged."""
    batches = []
    for b in range(n):
        touched = rng.sample(_KEYS, rng.randint(1, len(_KEYS)))
        rows = []
        for k in touched:
            if rng.random() < 0.3:
                rows.append((k, None, "del"))
            else:
                rows.append((k, f"v{b}-{rng.randint(0, 99)}", "put"))
        tag = f"fuzz:b{b}" if rng.random() < 0.5 else None
        batches.append((rows, tag))
    return batches


def _apply_oracle(state: dict, rows) -> None:
    for k, v, op in rows:
        if op == "put":
            state[k] = v
        else:
            state.pop(k, None)


def _df(spark, rows):
    return spark.createDataFrame(rows, "key string, value string, op string")


def _crashing_write(kv, changes, tag, point):
    """Run write_batch_df with a bomb planted at `point`. Returns True if the
    crash fired (pre_stage always fires; append-site bombs don't fire for
    batches that stage no data)."""
    if point == "pre_stage":
        return True  # nothing ever ran
    orig_append = kv._append_manifest

    def post_stage_bomb(record):
        raise InjectedCrash(point)

    def torn_bomb(record):
        line = json.dumps(record)
        with open(kv._manifest, "a", encoding="utf-8") as f:
            f.write(line[: max(1, len(line) // 2)])  # torn, no newline
        raise InjectedCrash(point)

    def post_commit_bomb(record):
        orig_append(record)
        raise InjectedCrash(point)

    bomb = {
        "post_stage": post_stage_bomb,
        "torn_append": torn_bomb,
        "post_commit": post_commit_bomb,
    }[point]
    kv._append_manifest = bomb
    try:
        kv.write_batch_df(changes, tag=tag)
        return False  # batch staged nothing → append never reached
    except InjectedCrash:
        return True
    finally:
        kv._append_manifest = orig_append


def _run_seed(spark, cls, seed: int, d: str) -> None:
    rng = random.Random(seed)
    batches = _random_batches(rng, rng.randint(3, 5))
    crash_at = rng.randrange(len(batches))
    point = rng.choice(_POINTS)

    kv = cls(spark, d)
    oracle: dict = {}
    for i, (rows, tag) in enumerate(batches):
        if i == crash_at:
            fired = _crashing_write(kv, _df(spark, rows), tag, point)
            committed_before_crash = kv_latest = kv.latest_version()
            # the restart: a fresh handle recovers from manifest + dirs alone
            kv = cls(spark, d)
            assert kv.latest_version() == kv_latest, (
                "recovery changed the committed high-water mark"
            )
            # the replay (Structured Streaming re-runs the failed batch)
            v = kv.write_batch_df(_df(spark, rows), tag=tag)
            if fired and point == "post_commit" and tag is not None:
                # the crashed append was durable: exactly-once demands the
                # replay recognizes the tag and does NOT write a new version
                assert v == committed_before_crash, (
                    f"tagged replay double-applied: {v} != {committed_before_crash}"
                )
            _apply_oracle(oracle, rows)
        else:
            kv.write_batch_df(_df(spark, rows), tag=tag)
            _apply_oracle(oracle, rows)

    got = {r.key: r.value for r in kv.snapshot().collect()}
    assert got == oracle, f"seed {seed} point {point}: {got} != {oracle}"
    # and the table is still writable + readable after everything
    v_final = kv.put("postlude", "ok")
    assert kv.get("postlude", as_of=v_final) == "ok"


@pytest.mark.parametrize("seed", range(10))
def test_write_batch_df_crash_fuzz_lsm(spark, seed):
    with tempfile.TemporaryDirectory() as d:
        _run_seed(spark, KVTable, seed, d)


@pytest.mark.parametrize("seed", range(4))
def test_write_batch_df_crash_fuzz_merge(spark, seed):
    """The copy-on-write backend shares the stage/publish skeleton but
    rewrites complete state versions — a double apply corrupts version
    HISTORY even where final state is value-idempotent, so the tag replay
    window matters more here, not less."""
    with tempfile.TemporaryDirectory() as d:
        _run_seed(spark, MergeKVTable, seed, d)


_COMPACT_POINTS = ["post_base", "post_snapshot", "post_floor"]


def _crashing_compaction(kv, point: str, start, end) -> None:
    """Run compact_range with a bomb planted at `point` of its publish."""
    name = "_write_manifest_snapshot" if point == "post_base" else "_bump_floor"
    real = getattr(kv, name)

    def bomb(*a, **k):
        if point == "post_floor":
            real(*a, **k)
        raise InjectedCrash(point)

    setattr(kv, name, bomb)
    try:
        with pytest.raises(InjectedCrash):
            kv.compact_range(start, end)
    finally:
        del kv.__dict__[name]


def _quarantined(d: str) -> set[int]:
    q = os.path.join(d, "quarantine")
    names = os.listdir(q) if os.path.isdir(q) else []
    return {int(n.split("=")[1].split(".")[0]) for n in names}


@pytest.mark.parametrize("drop_manifest", [False, True], ids=["manifest", "no_manifest"])
@pytest.mark.parametrize("point", _COMPACT_POINTS)
@pytest.mark.parametrize("seed", range(2))
def test_compact_range_crash_fuzz(spark, seed, point, drop_manifest):
    """Seeded batches over clustered keys in a seeded layout, one earlier
    compaction, then a compaction killed at `point`; a fresh handle (after
    the MANIFEST is removed, for drop_manifest) must read the oracle's
    state and must not quarantine a version that was live at the crash,
    and the table must stay writable and compactable, its next compaction
    leaving no version dir the manifest does not list."""
    rng = random.Random(seed)
    layout = rng.choice(["hash", "range"])
    oracle: dict = {}
    with tempfile.TemporaryDirectory() as d:
        kv = KVTable(spark, d, layout=layout)

        def write(b: int) -> str:
            """One random batch; returns its smallest key."""
            keys = {f"{c}{rng.randint(0, 2)}" for c in rng.sample("abcd", rng.choice([1, 2]))}
            rows = [(k, None, "del") if rng.random() < 0.3 else (k, f"v{b}", "put") for k in sorted(keys)]
            kv.write_batch(
                puts={k: v for k, v, op in rows if op == "put"},
                deletes=[k for k, _, op in rows if op == "del"],
            )
            _apply_oracle(oracle, rows)
            return rows[0][0]

        for b in range(rng.randint(3, 5)):
            start = write(b)
            if b == 1:
                kv.compact_range("b", "c")
        # the last batch's version holds `start`, so the compaction merges
        # at least that version and reaches the publish
        _crashing_compaction(kv, point, start, rng.choice([None, start[0] + "~"]))
        live = set(kv._load_manifest())
        if drop_manifest:
            os.remove(kv._manifest)
        kv = KVTable(spark, d)  # the restart
        assert kv.layout == layout
        got = {r.key: r.value for r in kv.snapshot().collect()}
        assert got == oracle, f"seed {seed} point {point}: {got} != {oracle}"
        assert not _quarantined(d) & live, "a live version was quarantined"
        write(9)
        kv.compact_range("a", "b")
        write(10)
        got = {r.key: r.value for r in kv.snapshot().collect()}
        assert got == oracle, f"seed {seed} point {point} after recovery: {got} != {oracle}"
        # one more compaction reclaims every dir the crash left behind
        kv.compact()
        dirs = {int(n.split("=")[1]) for n in os.listdir(d) if n.startswith("version=")}
        assert dirs == set(kv._load_manifest()), f"seed {seed} point {point}: stray version dirs"
