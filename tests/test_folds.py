"""Split invariance of the streaming state folds, without a Spark session.

A fold sees one key's rows per trigger (`pyrows.fold_rows`: sorted as whole
tuples, then folded). However the stream cuts a key's rows into micro-batches
— consecutive slices in fold order, each arriving in any order — the emitted
rows and the final state must equal a one-batch run."""

from __future__ import annotations

import functools
import random

import pytest

from templatedb_spark.functions.pyrows import fold_rows
from templatedb_spark.streaming.anomaly import _anomaly_fold
from templatedb_spark.streaming.attribution import LOOKBACK_US, _attr_fold
from templatedb_spark.streaming.neardup import _band_fold, _band_fold_reps
from templatedb_spark.streaming.stateful import SESSION_GAP_US, _sessionize_fold

_T0 = 1_700_000_000_000_000  # epoch µs


def _session_rows(rng: random.Random) -> list[tuple]:
    ts, rows = _T0, []
    for _ in range(300):
        ts += rng.choice([rng.randrange(1, 600_000_000), SESSION_GAP_US + rng.randrange(1, 10**9)])
        rows.append((ts, round(rng.uniform(0, 50), 2)))
    return rows


def _anomaly_rows(rng: random.Random) -> list[tuple]:
    rows = []
    for eid in range(400):
        v = rng.gauss(10.0, 1.0) if rng.random() > 0.03 else rng.uniform(40, 80)
        rows.append((_T0 + rng.randrange(0, 10**12), eid, round(v, 3)))
    return rows


def _attr_rows(rng: random.Random) -> list[tuple]:
    rows = []
    for eid in range(400):
        etype = rng.choice(["click", "view", "purchase", "purchase", "signup"])
        ts = _T0 + rng.randrange(0, 6 * LOOKBACK_US)
        rows.append((ts, eid, etype, round(rng.uniform(1, 100), 2)))
    return rows


def _doc_rows(rng: random.Random) -> list[tuple]:
    """(doc_id, mh, sig): a few buckets, signatures perturbed from a few
    templates so some pairs reach the match threshold and some do not."""
    templates = [[rng.randrange(1000) for _ in range(16)] for _ in range(4)]
    rows = []
    for doc in rng.sample(range(1, 5000), 300):
        sig = [x if rng.random() < 0.6 else rng.randrange(1000) for x in rng.choice(templates)]
        rows.append((doc, rng.randrange(5), sig))
    return rows


FOLDS = {
    "sessionize": (_sessionize_fold, _session_rows),
    "anomaly": (_anomaly_fold, _anomaly_rows),
    "attribution": (_attr_fold, _attr_rows),
    "neardup_exact": (_band_fold, _doc_rows),
    "neardup_reps": (functools.partial(_band_fold_reps, evict_horizon=200), _doc_rows),
}


@pytest.mark.parametrize("seed", [1, 2, 3])
@pytest.mark.parametrize("name", sorted(FOLDS))
def test_fold_is_split_invariant(name, seed):
    fold, gen = FOLDS[name]
    rng = random.Random(f"{name}:{seed}")
    rows = sorted(gen(rng))
    key = (7,) if not name.startswith("neardup") else (3, 1)

    want_state, want_out = fold_rows(fold, key, None, rng.sample(rows, len(rows)))
    assert want_out, "the fold emitted nothing: the comparison is vacuous"

    cuts = sorted(rng.sample(range(1, len(rows)), rng.randrange(2, 12)))
    state, out = None, []
    for lo, hi in zip([0, *cuts], [*cuts, len(rows)]):
        part = rows[lo:hi]
        rng.shuffle(part)
        state, emitted = fold_rows(fold, key, state, part)
        out += emitted
    assert out == want_out
    assert state == want_state


def test_fold_rows_sorts_whole_tuples():
    """The fold sees rows sorted as whole tuples, whatever the arrival order."""
    seen = []

    def record(key, state, rows):
        seen.append(rows)
        return state, []

    fold_rows(record, (1,), None, [(2, "b"), (1, "z"), (2, "a")])
    assert seen == [[(1, "z"), (2, "a"), (2, "b")]]
