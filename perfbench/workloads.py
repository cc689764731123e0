"""Workload definitions: seeded op lists built from the spec registry.

Everything here is pure: it sees spec names and their registering modules,
never a Spark session, a previous run's results or registry dict order.
Names are sorted before the seed permutes them, so the same seed always
gives the same op list and a registry change shows up in ``stamp``.

Each workload runs a fixed multiset of ops per pass (a "panel" of specs, or
one interactive cycle); the seed only orders the ops and picks their
parameters. Passes are generated on demand and a run measures whole passes,
so every run of a workload does the same mix of work and the seed cannot
tilt it toward cheap or expensive ops.
"""

from __future__ import annotations

import hashlib
import itertools
import random
from collections import deque
from collections.abc import Iterator
from dataclasses import dataclass, field

GATE_MODULE = "templatedb_spark.streaming.gate"
# Streaming drains registered outside the gate module: the Python
# DataSource streaming read drains a stream just like the gates do.
STREAM_SOURCE_SPECS = frozenset({"pyds_stream_source"})

WORKLOADS = ("olap_sf01", "stream_chains", "interactive")

# Panel sizes. The olap panel takes one spec per registering module (15
# would cover every operator module of the registry, but doubles the run
# time).
OLAP_PANEL = 8
STREAM_PANEL = 2
# chains drained in every interactive cycle: the first of the stream panel
INTERACTIVE_CHAINS = 1

# interactive: KV keyspace, batch sizes and the per-cycle op mix
KV_KEYS = 20_000
KV_WRITE_PUTS = 48
KV_WRITE_DELETES = 2
KV_SCAN_WIDTH = 200
KV_COMPACT_FRACTION = 16  # compact_range covers 1/16 of the keyspace
KV_RECENT = 400  # recent-key window for skewed reads
KV_RECENT_SHARE = 0.7
SQL_BASE_ROWS = 250
SQL_INSERT_ROWS = 50
SQL_GROUPS = 7
SELECTS = {
    "groupby": "SELECT g, count(*) AS c, sum(v) AS s FROM {ta} GROUP BY g ORDER BY g",
    "join": (
        "SELECT a.g, count(*) AS c, sum(b.w) AS sw FROM {ta} a JOIN {tb} b "
        "ON a.k = b.k GROUP BY a.g ORDER BY a.g"
    ),
    "where_alias": "SELECT k, v * 2 AS dbl FROM {ta} WHERE dbl > {th} ORDER BY k LIMIT 20",
    "qualify": (
        "SELECT k, g, v FROM {ta} QUALIFY row_number() OVER "
        "(PARTITION BY g ORDER BY v DESC, k) = 1 ORDER BY g"
    ),
    "order_limit": "SELECT k, v FROM {ta} ORDER BY v DESC, k LIMIT 10",
}
# one interactive cycle: its two CREATE TABLEs and base INSERTs, a scan, a
# seeded shuffle of CYCLE_MIX, the five SELECTs and one drain of each chain,
# then a fixed tail of a scan and a compaction. The scans and the compaction
# see the same KV history in every run (a compaction's cost grows with the
# writes since the last one), so the seed cannot make a cycle cheaper or
# dearer.
CYCLE_MIX = {"kv.get": 6, "kv.write": 3, "sql.insert:ta": 1, "sql.insert:tb": 1}
CYCLE_TAIL = ("kv.scan", "kv.compact")
# the set-up's warm round over generation -1: one op of each KV kind, both
# inserts, the two heaviest SELECTs and one drain of each chain, so the
# timed cycle starts on compiled code paths and a used chain
WARM_KINDS = ("kv.write", "kv.get", *CYCLE_TAIL, "sql.insert:ta", "sql.insert:tb")
WARM_SELECTS = ("groupby", "join")


@dataclass(frozen=True)
class Op:
    kind: str  # "spec", "kv.*" or "sql.*"
    name: str  # spec name, KV op or SQL statement label
    args: tuple = field(default=())


def split_registry(modules: dict[str, str]) -> tuple[list[str], list[str]]:
    """(batch specs, streaming chains), each sorted, from a spec-name ->
    registering-module map."""
    chains = sorted(
        n for n, m in modules.items() if m == GATE_MODULE or n in STREAM_SOURCE_SPECS
    )
    chain_set = set(chains)
    return sorted(n for n in modules if n not in chain_set), chains


def stamp(names: list[str]) -> dict:
    """Spec count plus a hash of the sorted names: a changed registry reads
    as a different workload."""
    digest = hashlib.sha1("\n".join(sorted(names)).encode()).hexdigest()[:16]
    return {"specs": len(names), "specs_sha1": digest}


def _hash_order(names: list[str]) -> list[str]:
    return sorted(names, key=lambda n: (hashlib.md5(n.encode()).hexdigest(), n))


def olap_panel(modules: dict[str, str], size: int = OLAP_PANEL) -> list[str]:
    """Sample of the batch specs: the first ``size`` specs in md5-of-name
    order, at most one per registering module. Independent of seed, history
    and registration order."""
    batch, _ = split_registry(modules)
    picked, seen = [], set()
    for n in _hash_order(batch):
        if modules[n] not in seen:
            seen.add(modules[n])
            picked.append(n)
    return sorted(picked[:size])


def stream_panel(modules: dict[str, str], size: int = STREAM_PANEL) -> list[str]:
    """The first ``size`` chains in md5-of-name order."""
    _, chains = split_registry(modules)
    return sorted(_hash_order(chains)[:size])


def spec_passes(panel: list[str], seed: int) -> Iterator[list[Op]]:
    """Endless passes, each a seeded permutation of the sorted panel."""
    rng = random.Random(f"specs:{seed}")
    while True:
        names = sorted(panel)
        rng.shuffle(names)
        yield [Op("spec", n) for n in names]


def kv_key(i: int) -> str:
    return f"k{i:07d}"


def kv_preload() -> dict[str, str]:
    """The interactive KV table's initial contents (seed-independent)."""
    return {kv_key(i): f"v{i}" for i in range(KV_KEYS)}


def sql_tables(gen: int) -> tuple[str, str]:
    """Two alternating table slots; generation g rewrites slot g % 2."""
    return f"ta_{gen % 2}", f"tb_{gen % 2}"


def _rows(rng: random.Random, first_k: int, n: int) -> list[tuple[int, int, int]]:
    return [(first_k + j, rng.randrange(SQL_GROUPS), rng.randrange(1000)) for j in range(n)]


class InteractiveGen:
    """Generator of interactive cycles. Cycle g creates generation g's two
    tables, fills them, and interleaves KV ops, one drain of each chain in
    ``chains`` and SELECTs over generation g-1 (complete by then) in a
    seeded order, so table sizes stay flat however long the run is.
    Generation -1 is built, and the warm round run over it, at set-up
    (``setup_ops``)."""

    def __init__(self, seed: int, chains: list[str]):
        self.chains = sorted(chains)
        self.rng = random.Random(f"interactive:{seed}")
        self.recent: deque[str] = deque(maxlen=KV_RECENT)
        self.next_k = 0  # SQL row keys are unique across the run

    def _table_ops(self, gen: int) -> list[Op]:
        ta, tb = sql_tables(gen)
        rows = _rows(self.rng, self.next_k, SQL_BASE_ROWS)
        self.next_k += SQL_BASE_ROWS
        return [
            Op("sql.create", ta, (f"CREATE TABLE {ta} (k int, g int, v int)",)),
            Op("sql.create", tb, (f"CREATE TABLE {tb} (k int, w int)",)),
            Op("sql.insert", ta, (tuple(rows),)),
            Op("sql.insert", tb, (tuple((k, v % 13) for k, _, v in rows),)),
        ]

    def setup_ops(self) -> list[Op]:
        ops = self._table_ops(-1) + [self._op(kind, -1) for kind in WARM_KINDS]
        ops += [self._select(label, -1) for label in WARM_SELECTS]
        return ops + [Op("spec", c) for c in self.chains]

    def _get_key(self) -> str:
        if self.recent and self.rng.random() < KV_RECENT_SHARE:
            return self.rng.choice(self.recent)
        return kv_key(self.rng.randrange(KV_KEYS))

    def _op(self, kind: str, gen: int) -> Op:
        rng = self.rng
        if kind == "kv.get":
            return Op(kind, "get", (self._get_key(),))
        if kind == "kv.write":
            keys = rng.sample(range(KV_KEYS), KV_WRITE_PUTS + KV_WRITE_DELETES)
            puts = tuple((kv_key(i), f"w{rng.randrange(10**9)}") for i in keys[:KV_WRITE_PUTS])
            dels = tuple(kv_key(i) for i in keys[KV_WRITE_PUTS:])
            self.recent.extend(k for k, _ in puts)
            return Op(kind, "write_batch", (puts, dels))
        if kind == "kv.scan":
            s = rng.randrange(KV_KEYS - KV_SCAN_WIDTH)
            return Op(kind, "scan", (kv_key(s), kv_key(s + KV_SCAN_WIDTH)))
        if kind == "kv.compact":
            width = KV_KEYS // KV_COMPACT_FRACTION
            s = rng.randrange(KV_KEYS - width)
            return Op(kind, "compact_range", (kv_key(s), kv_key(s + width)))
        if kind.startswith("sql.insert:"):
            ta, tb = sql_tables(gen)
            rows = _rows(rng, self.next_k, SQL_INSERT_ROWS)
            self.next_k += SQL_INSERT_ROWS
            if kind.endswith(":tb"):
                return Op("sql.insert", tb, (tuple((k, v % 13) for k, _, v in rows),))
            return Op("sql.insert", ta, (tuple(rows),))
        raise ValueError(kind)

    def _select(self, label: str, gen: int) -> Op:
        ta, tb = sql_tables(gen)
        text = SELECTS[label].format(ta=ta, tb=tb, th=self.rng.randrange(400, 1800))
        return Op("sql.select", label, (text,))

    def cycle(self, gen: int) -> list[Op]:
        kinds = [k for k, n in CYCLE_MIX.items() for _ in range(n)]
        kinds += [f"sql.select:{label}" for label in SELECTS]
        kinds += [f"spec:{c}" for c in self.chains]
        self.rng.shuffle(kinds)
        ops = self._table_ops(gen)
        for kind in ["kv.scan", *kinds, *CYCLE_TAIL]:
            if kind.startswith("sql.select:"):
                ops.append(self._select(kind.split(":", 1)[1], gen - 1))
            elif kind.startswith("spec:"):
                ops.append(Op("spec", kind.split(":", 1)[1]))
            else:
                ops.append(self._op(kind, gen))
        return ops


def interactive_ops(seed: int, chains: list[str] = ()) -> tuple[list[Op], Iterator[list[Op]]]:
    """(set-up ops, endless cycles)."""
    gen = InteractiveGen(seed, list(chains))
    setup = gen.setup_ops()
    return setup, (gen.cycle(g) for g in itertools.count())
