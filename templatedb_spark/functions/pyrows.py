"""The Python row boundary: Arrow batches in, Python tuples, Arrow batches out.

Every row-at-a-time Python operator in the engine crosses the JVM↔Python
boundary through one of the two entry points here; the operators themselves
are plain Python over tuples and never see a pandas frame.

- `map_rows(df, fn, schema)` is the one `mapInPandas` call: `fn(*row)` is
  called per input row (all of `df`'s columns, in order) and yields output
  tuples — zero, one or several per row.
- `fold_by_key(df, keys, fold, schema, state_schema)` is the one
  `applyInPandasWithState` call (append mode, no timeout): per key and
  trigger, `fold(key, state_or_None, rows) -> (new_state, out_rows)` folds
  the key's new rows into its state. `rows` are the non-key columns as
  tuples, in `df`'s column order, sorted as whole tuples (`fold_rows`), so a
  caller picks the fold order by how it projects. Choosing another state
  API (e.g. `transformWithStateInPandas`) is an edit to this function only.

Column conversion is chosen on the driver from the input schema: timestamps
arrive as epoch µs through pandas' session-local wall clock (the same
datetime64 cast the operators' output strings have always depended on —
NOT JVM-side `unix_micros`, which is UTC), arrays as lists of Python
scalars, everything else as `Series.tolist()` values. Output column names
come from the DDL `schema`, so no operator spells its columns twice.

Vectorised numpy kernels whose per-batch matrix work is the point stay on
`mapInPandas`/`applyInPandas` directly (`similarity.py`,
`analytics.groupmap_regression`).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import ArrayType, DataType, TimestampNTZType, TimestampType

Fold = Callable[[tuple, Any, list], tuple[Any, list]]


def _epoch_us(s) -> list[int]:
    # unit-safe: datetime64[ns] or [us] both land on epoch-µs
    return s.to_numpy().astype("datetime64[us]").astype("int64").tolist()


def _lists(s) -> list[list]:
    return [v.tolist() for v in s]


def _reader(dt: DataType) -> Callable:
    if isinstance(dt, (TimestampType, TimestampNTZType)):
        return _epoch_us
    if isinstance(dt, ArrayType):
        return _lists
    return lambda s: s.tolist()


def _row_reader(df: DataFrame, skip: Iterable[str] = ()) -> Callable[[Any], Iterator[tuple]]:
    """pandas frame of `df`'s rows -> tuples of Python values over the columns
    not in `skip`, in `df`'s column order."""
    cols = [(i, _reader(f.dataType)) for i, f in enumerate(df.schema.fields) if f.name not in skip]
    return lambda pdf: zip(*(read(pdf.iloc[:, i]) for i, read in cols))


def map_rows(df: DataFrame, fn: Callable[..., Iterable[tuple]], schema: str) -> DataFrame:
    """`df.mapInPandas` with `fn(*row)` yielding the output tuples of each row."""
    rows = _row_reader(df)
    names = DataType.fromDDL(schema).names

    def apply(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame([out for row in rows(pdf) for out in fn(*row)], columns=names)

    return df.mapInPandas(apply, schema)


def fold_rows(fold: Fold, key: tuple, state: Any, rows: list[tuple]) -> tuple[Any, list]:
    """One key's fold over one trigger's rows: sort whole tuples, then fold.
    This is all `fold_by_key` runs per key, so calling it directly with any
    split of the rows tests a fold without a Spark session."""
    return fold(key, state, sorted(rows))


def fold_by_key(
    df: DataFrame, keys: list[str], fold: Fold, schema: str, state_schema: str
) -> DataFrame:
    """Group `df` by `keys` and fold each key's rows into its state
    (`applyInPandasWithState`, append mode, no timeout); emits `out_rows`."""
    read = _row_reader(df, skip=keys)
    names = DataType.fromDDL(schema).names

    def apply(key: tuple, pdfs: Iterator, state: GroupState) -> Iterator:
        import pandas as pd

        rows = [r for pdf in pdfs for r in read(pdf)]
        new_state, out = fold_rows(fold, key, state.get if state.exists else None, rows)
        state.update(new_state)
        # most keys emit nothing in a given trigger: skip the frame entirely
        if out:
            yield pd.DataFrame(out, columns=names)

    return df.groupBy(*keys).applyInPandasWithState(
        apply,
        outputStructType=schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def fmt_us(us: int, fmt: str = "%Y-%m-%d %H:%M:%S") -> str:
    """Epoch µs (as the boundary delivers timestamps) -> wall-clock text."""
    import datetime

    return datetime.datetime.utcfromtimestamp(us / 1_000_000).strftime(fmt)
