from __future__ import annotations

from collections.abc import Callable, Iterator, Mapping

from pyspark.sql import DataFrame, SparkSession

Oracle = str | Callable[[], str | None]


class _Oracles(Mapping[str, str]):
    """name -> oracle SQL. An oracle registered as a zero-argument callable
    is resolved on first access and kept; one that resolves to None is
    absent (the query gets a rows-only check)."""

    def __init__(self) -> None:
        self._src: dict[str, Oracle | None] = {}

    def register(self, name: str, oracle: Oracle) -> None:
        self._src[name] = oracle

    def _resolve(self, name: str) -> str | None:
        o = self._src[name]
        if callable(o):
            o = self._src[name] = o()
        return o

    def __getitem__(self, name: str) -> str:
        o = self._resolve(name)
        if o is None:
            raise KeyError(name)
        return o

    def __iter__(self) -> Iterator[str]:
        return (n for n in list(self._src) if self._resolve(n) is not None)

    def __len__(self) -> int:
        return sum(1 for _ in self)


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES = _Oracles()


def register(name: str, oracle: Oracle | None = None):
    """Decorator: register a (spark_fn, oracle_sql) pair. ``oracle`` may be
    a callable that returns the SQL (or None) on first access."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES.register(name, oracle)
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
