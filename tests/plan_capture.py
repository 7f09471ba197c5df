"""Capture the physical plan of every Spark action a block of code takes.

``capture_actions`` records each ``localCheckpoint``, ``collect``, ``count``
and parquet write with the program function that took it, its formatted
plan, its ``ArrowEvalPython`` nodes (the Python passes) and, for a write,
the directory written. The plan pins in
``test_plans.py`` count those nodes per crawl round; ``tools/round_plans.py``
dumps them.
"""

from __future__ import annotations

import contextlib
import inspect
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.readwriter import DataFrameWriter


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    qe = df._jdf.queryExecution()
    return df._sc._jvm.PythonSQLUtils.explainString(qe, mode)


def python_nodes(df: DataFrame) -> list[str]:
    """The ``ArrowEvalPython`` lines of ``df``'s physical plan tree, one per
    Python pass the plan runs."""
    tree = df._jdf.queryExecution().executedPlan().toString()
    return [line.strip(" +-:") for line in tree.splitlines() if "ArrowEvalPython" in line]


def _caller() -> str:
    """``module.function`` of the innermost program frame taking the action."""
    for frame in inspect.stack(0)[2:]:
        mod = frame.frame.f_globals.get("__name__", "")
        if mod.startswith("crawlee_spark."):
            return f"{mod.rsplit('.', 1)[-1]}.{frame.function}"
    return "?"


@dataclass
class Action:
    kind: str  # localCheckpoint, collect, count or parquet
    caller: str  # module.function that took it
    plan: str  # formatted physical plan
    python: list[str]  # its ArrowEvalPython nodes
    target: str | None = None  # the directory a parquet write writes


@contextlib.contextmanager
def capture_actions():
    """Record an ``Action`` for every ``localCheckpoint``, ``collect``,
    ``count`` and parquet write taken inside the block. The plan is read
    just before the action runs: once adaptive execution has run a plan,
    its string holds the final and the initial plan, every node twice.
    (The session's frames are ``pyspark.sql.classic`` DataFrames, whose
    methods override the abstract ``pyspark.sql.DataFrame`` ones.)"""
    taken: list[Action] = []
    originals = {
        (cls, name): getattr(cls, name)
        for cls, names in (
            (ClassicDataFrame, ("localCheckpoint", "collect", "count")),
            (DataFrameWriter, ("parquet",)),
        )
        for name in names
    }

    def wrap(cls, name, fn):
        def recorded(self, *a, **kw):
            df = self._df if cls is DataFrameWriter else self
            target = (a[0] if a else kw.get("path")) if cls is DataFrameWriter else None
            taken.append(Action(name, _caller(), plan_string(df), python_nodes(df), target))
            return fn(self, *a, **kw)

        return recorded

    for (cls, name), fn in originals.items():
        setattr(cls, name, wrap(cls, name, fn))
    try:
        yield taken
    finally:
        for (cls, name), fn in originals.items():
            setattr(cls, name, fn)
