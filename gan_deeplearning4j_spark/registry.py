"""The query registry: one ``Query`` record per name, filled by ``register``.

Every query module decorates its query functions with ``register``; this
module holds no query bodies and imports none of those modules, so any of
them can be imported first. ``queries.py`` imports them all and fixes the
registry's order.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from .io import load_table


@dataclass
class Query:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    headline: bool = False  # included in bench.py
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None, headline: bool = False,
             doc: str = ""):
    """Decorator: register ``fn`` under ``name``; a taken name raises."""
    def deco(fn):
        if name in REGISTRY:
            raise ValueError(
                f"query name {name!r} is already registered by "
                f"{REGISTRY[name].fn.__module__}.{REGISTRY[name].fn.__name__}"
            )
        REGISTRY[name] = Query(fn=fn, oracle=oracle, headline=headline, doc=doc)
        return fn
    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)
