"""Registry checks shared by test_registry_integrity.py and the per-module
query tests: which names a query module declares, whether the registry
holds exactly those in module order, where the never-green entries sit in
``queries()``, and whether oracles bind in DuckDB."""

from __future__ import annotations

import ast
import importlib
import inspect

import duckdb

from gan_deeplearning4j_spark.io import TABLES
from gan_deeplearning4j_spark.queries import (
    REGISTRY,
    _verification_evidence,
    queries,
)

# Each verification round grades about this many leading entries of
# queries().
CHECK_WINDOW = 50


def declared_names(module: str) -> list[str]:
    """The names ``module`` passes to ``@register``, in source order — read
    from its source, independently of what reached REGISTRY."""
    mod = importlib.import_module(f"gan_deeplearning4j_spark.{module}")
    found = []
    for node in ast.walk(ast.parse(inspect.getsource(mod))):
        if not isinstance(node, ast.FunctionDef):
            continue
        for deco in node.decorator_list:
            if (isinstance(deco, ast.Call)
                    and isinstance(deco.func, ast.Name)
                    and deco.func.id == "register"):
                found.append((deco.lineno, deco.args[0].value))
    return [name for _, name in sorted(found)]


def assert_module_registered(module: str) -> None:
    """REGISTRY holds exactly the module's declared names, in source order,
    each bound to that module's function and carrying an oracle."""
    names = declared_names(module)
    live = [n for n, q in REGISTRY.items()
            if q.fn.__module__ == f"gan_deeplearning4j_spark.{module}"]
    assert names and live == names, module
    for name in names:
        assert REGISTRY[name].oracle, name


def never_green() -> list[str]:
    """The entries of queries() without a green verification row; they must
    be a strict prefix of queries() that fits the check window."""
    ordered = list(queries())
    ev = _verification_evidence()
    never = [n for n in ordered if n not in ev]
    assert len(never) <= CHECK_WINDOW, (
        f"{len(never)} unverified entries exceed the {CHECK_WINDOW}-entry "
        "check window"
    )
    assert ordered[: len(never)] == never
    return never


def assert_window_covers(module: str) -> None:
    """Every declared name of ``module`` is green or inside the window."""
    never = set(never_green())
    ev = _verification_evidence()
    for name in declared_names(module):
        assert name in ev or name in never, name


def unbound_oracles(sf_dir: str, names) -> list[tuple[str, str]]:
    """(name, error) for each oracle among ``names`` that DuckDB cannot bind
    (EXPLAIN only — catches SQL bitrot without running anything)."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    bad = []
    for name in names:
        oracle = REGISTRY[name].oracle
        if not oracle:
            continue
        try:
            con.sql("EXPLAIN " + oracle)
        except Exception as exc:  # noqa: BLE001
            bad.append((name, str(exc)[:120]))
    return bad
