"""Session-hygiene and boundary-semantics pins.

1. Cache hygiene: queries must not leave entries in the shared session's
   CacheManager (VERDICT r3: ``embedding_neardup_lsh`` persisted its
   signature relation and never unpersisted — under the driver's shared
   session running ~50 queries those caches accumulate).  DataFrame
   ``.persist()`` registers in the CacheManager and stays until an explicit
   unpersist; ``localCheckpoint`` RDDs by contrast are reclaimed by the
   ContextCleaner once unreferenced, so multi-branch reuse goes through
   localCheckpoint (operators/dedup.py) and single-branch persists were
   removed (operators/similarity.py).

2. session_window boundary: an event at exactly prev_ts + gap MERGES into
   the running session in Spark (sessions extend while next_start <=
   current_end, and the window is [start, last+gap)).  The
   ``events_session_window`` DuckDB oracle encodes the same rule (new
   session only when diff is STRICTLY greater than the gap) — this test is
   the empirical pin for that exact-boundary agreement (ADVICE r3).

3. Loud failures: no package module guards with a bare ``assert`` (stripped
   under ``python -O``) or swallows every exception with a handler whose
   body is only ``pass`` or ``return None``.

4. One definition per piece of query logic: no expression of
   ``_COPY_MIN_NODES`` or more AST nodes appears twice across the query
   modules — a repeated block calls one shared helper instead.
"""

from __future__ import annotations

import ast
import datetime
import pathlib

from pyspark.sql import functions as F

from gan_deeplearning4j_spark.queries import REGISTRY

_PKG = pathlib.Path(__file__).resolve().parents[1] / "gan_deeplearning4j_spark"


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_queries_leave_no_cachemanager_entries(spark, sf_dir):
    spark.catalog.clearCache()
    assert _cache_empty(spark)
    for name in ("minhash_dedup", "embedding_neardup_lsh", "dedup_clusters"):
        REGISTRY[name].fn(spark, sf_dir).count()
    assert _cache_empty(spark), (
        "a query left a persisted DataFrame in the CacheManager"
    )


def test_session_window_exact_gap_boundary(spark):
    t0 = datetime.datetime(2025, 1, 1, 0, 0, 0)
    gap = datetime.timedelta(minutes=30)
    us = datetime.timedelta(microseconds=1)
    # exactly-at-gap pair -> ONE session; one microsecond past -> TWO
    at_gap = spark.createDataFrame(
        [(1, t0), (1, t0 + gap)], "user_id int, ts timestamp"
    )
    past_gap = spark.createDataFrame(
        [(1, t0), (1, t0 + gap + us)], "user_id int, ts timestamp"
    )

    def n_sessions(df):
        return (
            df.groupBy("user_id", F.session_window("ts", "30 minutes"))
            .count()
            .count()
        )

    assert n_sessions(at_gap) == 1
    assert n_sessions(past_gap) == 2


def test_scratch_dir_queries_materialize_before_rmtree():
    """Scratch-store lifecycle pin (r11 verdict ask #8, third+ user of the
    pattern): every registered query that creates-and-deletes a scratch
    dir (shutil.rmtree in its body) must MATERIALIZE whatever it returns
    before the deletion — either a bounded driver-side .collect() whose
    rows rebuild via createDataFrame, or a localCheckpoint(eager=True) on
    the returned lineage. A returned DataFrame whose plan still references
    deleted files fails on the driver's collect; this static scan catches
    the mistake at authoring time instead.

    Cluster caveat (documented in each user): localCheckpoint blocks are
    unreplicated, so on a real cluster the result must be consumed before
    executors recycle; the scratch store would be a real table there."""
    import ast
    import inspect
    import textwrap

    from gan_deeplearning4j_spark.queries import REGISTRY

    def _names(node) -> set:
        return {n.id for n in ast.walk(node) if isinstance(n, ast.Name)}

    offenders = []
    unconsumed = []
    seen_pattern_users = 0
    for name, q in REGISTRY.items():
        try:
            src = inspect.getsource(q.fn)
        except (OSError, TypeError):
            continue
        if "rmtree" not in src:
            continue
        seen_pattern_users += 1
        pre_rmtree = src.split("rmtree")[0]
        if ("localCheckpoint(eager=True)" not in pre_rmtree
                and ".collect()" not in pre_rmtree):
            offenders.append(name)
            continue
        # r12 verdict ask #8 extension: materializing is not enough —
        # the CHECKPOINTED lineage must be what the query hands back.
        # AST taint check (the first cut was a single-line regex, which
        # was blind to multi-line assignments and vacuous for any body
        # containing one .collect()): for each assignment whose value
        # contains a .localCheckpoint() call, the bound name — or a
        # variable transitively ASSIGNED FROM it — must reach a return
        # statement or a driver-side drain (collect/first/toPandas).
        # A checkpoint whose taint never reaches either means the query
        # returns some OTHER, un-materialized lineage.
        tree = ast.parse(textwrap.dedent(src))
        assigns = [n for n in ast.walk(tree) if isinstance(n, ast.Assign)]
        assigns.sort(key=lambda n: n.lineno)
        ckpt_vars = []
        for a in assigns:
            if any(isinstance(c, ast.Call)
                   and isinstance(c.func, ast.Attribute)
                   and c.func.attr == "localCheckpoint"
                   for c in ast.walk(a.value)):
                ckpt_vars.extend(
                    t.id for t in a.targets if isinstance(t, ast.Name)
                )
        n_ckpt_calls = sum(
            1 for c in ast.walk(tree)
            if isinstance(c, ast.Call) and isinstance(c.func, ast.Attribute)
            and c.func.attr == "localCheckpoint"
        )
        if len(ckpt_vars) != n_ckpt_calls:
            # a checkpoint not attributable to a simple assignment
            # fails LOUDLY instead of being silently exempted
            unconsumed.append((name, "<unattributable localCheckpoint>"))
        returns = [n for n in ast.walk(tree) if isinstance(n, ast.Return)
                   and n.value is not None]
        drains = [c for c in ast.walk(tree)
                  if isinstance(c, ast.Call)
                  and isinstance(c.func, ast.Attribute)
                  and c.func.attr in ("collect", "first", "toPandas")]
        for var in ckpt_vars:
            tainted = {var}
            for _ in range(len(assigns)):  # fixpoint over assignment chains
                grew = False
                for a in assigns:
                    if _names(a.value) & tainted:
                        for t in a.targets:
                            if isinstance(t, ast.Name) and t.id not in tainted:
                                tainted.add(t.id)
                                grew = True
                if not grew:
                    break
            consumed = (
                any(_names(r.value) & tainted for r in returns)
                or any(_names(c) & tainted for c in drains)
            )
            if not consumed:
                unconsumed.append((name, var))
    assert not offenders, (
        "scratch-dir queries returning un-materialized lineage over a "
        f"deleted directory: {offenders}"
    )
    assert not unconsumed, (
        "checkpointed lineage never consumed after the scratch-dir "
        f"deletion (the query returns something else): {unconsumed}"
    )
    # the pin only means something while the pattern has users
    assert seen_pattern_users >= 3, seen_pattern_users


def _swallows_everything(handler: ast.ExceptHandler) -> bool:
    broad = handler.type is None or (
        isinstance(handler.type, ast.Name)
        and handler.type.id in ("Exception", "BaseException")
    )
    body = [ast.unparse(stmt) for stmt in handler.body]
    return broad and body in (["pass"], ["return None"], ["return"])


def test_package_fails_loudly():
    pkg = _PKG
    bad = []
    for path in sorted(pkg.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            where = f"{path.relative_to(pkg)}:{getattr(node, 'lineno', 0)}"
            if isinstance(node, ast.Assert):
                bad.append(f"{where} assert")
            elif (isinstance(node, ast.ExceptHandler)
                  and _swallows_everything(node)):
                bad.append(f"{where} swallowed exception")
    assert not bad, bad


# Smallest expression (in AST nodes) counted as a hand copy: a two-line
# column expression is about 50 nodes, so a repeat of this size is a
# block of logic, not a shared idiom such as F.col("x").cast("long").
_COPY_MIN_NODES = 50


def _large_expressions(tree: ast.AST):
    """(node, ast.dump) for every expression of >= _COPY_MIN_NODES nodes."""
    sizes: dict[int, int] = {}

    def size(node: ast.AST) -> int:
        n = 1 + sum(size(c) for c in ast.iter_child_nodes(node))
        sizes[id(node)] = n
        return n

    size(tree)
    for node in ast.walk(tree):
        if isinstance(node, ast.expr) and sizes[id(node)] >= _COPY_MIN_NODES:
            yield node, ast.dump(node)


def test_query_modules_repeat_no_expression():
    seen: dict[str, str] = {}
    copies = []
    for path in sorted(_PKG.glob("queries*.py")):
        tree = ast.parse(path.read_text(), str(path))
        for node, key in _large_expressions(tree):
            where = f"{path.name}:{node.lineno}"
            if key in seen:
                copies.append(f"{where} repeats {seen[key]}")
            else:
                seen[key] = where
    assert not copies, copies
