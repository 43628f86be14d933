"""Registry-wide NaN-money lint (VERDICT r7 #4).

The exact-decimal money helpers have one engine-asymmetric input: NaN.
Spark's double→decimal/micros cast silently NULLs it while the DuckDB
oracle's CAST errors — so every money sum over a NaN-capable column
must exclude NaN EXPLICITLY on both sides (``nan_excluded`` +
``isnan`` in the oracle). Until r8 this was convention plus a
differential backstop: an unguarded new lane was only caught if a
hostile fixture happened to route NaN through it (the ADVICE r6 #3
class). This lint makes the convention static, the way
test_plan_lint.py closed the scale-killer class:

- every call of an ``exact_*``/``micro_addend`` money helper anywhere
  in the package whose addend references the NaN-capable column
  (``events.value`` — the one double the generator and the hostile
  fixtures poison with NaN) must wrap ``nan_excluded``, OR sit in the
  ALLOWLIST below with a justification AND a verifiable upstream
  ``isnan`` prefilter in the same function;
- every registry lane that sums the column Spark-side must carry an
  ``isnan`` guard in its oracle SQL (the mirrored half of the
  contract);
- the scanner itself is proven non-vacuous on a deliberately
  unguarded scratch snippet.

One level of local-variable indirection is resolved (``highs =
F.when(...); exact_round_sum_fast(highs)``) so the lint can't be
dodged by hoisting the addend into a name.
"""

from __future__ import annotations

import ast
import pathlib
import re

import pytest

PKG = pathlib.Path(__file__).parent.parent / "hadoop_lab_spark"

#: The money helpers whose addend feeds a decimal/micros accumulator.
MONEY_FUNCS = {
    "exact_sum",
    "exact_sum_double_fast",
    "exact_round_sum",
    "exact_round_sum_fast",
    "exact_round_avg",
    "exact_round_avg_fast",
    "micro_addend",
}

#: The NaN-capable double column. TPC-H money columns come from the
#: generator NaN-free at every SF and the hostile star fixtures keep
#: them finite by contract (they probe magnitude, not NaN); events.value
#: is the column both the driver corpus and the hostile fixtures poison.
NAN_COLUMN = "value"

#: (file, enclosing function) -> justification. Each entry must ALSO
#: have an `isnan` prefilter in the function source — checked below, so
#: a justification can't outlive its guard.
ALLOWLIST = {
    ("plans/advanced.py", "q_null_semantics_sampler"):
        "WHERE value IS NULL OR NOT isnan(value) prefilter on the scan "
        "(the lane pins three-valued NULL logic, mirrored in the oracle)",
    ("plans/advanced.py", "q_range_join_value_bands"):
        "~isnan(value) prefilter on the scan (NaN band membership "
        "diverges between the bucket rewrite and the theta form)",
}


def _func_name(call: ast.Call) -> str | None:
    f = call.func
    if isinstance(f, ast.Name):
        return f.id
    if isinstance(f, ast.Attribute):
        return f.attr
    return None


def _mentions_nan_column(node: ast.AST) -> bool:
    """Does the addend expression reference the NaN-capable column?
    Column references appear as string literals ('value', 'w.value',
    'e.value') or inside SQL text."""
    for sub in ast.walk(node):
        if isinstance(sub, ast.Constant) and isinstance(sub.value, str):
            parts = sub.value.replace(".", " ").replace("(", " ").split()
            if NAN_COLUMN in parts:
                return True
    return False


def _is_guarded(node: ast.AST) -> bool:
    """Addend is wrapped in (or built from) nan_excluded."""
    for sub in ast.walk(node):
        if isinstance(sub, ast.Call) and _func_name(sub) == "nan_excluded":
            return True
    return False


def _scan_source(src: str, fname: str) -> list[tuple[str, str, int]]:
    """Return [(fname, enclosing_function, lineno)] for every unguarded
    money-helper call over the NaN column."""
    tree = ast.parse(src)
    hits: list[tuple[str, str, int]] = []

    class V(ast.NodeVisitor):
        def __init__(self) -> None:
            self.fn_stack: list[str] = []
            self.assign_stack: list[dict[str, ast.AST]] = []

        def _visit_fn(self, node) -> None:
            self.fn_stack.append(node.name)
            # one-level local-name resolution map
            assigns: dict[str, ast.AST] = {}
            for stmt in ast.walk(node):
                if isinstance(stmt, ast.Assign) and len(stmt.targets) == 1:
                    t = stmt.targets[0]
                    if isinstance(t, ast.Name):
                        assigns[t.id] = stmt.value
            self.assign_stack.append(assigns)
            self.generic_visit(node)
            self.assign_stack.pop()
            self.fn_stack.pop()

        visit_FunctionDef = _visit_fn
        visit_AsyncFunctionDef = _visit_fn

        def visit_Call(self, node: ast.Call) -> None:
            name = _func_name(node)
            if name in MONEY_FUNCS and node.args:
                arg: ast.AST = node.args[0]
                if isinstance(arg, ast.Name) and self.assign_stack:
                    arg = self.assign_stack[-1].get(arg.id, arg)
                if _mentions_nan_column(arg) and not _is_guarded(arg):
                    fn = self.fn_stack[-1] if self.fn_stack else "<module>"
                    hits.append((fname, fn, node.lineno))
            self.generic_visit(node)

    V().visit(tree)
    return hits


def _package_hits() -> tuple[list, dict]:
    hits, sources = [], {}
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        if rel == "functions/numeric.py":  # the helpers' own definitions
            continue
        src = path.read_text()
        sources[rel] = src
        hits.extend(_scan_source(src, rel))
    return hits, sources


def test_every_nan_capable_money_sum_is_guarded():
    hits, _ = _package_hits()
    bad = [h for h in hits if (h[0], h[1]) not in ALLOWLIST]
    assert not bad, (
        "unguarded money sum over the NaN-capable column "
        f"(wrap the addend in nan_excluded or allowlist with a "
        f"prefilter justification): {bad}"
    )


def test_allowlist_entries_still_have_their_prefilter():
    """A justification must not outlive its guard: each allowlisted
    function's source must still contain an isnan prefilter, and the
    entry must still be needed (the call it excuses still exists)."""
    hits, sources = _package_hits()
    excused = {(h[0], h[1]) for h in hits}
    for (rel, fn), why in ALLOWLIST.items():
        assert (rel, fn) in excused, f"stale allowlist entry: {rel}:{fn}"
        src = sources[rel]
        tree = ast.parse(src)
        fsrc = next(
            ast.get_source_segment(src, n)
            for n in ast.walk(tree)
            if isinstance(n, ast.FunctionDef) and n.name == fn
        )
        assert "isnan" in fsrc, f"{rel}:{fn} lost its isnan prefilter ({why})"


def test_oracles_mirror_the_guard():
    """Every registry lane whose Spark side sums events.value (guarded
    or allowlisted) must carry an isnan guard in its oracle SQL — the
    DuckDB half of the contract."""
    from hadoop_lab_spark.plans.registry import REGISTRY, load_all_query_modules

    load_all_query_modules()
    summing_fns = set()
    for path in sorted((PKG / "plans").glob("*.py")):
        src = path.read_text()
        tree = ast.parse(src)
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef):
                seg = ast.get_source_segment(src, node)
                sub = _scan_source_any_value_sum(seg)
                if sub:
                    summing_fns.add(node.name)
    checked = 0
    for name, spec in REGISTRY.items():
        if spec.fn.__name__ in summing_fns and spec.oracle:
            assert "isnan(" in spec.oracle, (
                f"lane {name} sums events.value Spark-side but its "
                "oracle has no isnan guard"
            )
            checked += 1
    assert checked >= 5, f"mirror check went vacuous ({checked} lanes)"


def _scan_source_any_value_sum(fn_src: str) -> bool:
    """Does this function source apply a money helper to the NaN
    column at all (guarded or not)?"""
    tree = ast.parse("def _w():\n" + "\n".join("    " + l for l in fn_src.splitlines()))
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and _func_name(node) in MONEY_FUNCS:
            if node.args and _mentions_nan_column(node.args[0]):
                return True
            # also catch one-level names whose assignment mentions it
            if node.args and isinstance(node.args[0], ast.Name):
                nm = node.args[0].id
                for stmt in ast.walk(tree):
                    if (
                        isinstance(stmt, ast.Assign)
                        and len(stmt.targets) == 1
                        and isinstance(stmt.targets[0], ast.Name)
                        and stmt.targets[0].id == nm
                        and _mentions_nan_column(stmt.value)
                    ):
                        return True
    return False


def test_lint_catches_an_unguarded_scratch_lane():
    """Non-vacuousness: the scanner must flag a deliberately unguarded
    lane, in both the direct and the name-hoisted form."""
    direct = (
        "def q_scratch(spark, sf_dir):\n"
        "    e = load_table(spark, sf_dir, 'events')\n"
        "    return e.agg(exact_round_sum_fast('value').alias('s'))\n"
    )
    hoisted = (
        "def q_scratch2(spark, sf_dir):\n"
        "    addend = F.when(F.col('value') < 0, F.col('value'))\n"
        "    return e.agg(exact_round_avg_fast(addend).alias('s'))\n"
    )
    guarded = (
        "def q_ok(spark, sf_dir):\n"
        "    return e.agg(exact_round_sum_fast(nan_excluded('value')).alias('s'))\n"
    )
    assert _scan_source(direct, "x.py") == [("x.py", "q_scratch", 3)]
    assert _scan_source(hoisted, "x.py") == [("x.py", "q_scratch2", 3)]
    assert _scan_source(guarded, "x.py") == []


def test_money_lanes_are_all_on_the_fast_family():
    """VERDICT r7 #1 'done' pin: the registry carries ONE money-helper
    family. No oracle may contain the classic DECIMAL(28,6) idiom and
    no plan module may call the classic helpers — a new lane written
    against the legacy family (whose cross-engine image has the
    documented ~9e9/2**53 domain caveats) fails here, not in a hostile
    fixture months later."""
    from hadoop_lab_spark.plans.registry import REGISTRY, load_all_query_modules

    load_all_query_modules()
    stale = [
        n for n, s in REGISTRY.items()
        if s.oracle and "DECIMAL(28,6)" in s.oracle
    ]
    assert not stale, f"classic decimal idiom in oracles: {stale}"
    classic = re.compile(
        r"\b(exact_round_sum|exact_round_avg|exact_sum|"
        r"sql_exact_round_sum|sql_exact_round_avg|sql_exact_sum)\("
    )
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        if rel == "functions/numeric.py":  # definitions + classic family
            continue
        for i, line in enumerate(path.read_text().splitlines(), 1):
            if classic.search(line):
                offenders.append(f"{rel}:{i}: {line.strip()}")
    assert not offenders, "classic helper call sites:\n" + "\n".join(offenders)
