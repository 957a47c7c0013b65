"""Source invariants of the engine package, checked on its AST (no session).

1. One code path per operator: no ``if``/``elif``/conditional-expression
   test reads a module-level name bound to a ``True``/``False`` literal —
   an in-process A/B toggle. A measured alternative keeps its receipt in
   BASELINE.md; the engine keeps only the shipped arm.
2. No silent fallbacks: every ``except Exception``, ``except
   BaseException`` or bare ``except`` is listed in :data:`BROAD_EXCEPT`
   with the reason it must stay broad. Everything else catches the types
   it expects (``Py4JError``, ``KeyError``, ...).
3. One two-phase pass: in ``functions/ordered.py`` the range partitioning
   (``repartitionByRange``) and the pin (``.persist(``) are each called in
   exactly one place, the helper :data:`TWO_PHASE` names, so the
   pin → boundary → carry → join skeleton is not copied again.
"""

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "pandas_plus_spark"

#: (module, enclosing function) -> why the catch must stay broad
BROAD_EXCEPT = {
    ("pandas_plus_spark.operators.multimodal", "decode_image_pixels"):
        "never-raise backstop over untrusted image blobs: a decoder bug on "
        "a crafted stream degrades to None instead of killing the "
        "mapInPandas task",
}

_BROAD = {"Exception", "BaseException"}

#: (module, function) that alone range-partitions and pins in that module
TWO_PHASE = ("pandas_plus_spark.functions.ordered", "_two_phase")
_SKELETON = ("repartitionByRange", "persist")


def _modules():
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG.parent).with_suffix("")
        yield ".".join(rel.parts), ast.parse(path.read_text(), str(path))


def _module_bools(tree):
    """Names bound at module level to a True/False literal."""
    names = set()
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            targets, value = [node.target], node.value
        else:
            continue
        if isinstance(value, ast.Constant) and isinstance(value.value, bool):
            names |= {t.id for t in targets if isinstance(t, ast.Name)}
    return names


def _walk_with_function(node, func=None):
    """Yield (node, name of the innermost enclosing function)."""
    for child in ast.iter_child_nodes(node):
        yield child, func
        inner = (child.name if isinstance(
            child, (ast.FunctionDef, ast.AsyncFunctionDef)) else func)
        yield from _walk_with_function(child, inner)


def _is_broad(handler):
    t = handler.type
    if t is None:
        return True
    elts = t.elts if isinstance(t, ast.Tuple) else [t]
    return any(isinstance(e, ast.Name) and e.id in _BROAD for e in elts)


def _toggle_tests(mod, tree):
    bools = _module_bools(tree)
    found = []
    for node in ast.walk(tree):
        if isinstance(node, (ast.If, ast.IfExp)):
            for sub in ast.walk(node.test):
                if isinstance(sub, ast.Name) and sub.id in bools:
                    found.append(f"{mod}:{node.lineno} tests {sub.id}")
    return found


def _broad_excepts(mod, tree):
    return [((mod, func), node.lineno)
            for node, func in _walk_with_function(tree)
            if isinstance(node, ast.ExceptHandler) and _is_broad(node)]


def _call_sites(tree, methods):
    """method name -> enclosing function of each call of it, in order."""
    sites = {m: [] for m in methods}
    for node, func in _walk_with_function(tree):
        if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr in sites):
            sites[node.func.attr].append(func)
    return sites


def test_no_module_level_boolean_toggles():
    found = [hit for mod, tree in _modules()
             for hit in _toggle_tests(mod, tree)]
    assert not found, (
        "branch on a module-level boolean (an A/B toggle); keep the "
        f"shipped arm only: {found}")


def test_broad_excepts_are_allowlisted():
    found = [hit for mod, tree in _modules()
             for hit in _broad_excepts(mod, tree)]
    unlisted = [f"{m}.{f or '<module>'}:{line}"
                for (m, f), line in found if (m, f) not in BROAD_EXCEPT]
    assert not unlisted, (
        "broad except outside the allowlist; catch the expected types or "
        f"add a reason to BROAD_EXCEPT: {unlisted}")
    stale = set(BROAD_EXCEPT) - {key for key, _ in found}
    assert not stale, f"allowlist entries with no broad except: {stale}"


def test_toggle_check_sees_if_elif_and_ifexp():
    tree = ast.parse(
        "_A = False\n_B: bool = True\nx = 1\n"
        "def f():\n"
        "    if x:\n        pass\n"
        "    elif not _A:\n        pass\n"
        "    return 1 if _B else 2\n")
    hits = _toggle_tests("m", tree)
    assert hits == ["m:7 tests _A", "m:9 tests _B"]


def test_broad_except_check_sees_bare_tuple_and_base():
    tree = ast.parse(
        "def f():\n"
        "    try:\n        pass\n    except:\n        pass\n"
        "def g():\n"
        "    try:\n        pass\n    except (KeyError, Exception):\n"
        "        pass\n"
        "    try:\n        pass\n    except KeyError:\n        pass\n"
        "try:\n    pass\nexcept BaseException:\n    pass\n")
    assert _broad_excepts("m", tree) == [
        (("m", "f"), 4), (("m", "g"), 9), (("m", None), 17)]


def test_ordered_skeleton_lives_in_one_helper():
    mod, helper = TWO_PHASE
    tree = dict(_modules())[mod]
    sites = _call_sites(tree, _SKELETON)
    assert sites == {m: [helper] for m in _SKELETON}, (
        f"{mod}: range partitioning and pinning belong in {helper} only; "
        f"pass the window columns, boundary aggregates and combine "
        f"expressions to it instead: {sites}")


def test_skeleton_check_sees_every_call_site():
    tree = ast.parse(
        "def _two_phase(df):\n"
        "    return df.repartitionByRange(2, 'k').persist()\n"
        "def op(df, level):\n"
        "    return df.persist(level)\n"
        "x = df.repartitionByRange(3)\n")
    assert _call_sites(tree, _SKELETON) == {
        "repartitionByRange": ["_two_phase", None],
        "persist": ["_two_phase", "op"]}
