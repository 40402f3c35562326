"""Every module in the package imports: a kept module that still imports a
deleted one fails here, even when no other test reaches it. Every top-level
definition has a caller outside ``tests/``, or a reason to stay in KEEP,
and every behaviour switch is set outside ``tests/``, or has a reason to
stay in KEEP_SWITCHES. No Spark."""

import ast
import importlib
import pathlib
import pkgutil
from collections import Counter

import msi_preprocessing_pipeline_spark as pkg

ROOT = pathlib.Path(pkg.__file__).resolve().parent.parent
PKG_DIR = ROOT / pkg.__name__

# top-level definitions that nothing outside tests/ reaches, on purpose
KEEP = {
    "kernels/alignment.py::_padded_size":
        "golden-tested form of the FFT padding that pafft inlines",
    "kernels/special.py::pearsonr_p":
        "reference for the baseline's _TrendScanner.has_trend test",
    "kernels/synth.py::make_table": "fixture: synthetic spectra table",
    "operators/bpe.py::_fit_bpe_rescan":
        "reference for the incremental fit_bpe test",
    "operators/multimodal.py::make_fake_media": "fixture: fake media table",
    "operators/packing.py::pack_token_sequences":
        "reference for the pack_with_segments tokens test",
    "operators/spectrum.py::export_csv":
        "reference stage S8 (pipeline/export.py), COVERAGE.md",
    "oracle.py::derive_ts": "oracle API",
    "oracle.py::run_pipeline": "oracle API: the end-to-end numpy oracle",
    "sources/ascii.py::read_spectra_dir": "reference stages S1-S4",
    "sources/ascii.py::metadata_table": "reference stages S1-S4",
    "sources/bucketed.py::write_bucketed":
        "bucketed layout, held by a plan pin",
    "sources/bucketed.py::read_table": "bucketed layout, held by a plan pin",
    "sources/tables.py::write_sequences": "fixture: sequence parquet writer",
    "streaming/serve.py::streaming_features":
        "streaming serve (ROADMAP keeps it)",
    "streaming/serve.py::run_stream_to_parquet":
        "streaming serve (ROADMAP keeps it)",
}

# switches that no caller outside tests/ sets, on purpose
KEEP_SWITCHES = {
    "operators/similarity.py::semdedup::materialize":
        "the semdedup plan pin needs the lazy plan (materialize=False)",
}


def test_every_package_module_imports():
    names = [m.name for m in pkgutil.walk_packages(pkg.__path__,
                                                   prefix=pkg.__name__ + ".")]
    assert len(names) > 50
    for name in names:
        importlib.import_module(name)


def _callers() -> list:
    """The code outside ``tests/`` that both censuses read: the package,
    the entry and golden scripts, the root benches, ``tools/`` and
    ``perfbench/`` (its tests excluded)."""
    return sorted(PKG_DIR.rglob("*.py")) + [
        ROOT / "__spark_entry__.py", ROOT / "_golden_oracles.py",
        *sorted(ROOT.glob("bench*.py")),
        *sorted((ROOT / "tools").glob("*.py")),
        *[p for p in sorted((ROOT / "perfbench").rglob("*.py"))
          if "tests" not in p.relative_to(ROOT).parts]]


_SCOPES = (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _references(node) -> Counter:
    """Names, attributes, imported names and identifier strings (e.g. a
    name passed to ``getattr``) under ``node``; docstrings don't count."""
    refs, docstrings = Counter(), set()
    for n in ast.walk(node):   # breadth-first: a scope before its body
        if isinstance(n, _SCOPES) and n.body and \
                isinstance(n.body[0], ast.Expr) and \
                isinstance(n.body[0].value, ast.Constant):
            docstrings.add(id(n.body[0].value))
        if isinstance(n, ast.Name):
            refs[n.id] += 1
        elif isinstance(n, ast.Attribute):
            refs[n.attr] += 1
        elif isinstance(n, ast.alias):
            refs[n.name.rsplit(".", 1)[-1]] += 1
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) \
                and n.value.isidentifier() and id(n) not in docstrings:
            refs[n.value] += 1
    return refs


def test_every_definition_has_a_caller_outside_tests():
    """The AST census: a package definition is reached when its name is
    referenced anywhere in the package, the entry and golden scripts, the
    root benches, ``tools/`` or ``perfbench/`` (its tests excluded),
    outside its own body."""
    total, defs = Counter(), []
    for path in _callers():
        tree = ast.parse(path.read_text(), str(path))
        for stmt in tree.body:
            if stmt is tree.body[0] and isinstance(stmt, ast.Expr):
                continue   # the module docstring
            refs = _references(stmt)
            total.update(refs)
            if PKG_DIR in path.parents and \
                    isinstance(stmt, _SCOPES[1:]):
                name = f"{path.relative_to(PKG_DIR).as_posix()}::{stmt.name}"
                defs.append((name, stmt.name, refs[stmt.name]))
    unreached = {name for name, ident, own in defs if total[ident] == own}

    assert unreached - set(KEEP) == set(), \
        "only tests reach these: delete them (and the tests that reach only " \
        "them), or add them to KEEP with a reason"
    assert set(KEEP) - unreached == set(), \
        "stale KEEP entries: deleted, or now reached from outside tests/"


_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _positional(fn) -> list:
    """``fn``'s parameters that a call can pass by position; a method's
    ``self``/``cls`` is left out."""
    names = [p.arg for p in fn.args.posonlyargs + fn.args.args]
    return names[1:] if names[:1] in (["self"], ["cls"]) else names


def _params(fn) -> list:
    return _positional(fn) + [p.arg for p in fn.args.kwonlyargs]


def _literal_defaults(fn) -> set:
    """``fn``'s parameters whose default is a ``str`` or ``bool`` literal."""
    a = fn.args
    pos = a.posonlyargs + a.args
    pairs = [*zip(pos[len(pos) - len(a.defaults):], a.defaults),
             *zip(a.kwonlyargs, a.kw_defaults)]
    return {p.arg for p, d in pairs if isinstance(d, ast.Constant)
            and isinstance(d.value, (str, bool))}


def _argument(call, fn, param):
    """The expression ``call`` passes for ``fn``'s ``param``, or None."""
    for kw in call.keywords:
        if kw.arg == param:
            return kw.value
    names = _positional(fn)
    if param not in names:
        return None
    i = names.index(param)
    before = call.args[:i + 1]
    if len(before) > i and \
            not any(isinstance(a, ast.Starred) for a in before):
        return call.args[i]
    return None


def test_every_switch_is_set_outside_tests():
    """The parameter census. A switch is a parameter of a package function
    with a ``str``/``bool`` literal default that picks a code path: the
    function reads it in an ``if`` or conditional-expression test, or
    forwards it by bare name to a path-picking parameter of another
    package function. It is set when some call in the definitions
    census's caller set passes it, by keyword or by position; forwarding
    the caller's own same-named switch does not count."""
    funcs = {}   # name -> [(module path, FunctionDef)]
    calls = []   # (callee name, Call, enclosing FunctionDef or None)
    for path in _callers():
        tree = ast.parse(path.read_text(), str(path))
        stack = [(tree, None)]
        while stack:
            node, enclosing = stack.pop()
            for child in ast.iter_child_nodes(node):
                if isinstance(child, _FUNCS):
                    if PKG_DIR in path.parents:
                        funcs.setdefault(child.name, []).append(
                            (path.relative_to(PKG_DIR).as_posix(), child))
                    stack.append((child, child))
                    continue
                if isinstance(child, ast.Call):
                    f = child.func
                    name = f.id if isinstance(f, ast.Name) else \
                        f.attr if isinstance(f, ast.Attribute) else None
                    if name:
                        calls.append((name, child, enclosing))
                stack.append((child, enclosing))
    where = {id(fn): f"{path}::{fn.name}"
             for defs in funcs.values() for path, fn in defs}

    picking = set()   # (id(fn), param): the parameter picks a code path
    for defs in funcs.values():
        for _, fn in defs:
            tested = {n.id for t in ast.walk(fn)
                      if isinstance(t, (ast.If, ast.IfExp))
                      for n in ast.walk(t.test) if isinstance(n, ast.Name)}
            picking |= {(id(fn), p) for p in _params(fn) if p in tested}
    grown = True
    while grown:   # a bare forward to a picking parameter picks too
        grown = False
        for name, call, enclosing in calls:
            if id(enclosing) not in where:
                continue
            for _, fn in funcs.get(name, ()):
                for p in _params(fn):
                    arg = _argument(call, fn, p)
                    if (id(fn), p) in picking and \
                            isinstance(arg, ast.Name) and \
                            arg.id in _params(enclosing) and \
                            (id(enclosing), arg.id) not in picking:
                        picking.add((id(enclosing), arg.id))
                        grown = True

    unset = set()
    for defs in funcs.values():
        for _, fn in defs:
            for p in _literal_defaults(fn):
                if (id(fn), p) not in picking:
                    continue
                if not any(
                        arg is not None and not (
                            isinstance(arg, ast.Name) and arg.id == p
                            and enclosing is not None
                            and p in _literal_defaults(enclosing))
                        for name, call, enclosing in calls
                        if name == fn.name
                        for arg in [_argument(call, fn, p)]):
                    unset.add(f"{where[id(fn)]}::{p}")

    assert unset - set(KEEP_SWITCHES) == set(), \
        "only tests set these switches: delete each one and the code " \
        "behind its other values, or add it to KEEP_SWITCHES with a reason"
    assert set(KEEP_SWITCHES) - unset == set(), \
        "stale KEEP_SWITCHES entries: deleted, or now set outside tests/"
