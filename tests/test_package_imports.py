"""Every module in the package imports: a kept module that still imports a
deleted one fails here, even when no other test reaches it. Every top-level
definition has a caller outside ``tests/``, or a reason to stay in KEEP.
No Spark."""

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


def test_every_package_module_imports():
    names = [m.name for m in pkgutil.walk_packages(pkg.__path__,
                                                   prefix=pkg.__name__ + ".")]
    assert len(names) > 50
    for name in names:
        importlib.import_module(name)


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
    callers = sorted(PKG_DIR.rglob("*.py")) + [
        ROOT / "__spark_entry__.py", ROOT / "_golden_oracles.py",
        *sorted(ROOT.glob("bench*.py")),
        *sorted((ROOT / "tools").glob("*.py")),
        *[p for p in sorted((ROOT / "perfbench").rglob("*.py"))
          if "tests" not in p.relative_to(ROOT).parts]]
    total, defs = Counter(), []
    for path in callers:
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
