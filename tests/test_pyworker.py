"""pyworker.prepare — the stat-checked zipimporter.invalidate_caches
that every engine UDF installs in its Python worker — and an ast guard
that every such UDF calls it before anything else. No Spark session:
each case builds a zip and a zipimporter over it."""

import ast
import glob
import importlib.util
import os
import re
import sys
import zipfile
import zipimport

import pytest

from movingspark import pyworker

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

before_313 = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="prepare() is a no-op on CPython >= 3.13"
)


@pytest.fixture
def fresh(monkeypatch):
    """prepare() not yet run in this process; monkeypatch puts the
    stdlib method and the flag back after the test."""
    monkeypatch.setattr(pyworker, "_installed", False)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    return monkeypatch


@pytest.fixture
def reads(fresh):
    """Archive paths passed to zipimport._read_directory, in call order."""
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    fresh.setattr(zipimport, "_read_directory", counting)
    return calls


def _write_zip(path, value):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pwprobe.py", f"VALUE = {value!r}\n")


def _value(importer):
    """Import pwprobe through `importer` without touching sys.modules."""
    spec = importer.find_spec("pwprobe")
    assert spec is not None
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.VALUE


@before_313
def test_install_is_idempotent(fresh):
    stdlib = zipimport.zipimporter.invalidate_caches
    pyworker.prepare()
    patched = zipimport.zipimporter.invalidate_caches
    assert patched is not stdlib
    pyworker.prepare()
    assert zipimport.zipimporter.invalidate_caches is patched


@before_313
def test_stdlib_rereads_on_every_call(fresh, reads, tmp_path):
    """The cost prepare() removes: without it every call re-reads."""
    path = str(tmp_path / "a.zip")
    _write_zip(path, 1)
    imp = zipimport.zipimporter(path)
    for _ in range(3):
        imp.invalidate_caches()
    assert reads == [path] * 4  # the constructor's read + 3


@before_313
def test_unchanged_archive_is_not_reread(fresh, reads, tmp_path):
    path = str(tmp_path / "a.zip")
    _write_zip(path, 1)
    imp = zipimport.zipimporter(path)
    pyworker.prepare()
    imp.invalidate_caches()  # first call after install: no stamp yet
    assert reads == [path, path]
    for _ in range(5):
        imp.invalidate_caches()
    other = zipimport.zipimporter(path)
    other.invalidate_caches()
    assert reads == [path, path]
    assert imp._files is zipimport._zip_directory_cache[path] is other._files
    assert _value(imp) == 1
    # a directory dropped from the cache is read again
    del zipimport._zip_directory_cache[path]
    imp.invalidate_caches()
    assert reads == [path] * 3
    assert _value(imp) == 1


@before_313
@pytest.mark.parametrize("change", ["size", "mtime"])
def test_rewritten_archive_is_reread(fresh, reads, tmp_path, change):
    path = str(tmp_path / "a.zip")
    _write_zip(path, 1)
    imp = zipimport.zipimporter(path)
    pyworker.prepare()
    imp.invalidate_caches()
    st = os.stat(path)
    if change == "size":
        _write_zip(path, "a much longer value")
        assert os.stat(path).st_size != st.st_size
    else:
        _write_zip(path, 2)  # same length as VALUE = 1
        os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
        assert os.stat(path).st_size == st.st_size
    imp.invalidate_caches()
    assert reads == [path] * 3
    assert _value(imp) == ("a much longer value" if change == "size" else 2)


@before_313
def test_deleted_archive_takes_the_stdlib_path(fresh, reads, tmp_path):
    path = str(tmp_path / "a.zip")
    _write_zip(path, 1)
    imp = zipimport.zipimporter(path)
    pyworker.prepare()
    imp.invalidate_caches()
    os.remove(path)
    imp.invalidate_caches()  # stdlib: ZipImportError -> cache entry dropped
    assert path not in zipimport._zip_directory_cache
    assert imp._files == {}
    assert imp.find_spec("pwprobe") is None
    # a new archive at the same path has no stale stamp to match
    _write_zip(path, 3)
    imp.invalidate_caches()
    assert _value(imp) == 3


def test_no_directory_cache_leaves_zipimport_alone(fresh):
    stdlib = zipimport.zipimporter.invalidate_caches
    fresh.delattr(zipimport, "_zip_directory_cache")
    pyworker.prepare()
    assert zipimport.zipimporter.invalidate_caches is stdlib


@pytest.mark.skipif(sys.version_info < (3, 13), reason="CPython >= 3.13 only")
def test_lazy_stdlib_is_left_alone(fresh):
    stdlib = zipimport.zipimporter.invalidate_caches
    pyworker.prepare()
    assert zipimport.zipimporter.invalidate_caches is stdlib


# ---------------------------------------------------------------------------
# coverage guard: every function the engine hands to a Python worker
# ---------------------------------------------------------------------------

_RUNNERS = {"mapInPandas", "applyInPandasWithState"}
_SITE_RE = re.compile(r"@\w+\.pandas_udf\(|@pandas_udf\(|\.(?:mapInPandas|applyInPandasWithState)\(")


def _named(func, name):
    return (isinstance(func, ast.Attribute) and func.attr == name) or (
        isinstance(func, ast.Name) and func.id == name
    )


def _is_pandas_udf(deco):
    return _named(deco.func if isinstance(deco, ast.Call) else deco, "pandas_udf")


def _calls_prepare_first(fn):
    body = fn.body
    if isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
        body = body[1:]  # docstring
    first = body[0] if body else None
    return (
        isinstance(first, ast.Expr)
        and isinstance(first.value, ast.Call)
        and _named(first.value.func, "prepare")
    )


def _worker_functions(tree):
    """(name, lineno, FunctionDef or None) per pandas_udf-decorated
    function and per function passed to mapInPandas /
    applyInPandasWithState; None when the argument is not a function
    defined in the enclosing scope (a lambda, say)."""
    scope_of = {}
    for scope in ast.walk(tree):
        if isinstance(scope, (ast.Module, ast.FunctionDef)):
            for node in ast.walk(scope):
                if node is not scope:
                    scope_of[node] = scope  # innermost scope wins: walked last
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and any(map(_is_pandas_udf, node.decorator_list)):
            out.append((node.name, node.lineno, node))
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute) and (
            node.func.attr in _RUNNERS
        ):
            arg = node.args[0] if node.args else None
            defs = [
                d
                for d in ast.walk(scope_of[node])
                if isinstance(arg, ast.Name)
                and isinstance(d, ast.FunctionDef)
                and d.name == arg.id
                and d.lineno < node.lineno
            ]
            name = arg.id if isinstance(arg, ast.Name) else "<not a named function>"
            out.append((name, node.lineno, max(defs, key=lambda d: d.lineno) if defs else None))
    return out


def test_every_engine_udf_calls_prepare_first():
    missing, found = [], set()
    for path in sorted(glob.glob(os.path.join(ROOT, "movingspark", "*.py"))):
        src = open(path).read()
        sites = _worker_functions(ast.parse(src))
        # the walker must see every textual site (no unrecognized form)
        assert len(sites) == len(_SITE_RE.findall(src)), path
        for name, lineno, fn in sites:
            found.add((os.path.basename(path), name))
            if fn is None or not _calls_prepare_first(fn):
                missing.append(f"{os.path.basename(path)}:{lineno} {name}")
    assert not missing, "UDFs that do not call pyworker.prepare() first: " + ", ".join(missing)
    assert ("gmap.py", "per_batch") in found
