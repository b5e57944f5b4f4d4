"""pyworker.prepare — the import-heap freeze and the stat-checked
zipimporter.invalidate_caches that every engine UDF installs in its
Python worker — and an ast guard that every such UDF calls it before
anything else. The zipimport cases build a zip and a zipimporter over
it; the freeze cases run a fresh interpreter, one of them a local[1]
Spark session."""

import ast
import gc
import glob
import importlib.util
import json
import os
import re
import subprocess
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
    stdlib method and the flag back after the test, and the heap that
    prepare() froze is unfrozen, so the test process is not left frozen."""
    monkeypatch.setattr(pyworker, "_installed", False)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    yield monkeypatch
    gc.unfreeze()


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
# the import-heap freeze
# ---------------------------------------------------------------------------

# argv[1] == "no-cache" hides zipimport's private directory cache, which
# takes prepare()'s zipimport part down its early return, the path
# CPython >= 3.13 takes too: the freeze must not depend on it.
FREEZE_PROBE = """
import gc, json, sys, zipimport
from movingspark import pyworker

if sys.argv[1] == "no-cache":
    saved = zipimport._zip_directory_cache
    del zipimport._zip_directory_cache
pyworker.prepare()
import numpy, pandas, pyarrow  # what every engine UDF imports
frozen1 = gc.get_freeze_count()
tracked1 = len(gc.get_objects())
pyworker.prepare()
frozen2 = gc.get_freeze_count()
tracked2 = len(gc.get_objects())
if sys.argv[1] == "no-cache":
    zipimport._zip_directory_cache = saved
print(json.dumps([frozen1, tracked1, frozen2, tracked2]))
"""


@pytest.mark.parametrize("zipimport_part", ["installed", "no-cache"])
def test_prepare_freezes_the_import_heap_once(zipimport_part):
    r = subprocess.run(
        [sys.executable, "-c", FREEZE_PROBE, zipimport_part],
        capture_output=True, text=True, cwd=ROOT, timeout=120,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    frozen1, tracked1, frozen2, tracked2 = json.loads(r.stdout.splitlines()[-1])
    assert frozen1 > 0
    # pandas, pyarrow and numpy were imported before the freeze, not after
    assert tracked1 < frozen1 / 10, (tracked1, frozen1)
    assert (frozen2, tracked2) == (frozen1, tracked1)


# One worker on local[1]: each probe runs in the worker the job before
# it prepared, and does not call prepare() itself. The geodesic
# arrow_udf runs first, in a fresh worker: PySpark imports pandas there
# after the UDF's first batch, so after prepare() has frozen the heap.
WORKER_HEAP_JOB = """
import json
import pandas as pd
from pyspark.sql import SparkSession
from movingspark import derive, ingest, smooth

spark = (
    SparkSession.builder.master("local[1]")
    .appName("pyworker-freeze")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
pts = ingest.synth_skewed_points(spark, 400, n_trajs=8).drop("value")


def probe(it):
    import gc, os

    for _ in it:
        pass
    yield pd.DataFrame(
        {"pid": [os.getpid()], "frozen": [gc.get_freeze_count()], "tracked": [len(gc.get_objects())]}
    )


def probes():
    return [r.asDict() for r in pts.coalesce(1).mapInPandas(probe, "pid long, frozen long, tracked long").collect()]


rows = [len(derive.add_all_kinematics(pts, latlon=True).select("distance").collect())]
got = probes()
rows.append(smooth.kalman_smooth(pts).count())
got += probes()
print("PYWORKER_HEAP " + json.dumps({"rows": rows, "probes": got}))
spark.stop()
"""


def test_reused_worker_keeps_its_heap_frozen():
    """After the geodesic arrow_udf and after a grouped map, the worker's
    per-task gc.collect() has only the objects created since the freeze
    to walk (about 73 000 without it)."""
    r = subprocess.run(
        [sys.executable, "-c", WORKER_HEAP_JOB],
        capture_output=True, text=True, cwd=ROOT, timeout=420,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    line = [l for l in r.stdout.splitlines() if l.startswith("PYWORKER_HEAP ")]
    assert line, (r.stdout[-1000:], r.stderr[-1000:])
    got = json.loads(line[0].split(" ", 1)[1])
    assert got["rows"] == [400, 400]
    assert len(got["probes"]) == 2
    for probe in got["probes"]:
        assert probe["frozen"] > 0
        assert probe["tracked"] < 10_000, probe


# ---------------------------------------------------------------------------
# coverage guard: every function the engine hands to a Python worker
# ---------------------------------------------------------------------------

_RUNNERS = {"mapInPandas", "mapInArrow", "applyInPandasWithState"}
_SITE_RE = re.compile(r"@(?:\w+\.)?(?:pandas|arrow)_udf\(|\.(?:mapInPandas|mapInArrow|applyInPandasWithState)\(")


def _named(func, name):
    return (isinstance(func, ast.Attribute) and func.attr == name) or (
        isinstance(func, ast.Name) and func.id == name
    )


def _is_vector_udf(deco):
    func = deco.func if isinstance(deco, ast.Call) else deco
    return _named(func, "pandas_udf") or _named(func, "arrow_udf")


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
    """(name, lineno, FunctionDef or None) per pandas_udf- or
    arrow_udf-decorated function and per function passed to mapInPandas
    / mapInArrow / applyInPandasWithState; None when the argument is not
    a function defined in the enclosing scope (a lambda, say)."""
    scope_of = {}
    for scope in ast.walk(tree):
        if isinstance(scope, (ast.Module, ast.FunctionDef)):
            for node in ast.walk(scope):
                if node is not scope:
                    scope_of[node] = scope  # innermost scope wins: walked last
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and any(map(_is_vector_udf, node.decorator_list)):
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
    assert {("gmap.py", "per_batch"), ("derive.py", "_geodesic_udf")} <= found


def test_pandas_stays_out_of_the_batch_engine():
    """Outside streaming (applyInPandasWithState), the engine hands data
    to Python workers as Arrow arrays only: no pandas UDF, no
    mapInPandas and no pandas import but the one pyworker freezes."""
    found = []
    for path in sorted(glob.glob(os.path.join(ROOT, "movingspark", "*.py"))):
        name = os.path.basename(path)
        if name == "streaming.py":
            continue
        for line in open(path):
            if re.search(r"pandas_udf|mapInPandas|^\s*(?:import|from) pandas\b", line):
                found.append((name, line.strip()))
    assert found == [("pyworker.py", "import pandas  # noqa: F401")]
