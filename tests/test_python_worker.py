"""``session.python_kernel``: a Python worker pays zip-import cache
invalidation once per process, not once per task.

pyspark calls ``importlib.invalidate_caches()`` at the start of every
task; on CPython < 3.13 each ``zipimporter`` then re-parses its whole
archive directory. These tests pin the stamped replacement (an unchanged
archive is not re-read, a rewritten one is and its new module imports,
installing twice changes nothing, nothing is installed on 3.13+), that
a live worker keeps ``pyspark.zip``'s directory across invalidations,
and that every function ``sinter_spark`` hands to a Python worker goes
through the wrapper."""

import ast
import importlib
import inspect
import os
import pathlib
import sys
import typing
import zipfile
import zipimport

import pandas as pd
import pytest

from sinter_spark import session
from sinter_spark.session import python_kernel

PACKAGE = pathlib.Path(session.__file__).parent


@pytest.fixture(autouse=True)
def stock_zipimport(monkeypatch):
    """Each test starts from the stock ``invalidate_caches`` and no
    stamps, and leaves this process that way."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", session._read_invalidate)
    monkeypatch.setattr(session, "_ZIP_STAMPS", {})


@pytest.fixture()
def reads(monkeypatch):
    """Archives passed to ``zipimport._read_directory``, in call order."""
    seen: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def _write_zip(path, modules: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    return str(path)


@pytest.fixture()
def archive(tmp_path, monkeypatch):
    path = _write_zip(tmp_path / "kernels.zip", {"pw_mod_a": "VALUE = 'a'\n"})
    monkeypatch.syspath_prepend(path)
    for name in ("pw_mod_a", "pw_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("pw_mod_a").VALUE == "a"
    return path


needs_eager_zip = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13+ invalidates zip caches lazily"
)


@needs_eager_zip
def test_unchanged_archive_is_not_reread(reads, archive):
    importlib.invalidate_caches()
    assert reads.count(archive) >= 1  # the stock method re-reads every time
    session._stamp_zip_caches()
    cached = zipimport._zip_directory_cache[archive]
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert archive not in reads
    assert zipimport._zip_directory_cache[archive] is cached
    assert importlib.import_module("pw_mod_a").VALUE == "a"


@needs_eager_zip
def test_rewritten_archive_is_reread(reads, archive):
    session._stamp_zip_caches()
    importlib.invalidate_caches()
    reads.clear()
    st = os.stat(archive)
    _write_zip(archive, {"pw_mod_a": "VALUE = 'a'\n", "pw_mod_b": "VALUE = 'b'\n"})
    # a later mtime even on a coarse-grained clock
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert archive in reads
    assert importlib.import_module("pw_mod_b").VALUE == "b"
    reads.clear()
    importlib.invalidate_caches()
    assert archive not in reads


@needs_eager_zip
def test_install_is_idempotent(reads, archive):
    session._stamp_zip_caches()
    stamps = dict(session._ZIP_STAMPS)
    assert stamps[archive] == session._stat_stamp(archive)
    session._stamp_zip_caches()
    python_kernel(lambda: None)()
    assert zipimport.zipimporter.invalidate_caches is session._stamped_invalidate
    assert session._ZIP_STAMPS == stamps
    reads.clear()
    importlib.invalidate_caches()
    assert archive not in reads


def test_no_op_on_lazy_zipimport(monkeypatch):
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    before = zipimport.zipimporter.invalidate_caches
    python_kernel(lambda: None)()
    assert zipimport.zipimporter.invalidate_caches is before
    assert session._ZIP_STAMPS == {}


def test_wrapper_keeps_signature_and_hints():
    def fold(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        """docs"""
        return pdf.assign(k=key[0])

    wrapped = python_kernel(fold)
    assert wrapped.__name__ == "fold" and wrapped.__doc__ == "docs"
    assert inspect.signature(wrapped) == inspect.signature(fold)
    # pyspark counts grouped-map arguments with getfullargspec, which
    # does not follow __wrapped__
    assert inspect.getfullargspec(wrapped).args == ["key", "pdf"]
    assert typing.get_type_hints(wrapped) == typing.get_type_hints(fold)
    out = wrapped(("x",), pd.DataFrame({"v": [1]}))
    assert out.to_dict("list") == {"v": [1], "k": ["x"]}


def test_live_worker_keeps_pyspark_zip_directory(spark):
    def probe(batches):
        import importlib
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        zips = [a for a in zipimport._zip_directory_cache if os.path.basename(a) == "pyspark.zip"]
        before = [id(zipimport._zip_directory_cache[a]) for a in zips]
        importlib.invalidate_caches()
        after = [id(zipimport._zip_directory_cache.get(a)) for a in zips]
        yield pa.RecordBatch.from_pydict(
            {"n_zips": [len(zips)], "kept": [before == after]}
        )

    rows = spark.range(0, 8, 1, 4).mapInArrow(python_kernel(probe), "n_zips bigint, kept boolean").collect()
    assert len(rows) == 4
    if not any(r.n_zips for r in rows):
        pytest.skip("Python workers import pyspark from a directory, not pyspark.zip")
    assert all(r.kept for r in rows) or sys.version_info >= (3, 13)


# -- coverage guard ----------------------------------------------------------

#: methods that ship their first argument (or ``func=``) to a Python worker
WORKER_METHODS = {"mapInArrow", "mapInPandas", "applyInPandas", "applyInPandasWithState"}


def _name(node) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _is_pandas_udf(node) -> bool:
    return _name(node.func if isinstance(node, ast.Call) else node) == "pandas_udf"


def _is_wrapped(node) -> bool:
    return isinstance(node, ast.Call) and _name(node.func) == "python_kernel"


def unwrapped_worker_functions(source: str, filename: str = "<src>") -> tuple[int, list[str]]:
    """(sites seen, sites whose function skips ``python_kernel``)."""
    sites, bad = 0, []
    for node in ast.walk(ast.parse(source, filename)):
        where = f"{filename}:{getattr(node, 'lineno', '?')}"
        if isinstance(node, ast.Call) and _name(node.func) in WORKER_METHODS:
            fn = node.args[0] if node.args else next(
                (k.value for k in node.keywords if k.arg == "func"), None
            )
            sites += 1
            if not _is_wrapped(fn):
                bad.append(f"{where} {_name(node.func)}")
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Call) and _is_pandas_udf(node.func):
            sites += 1  # pandas_udf(<type>)(fn)
            if not (node.args and _is_wrapped(node.args[0])):
                bad.append(f"{where} pandas_udf(...)(fn)")
        elif isinstance(node, ast.Call) and _is_pandas_udf(node) and node.args and not isinstance(
            node.args[0], ast.Constant
        ):
            sites += 1  # pandas_udf(fn, <type>)
            if not _is_wrapped(node.args[0]):
                bad.append(f"{where} pandas_udf(fn)")
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            decos = node.decorator_list
            idx = [i for i, d in enumerate(decos) if _is_pandas_udf(d)]
            if idx:
                sites += 1
                # decorators apply bottom-up: python_kernel must sit below
                if not any(_name(d) == "python_kernel" for d in decos[idx[0] + 1 :]):
                    bad.append(f"{where} @pandas_udf {node.name}")
    return sites, bad


def test_every_worker_function_goes_through_python_kernel():
    sites, bad = 0, []
    for path in sorted(PACKAGE.rglob("*.py")):
        n, b = unwrapped_worker_functions(path.read_text(), str(path.relative_to(PACKAGE.parent)))
        sites += n
        bad += b
    assert not bad, "functions shipped to Python workers without python_kernel:\n" + "\n".join(bad)
    assert sites >= 23  # every site the package has: the guard cannot pass vacuously


@pytest.mark.parametrize(
    "src",
    [
        "df.mapInArrow(kernel, 'a int')",
        "df.mapInPandas(make_kernel(k), schema='a int')",
        "g.applyInPandas(func=fold, schema='a int')",
        "g.applyInPandasWithState(update, 'a int', 's int', 'append', t)",
        "f = F.pandas_udf('string')(run)",
        "f = pandas_udf(run, 'string')",
        "@F.pandas_udf('string')\ndef run(s):\n    return s",
        "@python_kernel\n@F.pandas_udf('string')\ndef run(s):\n    return s",
    ],
)
def test_guard_flags_unwrapped_sites(src):
    sites, bad = unwrapped_worker_functions(src)
    assert sites == 1 and len(bad) == 1


@pytest.mark.parametrize(
    "src",
    [
        "df.mapInArrow(python_kernel(kernel), 'a int')",
        "g.applyInPandas(func=python_kernel(fold), schema='a int')",
        "f = F.pandas_udf('string')(python_kernel(run))",
        "@F.pandas_udf('string')\n@python_kernel\ndef run(s):\n    return s",
    ],
)
def test_guard_accepts_wrapped_sites(src):
    assert unwrapped_worker_functions(src) == (1, [])
