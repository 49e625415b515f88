"""Python workers forget their zip importers, and the package's UDFs are
built per call or per SparkContext, never at import.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
task; on CPython 3.11/3.12 each cached ``zipimporter`` then re-reads its
whole archive (pyspark.zip, py4j, the Spark jar). Worker-side batch
functions call ``pyworker.forget_zip_importers()`` first, so a reused
worker has nothing to re-read. A UDF object built once at import keeps
the JVM function of the first SparkContext that used it, so the pipeline
builds its UDFs with its other Columns once per SparkContext.
"""

import ast
import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

from xoverrr_spark.pyworker import forget_zip_importers

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "xoverrr_spark"

HELPER = "forget_zip_importers"
# a worker-side function may reach the helper through the shared scorer
THROUGH = "batch_perplexity_with_tables"
ENTRY_POINTS = {"pandas_udf", "mapInPandas", "applyInPandas", "applyInPandasWithState"}


def _zip_importers() -> list[str]:
    return [p for p, f in list(sys.path_importer_cache.items())
            if isinstance(f, zipimport.zipimporter)]


def test_forget_zip_importers_keeps_zip_imports_working(tmp_path, monkeypatch):
    archive = tmp_path / "zpkg.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/a.py", "X = 1\n")
        z.writestr("zpkg/b.py", "Y = 2\n")
    monkeypatch.syspath_prepend(str(archive))
    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda path: reads.append(path) or real_read(path))
    try:
        import zpkg.a

        assert zpkg.a.X == 1 and _zip_importers()
        forget_zip_importers()
        assert _zip_importers() == []
        reads.clear()
        # what PySpark runs at the start of each task: nothing to re-read
        importlib.invalidate_caches()
        import zpkg.b

        assert zpkg.b.Y == 2
        assert reads == []
    finally:
        for name in ("zpkg", "zpkg.a", "zpkg.b"):
            sys.modules.pop(name, None)
        forget_zip_importers()  # none left pointing at the tmp archive


# Runs in its own process so that its Python workers have run nothing but
# quality_filter before the probe: the probe reports every worker it lands
# on, and the pool of a shared test session also holds workers from other
# tests' UDFs. The probe is defined in ``__main__``, so it is pickled by
# value and does not itself call the helper.
_SCRIPT = r'''
import json
import pandas as pd
from xoverrr_spark.pipeline.quality_filter import quality_filter
from xoverrr_spark.session import get_spark

CAPTIONS = [
    "a photo of a dog sitting on the grass near a wooden fence",
    "buy now!!! click here $$$ 555-123-4567",
    "", None,
    "the red car is parked in front of an old brick building",
]


def run_filter(spark):
    df = spark.createDataFrame(
        [(f"i{i}", c) for i, c in enumerate(CAPTIONS * 4)],
        "image_id string, caption string").repartition(2)
    return quality_filter(df).collect()


def probe(batches):
    import os, sys, zipimport
    for _ in batches:
        pass
    n = sum(isinstance(f, zipimport.zipimporter)
            for f in list(sys.path_importer_cache.values()))
    yield pd.DataFrame({"pid": [os.getpid()], "zipimporters": [n]})


spark = get_spark("pyworker_probe", cores=2, shuffle_partitions=2)
first = run_filter(spark)
spark.stop()
spark = get_spark("pyworker_probe", cores=2, shuffle_partitions=2)
again = run_filter(spark)
run_filter(spark)
rows = spark.range(0, 8, numPartitions=2).mapInPandas(
    probe, "pid long, zipimporters long").collect()
print(json.dumps({
    "same_after_restart": sorted(map(tuple, first)) == sorted(map(tuple, again)),
    "workers": [r.asDict() for r in rows],
}))
spark.stop()
'''


@pytest.fixture(scope="module")
def restarted_run():
    env = dict(os.environ, XOVERRR_DRIVER_MEM="1g",
               PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])))
    proc = subprocess.run([sys.executable, "-c", _SCRIPT], cwd=ROOT, env=env,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1]), proc.stderr


def test_quality_filter_survives_session_restart(restarted_run):
    """A UDF built once at import would still report to the first, stopped
    context's accumulator server after the restart."""
    out, stderr = restarted_run
    assert out["same_after_restart"]
    assert "Failed to update accumulator" not in stderr


def test_workers_hold_no_zip_importers_after_quality_filter(restarted_run):
    out, _ = restarted_run
    assert out["workers"]
    assert [w["zipimporters"] for w in out["workers"]] == [0] * len(out["workers"])


# --- guard: every worker-side function calls the helper first ------------

def _name(node) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _calls_helper_first(fn) -> bool:
    body = fn.body
    if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
        body = body[1:]  # docstring
    first = body[0] if body else None
    return (isinstance(first, ast.Expr) and isinstance(first.value, ast.Call)
            and _name(first.value.func) == HELPER)


def _reaches_helper(fn) -> bool:
    return _calls_helper_first(fn) or any(
        isinstance(n, ast.Call) and _name(n.func) == THROUGH for n in ast.walk(fn))


def _defs(tree) -> dict[str, list]:
    out: dict[str, list] = {}
    for n in ast.walk(tree):
        if isinstance(n, ast.FunctionDef):
            out.setdefault(n.name, []).append(n)
    return out


def _worker_functions():
    """(site, [function defs]) for each function the package hands to a
    Python-worker entry point; an empty list means it could not be
    resolved to a ``def`` (a lambda, an attribute, a keyword argument),
    which the guard reports."""
    trees = {p: ast.parse(p.read_text()) for p in sorted(PKG.rglob("*.py"))}
    local = {p: _defs(t) for p, t in trees.items()}
    anywhere: dict[str, list] = {}
    for d in local.values():
        for k, v in d.items():
            anywhere.setdefault(k, []).extend(v)

    for path, tree in trees.items():
        rel = path.relative_to(ROOT)

        def resolve(arg):
            if isinstance(arg, ast.Name):
                return local[path].get(arg.id) or anywhere.get(arg.id, [])
            if isinstance(arg, ast.Call) and isinstance(arg.func, ast.Name):
                # a factory: the def it returns
                inner = []
                for factory in resolve(arg.func):
                    nested = _defs(factory)
                    for n in ast.walk(factory):
                        if isinstance(n, ast.Return) and isinstance(n.value, ast.Name):
                            inner += nested.get(n.value.id, [])
                return inner
            return []

        decorators = set()
        for fn in ast.walk(tree):
            if isinstance(fn, ast.FunctionDef):
                for dec in fn.decorator_list:
                    target = dec.func if isinstance(dec, ast.Call) else dec
                    if _name(target) in ENTRY_POINTS:
                        decorators.add(id(dec))
                        yield f"{rel}:{fn.lineno}", [fn]
        for call in ast.walk(tree):
            if (isinstance(call, ast.Call) and id(call) not in decorators
                    and _name(call.func) in ENTRY_POINTS):
                yield f"{rel}:{call.lineno}", resolve(call.args[0]) if call.args else []


def test_worker_functions_forget_zip_importers_first():
    sites = list(_worker_functions())
    modules = {s.split(":")[0] for s, _ in sites}
    assert {
        "xoverrr_spark/pipeline/quality_filter.py",
        "xoverrr_spark/functions/models.py",
        "xoverrr_spark/operators/multimodal.py",
    } <= modules
    bad = [f"{site} {[f.name for f in fns] or 'unresolved'}"
           for site, fns in sites if not fns or not all(map(_reaches_helper, fns))]
    assert bad == []

    scorer = _defs(ast.parse((PKG / "functions" / "perplexity.py").read_text()))[THROUGH]
    assert all(map(_calls_helper_first, scorer))
