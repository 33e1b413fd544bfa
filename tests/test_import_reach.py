"""Every ``py_sema_spark`` module is reached from the program's surfaces
(``tools/import_reach.py``: an AST walk of the imports, nothing run),
and every program attribute the benchmark's tracer wraps still exists.
Unreached code, or a rename the traced benchmark would trip on, fails
here. Pure Python: no Spark session."""

import importlib.util
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _load(name: str, path: Path):
    spec = importlib.util.spec_from_file_location(name, str(path))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_every_module_is_reached():
    mods, reached = _load("import_reach", ROOT / "tools" / "import_reach.py").reach(ROOT)
    # rdf/formats.py is read by tests/test_subyt.py only
    assert sorted(set(mods) - reached) == ["py_sema_spark.rdf.formats"]


def test_traced_attributes_exist():
    tracing = _load("perfbench_tracing", ROOT / "perfbench" / "tracing.py")
    wrapped = []

    class Recorder(tracing.Tracer):
        def _wrap(self, owner, attr, span_name):
            wrapped.append((owner, attr))

    Recorder().install()
    assert wrapped
    missing = [
        (getattr(owner, "__name__", owner), attr)
        for owner, attr in wrapped
        if not (attr in owner.__dict__ if isinstance(owner, type) else hasattr(owner, attr))
    ]
    assert missing == []
