"""Kill-mid-write tests for the parquet store and its registry.

A child process runs store writes and SIGKILLs itself at one injected
point; the parent then reopens the store. Every graph the registry
lists must hold exactly its old or its new triple set, and re-running
the interrupted work must converge.

Most children drive the store's driver-side write path without a JVM:
``LocalSpark``/``LocalFrame`` stand in for the few SparkSession and
DataFrame calls that path makes, over the same Arrow tables, so a kill
costs a Python start rather than a Spark start. The points, each hit at
every occurrence in turn:

- ``staged``: after a staged graph file is written;
- ``before_replace`` / ``after_replace``: around every ``os.replace``
  (graph files and registry pointers);
- ``before_touch``: between a graph write and its registry touch;
- ``mid_snapshot``: inside a registry commit, its JSON snapshot
  half-written;
- ``before_rmtree``: between a drop's unregistering and its file delete.

One more child runs a real Spark session and a public scoped
``store.update``, killed at the first change to the graph's directory.
A delete-then-write overwrite leaves the graph empty at that point.

Run as a script, this module is the child:
``python test_store_kill.py POINT NTH PLAN STORE_DIR DUMPS``.
"""

import json
import os
import shutil
import signal
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path
from urllib.parse import quote

import pytest

REPO = Path(__file__).resolve().parents[1]
EX = "http://t.ex/"
POINTS = (
    "staged",
    "before_replace",
    "after_replace",
    "before_touch",
    "mid_snapshot",
    "before_rmtree",
)


def _ttl(key: str, version: int, n: int = 3) -> str:
    lines = [f"@prefix ex: <{EX}> ."]
    lines += [f'ex:{key}{i} ex:p "{key} v{version} {i}" .' for i in range(n)]
    return "\n".join(lines) + "\n"


D1 = {"a.ttl": _ttl("a", 1), "b.ttl": _ttl("b", 1), "c.ttl": _ttl("c", 1)}
D2 = {"a.ttl": _ttl("a", 2, 4), "b.ttl": D1["b.ttl"], "d.ttl": _ttl("d", 1)}
EXTRA_B = (f"{EX}b9", f"{EX}p", "extra", "literal", None, None)
NOTE_A = (f"{EX}a", f"{EX}note", "n1", "literal", None, None)
NOTE_UPDATE = f'INSERT DATA {{ <{EX}a> <{EX}note> "n1" }}'


def _triples(text: str) -> frozenset:
    from py_sema_spark.rdf.parse import parse_rdf_auto

    got, _ = parse_rdf_auto(text, base="file:///dumps/")
    return frozenset(
        (t.s.value, t.p.value, t.o.value, t.o.kind, t.o.datatype, t.o.lang)
        for t in got
    )


# ---- the child ----


class LocalFrame:
    """The DataFrame calls of the store's write path, over Arrow."""

    def __init__(self, table):
        self.table = table

    def select(self, *cols):
        return LocalFrame(self.table.select(list(cols)))

    def collect(self):
        return list(zip(*(c.to_pylist() for c in self.table.columns)))


class _LocalReader:
    def schema(self, _schema):
        return self

    def parquet(self, *paths):
        import pyarrow as pa
        import pyarrow.parquet as pq

        return LocalFrame(pa.concat_tables([pq.read_table(p) for p in paths]))


class LocalSpark:
    read = _LocalReader()

    def createDataFrame(self, table, schema=None):
        return LocalFrame(table)


def _insert_note(base, update, default_graph=None, dedup=True):
    """``apply_update`` of NOTE_UPDATE, over a LocalFrame."""
    import pyarrow as pa

    from py_sema_spark.model import TRIPLE_ARROW_SCHEMA, triples_table

    return LocalFrame(
        pa.concat_tables(
            [base.table.cast(TRIPLE_ARROW_SCHEMA), triples_table([NOTE_A])]
        )
    )


def run_plan(plan: str, spark, store, dumps: str) -> None:
    """``sync``: one perform_sync (update a, skip b, remove c, add d).
    ``writes``: an insert into b, a scoped update of a, a drop of d."""
    from py_sema_spark.model import triples_frame
    from py_sema_spark.syncfs import perform_sync

    if plan == "sync":
        perform_sync(spark, dumps, store)
        return
    store.insert_for_key(triples_frame(spark, [EXTRA_B]), "b.ttl")
    store.update(NOTE_UPDATE, named_graph=store.mapper.key_to_ng("a.ttl"))
    store.drop_graph_for_key("d.ttl")


def _install_kill(point: str, nth: int) -> dict:
    """Count every kill point; SIGKILL this process at the nth ``point``."""
    import pyarrow.parquet as pq

    from py_sema_spark import model

    hits: dict = {}

    def hit(p):
        hits[p] = hits.get(p, 0) + 1
        if p == point and hits[p] == nth:
            os.kill(os.getpid(), signal.SIGKILL)

    real_replace, real_write = os.replace, pq.write_table
    real_touch, real_durable = model.GraphRegistry.touch, model.write_durable
    real_rmtree = shutil.rmtree

    def replace(src, dst):
        hit("before_replace")
        real_replace(src, dst)
        hit("after_replace")

    def write_table(*args, **kwargs):
        real_write(*args, **kwargs)
        hit("staged")

    def touch(self, graphs):
        hit("before_touch")
        real_touch(self, graphs)

    def write_durable(path, data):
        if os.path.dirname(path).endswith("_versions"):
            if point == "mid_snapshot" and hits.get(point, 0) + 1 == nth:
                with open(path, "w", encoding="utf-8") as fh:
                    fh.write(data[: len(data) // 2])
            hit("mid_snapshot")
        real_durable(path, data)

    def rmtree(path, *args, **kwargs):
        if os.path.basename(str(path)).startswith("g="):
            hit("before_rmtree")
        real_rmtree(path, *args, **kwargs)

    os.replace, pq.write_table, shutil.rmtree = replace, write_table, rmtree
    model.GraphRegistry.touch, model.write_durable = touch, write_durable
    return hits


def _child_main(point, nth, plan, store_dir, dumps) -> None:
    from py_sema_spark.queries import update
    from py_sema_spark.store import ParquetTripleStore

    hits = _install_kill(point, int(nth))
    update.apply_update = _insert_note
    spark = LocalSpark()
    run_plan(plan, spark, ParquetTripleStore(spark, store_dir), dumps)
    print(json.dumps(hits))


# ---- the parent ----


def _env() -> dict:
    path = [str(REPO)] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    return dict(os.environ, PYTHONPATH=os.pathsep.join(path))


def _run_child(args) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, __file__, *map(str, args)],
        env=_env(), capture_output=True, text=True, timeout=300,
    )


def _write_dumps(root: Path, files: dict, mtime: float) -> str:
    root.mkdir()
    for name, text in files.items():
        (root / name).write_text(text)
        os.utime(root / name, (mtime, mtime))
    return str(root)


@pytest.fixture(scope="module")
def kill_base(spark, tmp_path_factory):
    """A store synced from D1 (``s1``) and one synced on to D2 (``s2``);
    in D2, a.ttl is newer than any lastmod the tests write."""
    from py_sema_spark.store import ParquetTripleStore
    from py_sema_spark.syncfs import perform_sync

    root = tmp_path_factory.mktemp("kill_base")
    now = time.time()
    d1 = _write_dumps(root / "d1", D1, now - 7200)
    d2 = _write_dumps(root / "d2", D2, now - 7200)
    os.utime(Path(d2) / "a.ttl", (now + 3600, now + 3600))
    perform_sync(spark, d1, ParquetTripleStore(spark, str(root / "s1")))
    shutil.copytree(root / "s1", root / "s2")
    perform_sync(spark, d2, ParquetTripleStore(spark, str(root / "s2")))
    return {"root": root, "d2": d2}


def _kill_runs(base: dict, plan: str, start: str, tmp: Path):
    """Every (point, occurrence) of ``plan`` on a copy of ``start``:
    [(point, nth, store_dir, completed child)]."""
    count_dir = tmp / "count"
    shutil.copytree(base["root"] / start, count_dir)
    done = _run_child(["count", 0, plan, count_dir, base["d2"]])
    assert done.returncode == 0, done.stderr
    hits = json.loads(done.stdout.strip().splitlines()[-1])
    assert set(hits) == set(POINTS), hits
    cases = []
    for point in POINTS:
        for nth in range(1, hits[point] + 1):
            d = tmp / f"{point}-{nth}"
            shutil.copytree(base["root"] / start, d)
            cases.append((point, nth, d))
    with ThreadPoolExecutor(max_workers=4) as pool:
        procs = list(
            pool.map(
                lambda c: _run_child([c[0], c[1], plan, c[2], base["d2"]]), cases
            )
        )
    return [(p, n, d, proc) for (p, n, d), proc in zip(cases, procs)]


def _graphs(store) -> dict:
    """Registered graphs as triple sets, read on the driver."""
    return {k: frozenset(store._read_rows(k)) for k in store.keys}


def _spark_graphs(store) -> dict:
    out: dict = {}
    for r in store.all_triples().collect():
        key = store.mapper.ng_to_key(r["g"])
        out.setdefault(key, set()).add(tuple(r)[:6])
    return {k: frozenset(v) for k, v in out.items()}


class TestKillMidWrite:
    def test_kill_mid_sync(self, spark, kill_base, tmp_path):
        from py_sema_spark.store import ParquetTripleStore
        from py_sema_spark.syncfs import perform_sync

        old = {k: _triples(t) for k, t in D1.items()}
        new = {k: _triples(t) for k, t in D2.items()}
        runs = _kill_runs(kill_base, "sync", "s1", tmp_path)
        assert len(runs) >= 14
        for point, nth, d, proc in runs:
            where = (point, nth, proc.stderr[-500:])
            assert proc.returncode == -signal.SIGKILL, where
            store = ParquetTripleStore(spark, str(d))
            graphs = _graphs(store)
            assert "b.ttl" in graphs, where
            for key, triples in graphs.items():
                assert triples in (old.get(key), new.get(key)), (key, where)
            rep = perform_sync(spark, kill_base["d2"], store)
            assert "b.ttl" in rep["skipped"], where
            assert _spark_graphs(store) == new, where

    def test_kill_mid_insert_update_drop(self, spark, kill_base, tmp_path):
        from py_sema_spark.store import ParquetTripleStore

        a, b, d = (_triples(D2[k]) for k in ("a.ttl", "b.ttl", "d.ttl"))
        allowed = {
            "a.ttl": (a, a | {NOTE_A}),
            "b.ttl": (b, b | {EXTRA_B}),
            "d.ttl": (d,),
        }
        runs = _kill_runs(kill_base, "writes", "s2", tmp_path)
        assert len(runs) >= 14
        for point, nth, dr, proc in runs:
            where = (point, nth, proc.stderr[-500:])
            assert proc.returncode == -signal.SIGKILL, where
            store = ParquetTripleStore(spark, str(dr))
            graphs = _graphs(store)
            assert {"a.ttl", "b.ttl"} <= set(graphs), where
            for key, triples in graphs.items():
                assert triples in allowed[key], (key, where)
            run_plan("writes", spark, store, kill_base["d2"])
            assert _spark_graphs(store) == {
                "a.ttl": a | {NOTE_A}, "b.ttl": b | {EXTRA_B}
            }, where


SPARK_CHILD = r"""
import os, signal, sys, threading, time
from py_sema_spark.session import build_session
from py_sema_spark.store import ParquetTripleStore

store_dir, gdir, ng, update = sys.argv[1:5]


def listing():
    try:
        return {(e.name, e.inode()) for e in os.scandir(gdir)}
    except FileNotFoundError:
        return None


def watch(first):
    while listing() == first:
        time.sleep(0.0002)
    os.kill(os.getpid(), signal.SIGKILL)


spark = build_session(app_name="kill-child", master="local[1]", shuffle_partitions=1)
store = ParquetTripleStore(spark, store_dir)
threading.Thread(target=watch, args=(listing(),), daemon=True).start()
store.update(update, named_graph=ng)
time.sleep(1.0)
"""


def test_kill_during_graph_overwrite_keeps_old_or_new(spark, tmp_path):
    """A scoped ``store.update`` in a Spark child, killed at the first
    change to the graph's directory; the graph stays old or new."""
    from py_sema_spark.store import ParquetTripleStore

    store_dir = str(tmp_path / "store")
    store = ParquetTripleStore(spark, store_dir)
    old = [(f"{EX}a{i}", f"{EX}p", f"v{i}", "literal", None, None) for i in range(5)]
    schema = (
        "s string, p string, o string, o_kind string, "
        "o_datatype string, o_lang string"
    )
    store.insert_for_key(spark.createDataFrame(old, schema), "a.ttl")
    ng = store.mapper.key_to_ng("a.ttl")
    gdir = os.path.join(store_dir, "g=" + quote("a.ttl", safe=""))
    proc = subprocess.run(
        [sys.executable, "-c", SPARK_CHILD, store_dir, gdir, ng, NOTE_UPDATE],
        env=_env(), capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == -signal.SIGKILL, proc.stderr[-2000:]
    store = ParquetTripleStore(spark, store_dir)
    assert store.keys == ["a.ttl"]
    got = {tuple(r) for r in store.graph_for_key("a.ttl").collect()}
    assert got in (set(old), set(old) | {NOTE_A})
    store.update(NOTE_UPDATE, named_graph=ng)
    got = {tuple(r) for r in store.graph_for_key("a.ttl").collect()}
    assert got == set(old) | {NOTE_A}


if __name__ == "__main__":
    _child_main(*sys.argv[1:])
