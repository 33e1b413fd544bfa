"""On-disk layout of the parquet store and its registry: the JSON
registry snapshots and their failure paths, the one-file-per-graph
layout, and reading then upgrading stores written in the earlier
parquet layouts (a registry as a bare parquet dir or as a pointer to a
parquet snapshot dir; graphs as directories of Spark part files)."""

import datetime as dt
import json
import os

import pytest

from py_sema_spark.model import GraphRegistry
from py_sema_spark.store import GRAPH_FILE, ParquetTripleStore

EX = "http://t.ex/"
TRIPLE_DDL = (
    "s string, p string, o string, o_kind string, "
    "o_datatype string, o_lang string"
)
LASTMODS = {
    "urn:sync:a": dt.datetime(2024, 1, 1, 12, 0, 0, 123456),
    "urn:sync:b": dt.datetime(2025, 6, 30, 23, 59, 59, 999999),
    "urn:sync:c%20d": dt.datetime(2026, 2, 3, 4, 5, 6, 7),
}


def _pointer_target(path: str) -> str:
    with open(path + "_CURRENT") as fh:
        return os.path.join(path + "_versions", fh.read().strip())


class TestRegistrySnapshots:
    def test_commit_writes_json_with_microseconds(self, spark, tmp_path):
        path = str(tmp_path / "_registry")
        reg = GraphRegistry(spark, path)
        reg._commit(dict(LASTMODS))
        snap = _pointer_target(path)
        assert snap.endswith(".json")
        with open(snap) as fh:
            doc = json.load(fh)
        assert doc["urn:sync:c%20d"] == "2026-02-03T04:05:06.000007"
        assert GraphRegistry(spark, path).snapshot() == LASTMODS
        rows = {r["graph"]: r["lastmod"] for r in reg.load().collect()}
        assert rows == LASTMODS

    def test_touch_drop_keep_other_lastmods(self, spark, tmp_path):
        reg = GraphRegistry(spark, str(tmp_path / "_registry"))
        reg._commit(dict(LASTMODS))
        before = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        reg.touch(["urn:sync:b", "urn:sync:new"])
        snap = reg.snapshot()
        assert snap["urn:sync:a"] == LASTMODS["urn:sync:a"]
        assert snap["urn:sync:b"] == snap["urn:sync:new"] >= before
        reg.drop("urn:sync:a")
        reg.drop("urn:sync:never-there")
        assert sorted(reg.named_graphs()) == [
            "urn:sync:b", "urn:sync:c%20d", "urn:sync:new"
        ]
        assert reg.lastmod_ts("urn:sync:a") is None

    def test_pointer_to_missing_snapshot_raises(self, spark, tmp_path):
        path = str(tmp_path / "_registry")
        reg = GraphRegistry(spark, path)
        reg.touch(["urn:sync:a", "urn:sync:b"])
        os.remove(_pointer_target(path))
        with pytest.raises(FileNotFoundError, match="missing snapshot"):
            reg.named_graphs()
        # a touch must not commit a registry holding only its own graph
        with pytest.raises(FileNotFoundError):
            reg.touch(["urn:sync:c"])
        with pytest.raises(FileNotFoundError):
            reg.lastmod_ts("urn:sync:a")

    def test_truncated_snapshot_raises(self, spark, tmp_path):
        path = str(tmp_path / "_registry")
        reg = GraphRegistry(spark, path)
        reg.touch(["urn:sync:a", "urn:sync:b"])
        snap = _pointer_target(path)
        with open(snap) as fh:
            text = fh.read()
        with open(snap, "w") as fh:
            fh.write(text[: len(text) // 2])
        with pytest.raises(ValueError, match="corrupt registry snapshot"):
            reg.snapshot()
        with pytest.raises(ValueError):
            reg.drop("urn:sync:a")

    def test_empty_pointer_raises(self, spark, tmp_path):
        path = str(tmp_path / "_registry")
        reg = GraphRegistry(spark, path)
        reg.touch(["urn:sync:a"])
        open(path + "_CURRENT", "w").close()
        with pytest.raises(ValueError, match="empty"):
            reg.named_graphs()


class TestRegistryMigration:
    def _legacy_rows(self, spark):
        return spark.createDataFrame(
            list(LASTMODS.items()), GraphRegistry.SCHEMA
        ).coalesce(1)

    def _check_upgrade(self, spark, path, legacy_dir):
        reg = GraphRegistry(spark, path)
        assert reg.snapshot() == LASTMODS
        assert reg.lastmod_ts("urn:sync:b") == LASTMODS["urn:sync:b"]
        reg.touch(["urn:sync:new"])
        assert _pointer_target(path).endswith(".json")
        assert not os.path.exists(legacy_dir)
        assert os.listdir(path + "_versions") == [
            os.path.basename(_pointer_target(path))
        ]
        snap = GraphRegistry(spark, path).snapshot()
        assert {g: snap[g] for g in LASTMODS} == LASTMODS

    def test_bare_parquet_dir(self, spark, tmp_path):
        path = str(tmp_path / "_registry")
        self._legacy_rows(spark).write.parquet(path)
        self._check_upgrade(spark, path, path)

    def test_pointer_to_parquet_snapshot_dir(self, spark, tmp_path):
        path = str(tmp_path / "_registry")
        name = "0123456789abcdef0123456789abcdef"
        legacy_dir = os.path.join(path + "_versions", name)
        self._legacy_rows(spark).write.parquet(legacy_dir)
        with open(path + "_CURRENT", "w") as fh:
            fh.write(name)
        self._check_upgrade(spark, path, legacy_dir)

    def test_pointer_to_missing_parquet_snapshot_raises(self, spark, tmp_path):
        path = str(tmp_path / "_registry")
        with open(path + "_CURRENT", "w") as fh:
            fh.write("0123456789abcdef0123456789abcdef")
        with pytest.raises(Exception):
            GraphRegistry(spark, path).named_graphs()


class TestGraphLayout:
    def _frame(self, spark, rows):
        return spark.createDataFrame(rows, TRIPLE_DDL)

    def _row(self, i, o="v"):
        return (f"{EX}s{i}", f"{EX}p", f"{o}{i}", "literal", None, None)

    def test_one_file_per_graph_and_set_semantics(self, spark, tmp_path):
        store = ParquetTripleStore(spark, str(tmp_path / "store"))
        rows = [self._row(i) for i in range(3)]
        store.insert_for_key(self._frame(spark, rows + rows[:1]), "k")
        store.insert_for_key(self._frame(spark, rows[1:] + [self._row(9)]), "k")
        gdir = store._graph_dir("k")
        assert os.listdir(gdir) == [GRAPH_FILE]
        assert os.listdir(tmp_path / "store" / "_stage") == []
        got = sorted(tuple(r) for r in store.graph_for_key("k").collect())
        assert got == sorted(rows + [self._row(9)])

    def test_legacy_part_files_read_then_replaced(self, spark, tmp_path):
        """A graph dir of Spark part files (the earlier layout) reads as
        before; the next insert merges it into ``graph.parquet`` and
        deletes the part files."""
        store = ParquetTripleStore(spark, str(tmp_path / "store"))
        old = [self._row(i) for i in range(6)]
        gdir = store._graph_dir("k")
        self._frame(spark, old).repartition(3).write.parquet(str(gdir))
        store.registry.touch([store.mapper.key_to_ng("k")])
        assert sorted(tuple(r) for r in store.graph_for_key("k").collect()) == old
        store.insert_for_key(self._frame(spark, [self._row(7)]), "k")
        assert os.listdir(gdir) == [GRAPH_FILE]
        got = sorted(tuple(r) for r in store.graph_for_key("k").collect())
        assert got == sorted(old + [self._row(7)])

    def test_unregistered_leftovers_are_replaced_not_merged(self, spark, tmp_path):
        """Files of a key the registry does not list (left by forget, or
        by a drop cut short) do not leak into the next insert."""
        store = ParquetTripleStore(spark, str(tmp_path / "store"))
        store.insert_for_key(self._frame(spark, [self._row(1, "old")]), "k")
        store.forget_graph_for_key("k")
        assert store.graph_for_key("k").count() == 1
        store.insert_for_key(self._frame(spark, [self._row(2)]), "k")
        assert [tuple(r) for r in store.graph_for_key("k").collect()] == [
            self._row(2)
        ]
        ng = store.mapper.key_to_ng("k")
        store.forget_graph_for_key("k")
        store.update(f'INSERT DATA {{ <{EX}n> <{EX}p> "n" }}', named_graph=ng)
        assert [r["o"] for r in store.graph_for_key("k").collect()] == ["n"]
