"""GraphSource / QueryResult facade parity
(/root/reference/sema/query/query.py:24-345 — build from dump files,
query with SPARQL, convert driver-side)."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from py_sema_spark.queries.source import (
    DataFrameGraphSource,
    FileGraphSource,
    GraphSource,
    QueryResult,
)

EX = "http://example.org/"
TTL_A = f"""@prefix ex: <{EX}> .
ex:a ex:label "Alpha" ; ex:next ex:b .
"""
TTL_B = f"""@prefix ex: <{EX}> .
ex:b ex:label "Beta" .
ex:a ex:label "Alpha" .
"""


@pytest.fixture(scope="module")
def dumps(tmp_path_factory):
    d = tmp_path_factory.mktemp("dumps")
    (d / "a.ttl").write_text(TTL_A)
    (d / "b.ttl").write_text(TTL_B)
    return str(d)


class TestGraphSource:
    def test_build_and_query(self, spark, dumps):
        src = GraphSource.build(
            os.path.join(dumps, "a.ttl"),
            os.path.join(dumps, "b.ttl"),
            spark=spark,
            prefixes={"ex": EX},
        )
        assert isinstance(src, FileGraphSource)
        res = src.query("SELECT ?s ?p ?o WHERE { ?s ?p ?o . }")
        # duplicate ex:a label across files dedups to 3 triples
        assert len(res) == 3
        assert sorted(res.columns) == ["o", "p", "s"]

    def test_conversions(self, spark, dumps):
        src = GraphSource.build(
            os.path.join(dumps, "a.ttl"), spark=spark, prefixes={"ex": EX}
        )
        res = src.query(
            "SELECT ?s ?l WHERE { ?s ex:label ?l . } ORDER BY ?s"
        )
        assert isinstance(res, QueryResult)
        recs = res.to_list()
        assert recs == [{"s": EX + "a", "l": "Alpha"}]
        assert res.to_dict() == {"s": [EX + "a"], "l": ["Alpha"]}
        df = res.to_dataframe()
        assert isinstance(df, pd.DataFrame) and df.shape == (1, 2)

    def test_as_csv(self, spark, dumps, tmp_path):
        src = GraphSource.build(
            os.path.join(dumps, "b.ttl"), spark=spark, prefixes={"ex": EX}
        )
        out = tmp_path / "res.csv"
        src.query(
            "SELECT ?s ?l WHERE { ?s ex:label ?l . } ORDER BY ?s"
        ).as_csv(str(out))
        lines = out.read_text().strip().splitlines()
        assert lines[0] == "s,l" and len(lines) == 3

    def test_cli_query_from_source_files(self, spark, dumps, tmp_path, capsys):
        from py_sema_spark.cli import main

        out = tmp_path / "res.csv"
        rc = main(
            [
                "query",
                "--source",
                os.path.join(dumps, "a.ttl"),
                os.path.join(dumps, "b.ttl"),
                "--sparql",
                "SELECT ?s ?l WHERE { ?s <" + EX + "label> ?l . } ORDER BY ?s",
                "--out",
                str(out),
            ]
        )
        assert rc == 0
        import glob as _glob

        text = "".join(
            open(p).read() for p in _glob.glob(str(out) + "/part-*")
        )
        assert "Alpha" in text and "Beta" in text

    def test_endpoint_dispatch(self, spark):
        """build routes an http(s) URL to the endpoint-backed source
        (reference SPARQLGraphSource, query.py:324-343) — exercised
        end-to-end through the in-process stub endpoint."""
        from py_sema_spark.endpoint_store import InProcessSparqlEndpoint
        from py_sema_spark.queries.source import SparqlEndpointGraphSource

        ep = InProcessSparqlEndpoint(spark)
        ep._do_update(
            'INSERT DATA { <urn:a> <urn:p> "hello" . '
            "<urn:a> <urn:q> <urn:b> . }"
        )
        src = GraphSource.build(
            "http://stub.local/sparql", spark=spark, transport=ep
        )
        assert isinstance(src, SparqlEndpointGraphSource)
        res = src.query("SELECT ?s ?o WHERE { ?s <urn:p> ?o }")
        assert len(res) == 1
        assert res.columns == ["s", "o"]
        assert res.to_list() == [{"s": "urn:a", "o": "hello"}]

    def test_endpoint_mixing_and_arity_refused(self):
        with pytest.raises(TypeError, match="mix"):
            GraphSource.build(
                "https://sparql.example.org/sparql", "dump.ttl"
            )
        with pytest.raises(TypeError, match="exactly one"):
            GraphSource.build(
                "https://a.example.org/sparql",
                "https://b.example.org/sparql",
            )

    def test_store_select_and_forget(self, spark, tmp_path):
        from py_sema_spark.store import ParquetTripleStore

        store = ParquetTripleStore(spark, str(tmp_path / "store"))
        t1 = spark.createDataFrame(
            [("urn:a", EX + "p", "1", "literal", None, None)],
            "s string, p string, o string, o_kind string, "
            "o_datatype string, o_lang string",
        )
        t2 = spark.createDataFrame(
            [("urn:b", EX + "p", "2", "literal", None, None)],
            "s string, p string, o string, o_kind string, "
            "o_datatype string, o_lang string",
        )
        store.insert_for_key(t1, "k1")
        store.insert_for_key(t2, "k2")
        # union-scoped select with a GRAPH var
        res = store.select(
            "SELECT ?g ?o WHERE { GRAPH ?g { ?s <"
            + EX
            + "p> ?o . } } ORDER BY ?o"
        )
        assert [r["o"] for r in res.to_list()] == ["1", "2"]
        # named-graph-scoped select
        ng = store.mapper.key_to_ng("k1")
        res = store.select("SELECT ?o WHERE { ?s ?p ?o . }", named_graph=ng)
        assert res.to_list() == [{"o": "1"}]
        # forget: registry drops the key, triples stay on disk
        store.forget_graph_for_key("k1")
        assert store.keys == ["k2"]
        assert store.graph_for_key("k1").count() == 1

    def test_dataframe_source_with_graph_block(self, spark):
        rows = [
            ("urn:x", EX + "p", "1", "literal", None, None, "urn:g:1"),
            ("urn:y", EX + "p", "2", "literal", None, None, "urn:g:2"),
        ]
        quads = spark.createDataFrame(
            rows,
            "s string, p string, o string, o_kind string, "
            "o_datatype string, o_lang string, g string",
        )
        res = DataFrameGraphSource(quads, {"ex": EX}).query(
            "SELECT ?g ?o WHERE { GRAPH ?g { ?s ex:p ?o . } } ORDER BY ?g"
        )
        assert res.to_list() == [
            {"g": "urn:g:1", "o": "1"},
            {"g": "urn:g:2", "o": "2"},
        ]

    def test_build_dispatches_dataframes(self, spark):
        # build() type-dispatches like the reference: a triples
        # DataFrame routes to DataFrameGraphSource (MemoryGraphSource
        # analog) instead of falling into the file-glob path
        rows = [
            ("urn:x", EX + "label", "Ix", "literal", None, None),
            ("urn:y", EX + "label", "Yps", "literal", None, None),
        ]
        schema = (
            "s string, p string, o string, o_kind string, "
            "o_datatype string, o_lang string"
        )
        t1 = spark.createDataFrame(rows[:1], schema)
        t2 = spark.createDataFrame(rows, schema)  # overlaps t1
        src = GraphSource.build(t1, t2, prefixes={"ex": EX})
        assert isinstance(src, DataFrameGraphSource)
        res = src.query("SELECT ?s ?o WHERE { ?s ex:label ?o . }")
        # union of the two frames, duplicates collapsed
        assert sorted(r["s"] for r in res.to_list()) == ["urn:x", "urn:y"]

    def test_build_rejects_unsupported_source_types(self, spark, dumps):
        with pytest.raises(TypeError, match="int"):
            GraphSource.build(42)
        with pytest.raises(TypeError):
            GraphSource.build(
                os.path.join(dumps, "a.ttl"),
                spark.createDataFrame([("s", "p")], "s string, p string"),
            )


def test_store_update(spark, tmp_path):
    from py_sema_spark.store import ParquetTripleStore

    store = ParquetTripleStore(spark, str(tmp_path / "ustore"))
    schema = (
        "s string, p string, o string, o_kind string, "
        "o_datatype string, o_lang string"
    )
    store.insert_for_key(
        spark.createDataFrame(
            [("urn:a", EX + "status", "old", "literal", None, None)], schema
        ),
        "k1",
    )
    store.insert_for_key(
        spark.createDataFrame(
            [("urn:b", EX + "status", "old", "literal", None, None)], schema
        ),
        "k2",
    )

    # scoped update touches only its graph
    ng1 = store.mapper.key_to_ng("k1")
    store.update(
        f'DELETE {{ ?s <{EX}status> "old" }} '
        f'INSERT {{ ?s <{EX}status> "new" }} '
        f'WHERE {{ ?s <{EX}status> "old" }}',
        named_graph=ng1,
    )
    assert [r["o"] for r in store.select(
        "SELECT ?o WHERE { ?s ?p ?o . }", named_graph=ng1
    ).to_list()] == ["new"]
    ng2 = store.mapper.key_to_ng("k2")
    assert [r["o"] for r in store.select(
        "SELECT ?o WHERE { ?s ?p ?o . }", named_graph=ng2
    ).to_list()] == ["old"]

    # unscoped update: WHERE sees every graph; graph-less inserts land
    # in the store's default graph (SPARQL default-graph semantics)
    store.update(
        f'INSERT {{ ?s <{EX}seen> "y" }} WHERE {{ ?s <{EX}status> ?v }}'
    )
    res = store.select(
        f"SELECT ?g ?s WHERE {{ GRAPH ?g {{ ?s <{EX}seen> ?v . }} }}"
    ).to_list()
    ng_default = store.mapper.key_to_ng("default")
    assert {(r["g"], r["s"]) for r in res} == {
        (ng_default, "urn:a"), (ng_default, "urn:b"),
    }
    # unscoped DELETE WHERE reaches into the named graphs
    store.update(f'DELETE WHERE {{ ?s <{EX}status> "old" }}')
    assert store.select(
        "SELECT ?o WHERE { ?s <" + EX + "status> ?o . }", named_graph=ng2
    ).to_list() == []


class TestStoreUpdateReviewRegressions:
    """Round-3 review fixes: change-scoped rewrites/touch, foreign
    graph targets fail cleanly and atomically, tz-aware ages."""

    SCHEMA = (
        "s string, p string, o string, o_kind string, "
        "o_datatype string, o_lang string"
    )

    def _store(self, spark, tmp_path):
        from py_sema_spark.store import ParquetTripleStore

        store = ParquetTripleStore(spark, str(tmp_path / "rstore"))
        store.insert_for_key(
            spark.createDataFrame(
                [("urn:a", EX + "status", "old", "literal", None, None)],
                self.SCHEMA,
            ),
            "k1",
        )
        store.insert_for_key(
            spark.createDataFrame(
                [("urn:b", EX + "status", "old", "literal", None, None)],
                self.SCHEMA,
            ),
            "k2",
        )
        return store

    def test_unscoped_update_touches_only_changed_graphs(
        self, spark, tmp_path
    ):
        import time

        store = self._store(spark, tmp_path)
        ng1 = store.mapper.key_to_ng("k1")
        ng2 = store.mapper.key_to_ng("k2")
        ts2_before = store.registry.lastmod_ts(ng2)
        time.sleep(0.05)
        store.update(
            f'INSERT DATA {{ GRAPH <{ng1}> '
            f'{{ <urn:a> <{EX}extra> "x" }} }}'
        )
        assert store.registry.lastmod_ts(ng1) > ts2_before
        # k2's content did not change: its lastmod must not move, or
        # the age-based re-harvest decision sees stale data as fresh
        assert store.registry.lastmod_ts(ng2) == ts2_before

    def test_foreign_graph_target_fails_before_any_write(
        self, spark, tmp_path
    ):
        store = self._store(spark, tmp_path)
        ng1 = store.mapper.key_to_ng("k1")
        with pytest.raises(ValueError, match="outside this store's base"):
            store.update(
                f'INSERT DATA {{ GRAPH <{ng1}> {{ <urn:a> <{EX}x> "1" }} '
                f'GRAPH <http://elsewhere/g> {{ <urn:z> <{EX}x> "2" }} }}'
            )
        # atomic: the valid part of the rejected update did NOT land
        assert store.graph_for_key("k1").count() == 1

    def test_verify_max_age_accepts_aware_datetimes(self, spark, tmp_path):
        import datetime as dt

        store = self._store(spark, tmp_path)
        past = dt.datetime.now(dt.timezone.utc) - dt.timedelta(hours=1)
        future = dt.datetime.now(dt.timezone.utc) + dt.timedelta(hours=1)
        assert store.verify_max_age_of_key("k1", past) is True
        assert store.verify_max_age_of_key("k1", future) is False
        # epoch-seconds form still works
        assert store.verify_max_age_of_key(
            "k1", past.timestamp()) is True


class TestStoreRound3Regressions:
    TS = ("s string, p string, o string, o_kind string, "
          "o_datatype string, o_lang string")

    def _t(self, spark, s, o):
        return spark.createDataFrame(
            [(s, EX + "p", o, "literal", None, None)], self.TS
        )

    def test_tmp_suffixed_sibling_key_not_clobbered(self, spark, tmp_path):
        """The old staging path str(gdir)+'.tmp' was exactly the graph
        dir of key '<key>.tmp' — inserting 'a' overwrote and then
        DELETED graph 'a.tmp'."""
        from py_sema_spark.store import ParquetTripleStore

        store = ParquetTripleStore(spark, str(tmp_path / "store"))
        store.insert_for_key(self._t(spark, "urn:x", "1"), "a.tmp")
        store.insert_for_key(self._t(spark, "urn:y", "2"), "a")
        assert store.graph_for_key("a.tmp").count() == 1
        assert store.graph_for_key("a").count() == 1
        assert sorted(store.keys) == ["a", "a.tmp"]

    def test_registry_versioned_commit_and_aware_time(self, spark, tmp_path):
        """Registry commits swing an atomic pointer file (no delete-
        then-write window where load() sees empty); verify_max_age
        normalizes timezone-aware reference times."""
        import datetime as dt
        import os

        from py_sema_spark.model import GraphRegistry

        reg = GraphRegistry(spark, str(tmp_path / "_registry"))
        reg.touch(["urn:g1"])
        reg.touch(["urn:g2"])
        assert sorted(reg.named_graphs()) == ["urn:g1", "urn:g2"]
        assert os.path.exists(str(tmp_path / "_registry") + "_CURRENT")
        # exactly one live snapshot remains after each commit
        vdir = str(tmp_path / "_registry") + "_versions"
        assert len(os.listdir(vdir)) == 1
        reg.drop("urn:g1")
        assert reg.named_graphs() == ["urn:g2"]
        aware = dt.datetime.now(dt.timezone.utc)
        assert reg.verify_max_age("urn:g2", 60, reference_time=aware)

    def test_registry_legacy_layout_migrates(self, spark, tmp_path):
        """A pre-pointer registry (parquet at the bare path) is read
        on first load and upgraded on the next commit."""
        from py_sema_spark.model import GraphRegistry

        path = str(tmp_path / "_registry")
        import datetime as dt

        legacy = spark.createDataFrame(
            [("urn:old", dt.datetime(2024, 1, 1))],
            GraphRegistry.SCHEMA,
        )
        legacy.coalesce(1).write.parquet(path)
        reg = GraphRegistry(spark, path)
        assert reg.named_graphs() == ["urn:old"]
        reg.touch(["urn:new"])
        assert sorted(reg.named_graphs()) == ["urn:new", "urn:old"]

    def test_skolemize_delimiter_injection(self, spark):
        """('http://x/a|b', '_:c') and ('http://x/a', 'b|_:c') must
        mint DIFFERENT skolem IRIs."""
        from py_sema_spark.model import skolemize

        df = spark.createDataFrame(
            [
                ("_:c", EX + "p", "v", "literal", None, None, "http://x/a|b"),
                ("b|_:c", EX + "p", "v", "literal", None, None, "http://x/a"),
            ],
            self.TS + ", src_url string",
        )
        # only true bnode labels are rewritten; craft both as bnodes
        df = df.withColumn("s", F.concat(F.lit("_:"), F.col("s")))
        out = [r.s for r in skolemize(df).collect()]
        assert out[0] != out[1]
