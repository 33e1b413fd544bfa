"""Spark-level operator tests: closure, components, linkage, sameAs
fusion, heavy hitters, window ctrl columns, sparqlets, pipeline resume,
URL canonicalization and URL dedup.
One shared session (conftest)."""

import pytest
from pyspark.sql import functions as F

from py_sema_spark.operators.closure import (
    connected_components,
    transitive_closure,
)
from py_sema_spark.operators.linkage import (
    canonical_map,
    detect_mentions,
    rewrite_triples,
)
from py_sema_spark.queries import (
    rdf_predicates_count,
    skos_broader_depth,
    skos_collection_member_count,
)


@pytest.fixture(scope="module")
def chain_edges(spark):
    # a → b → c → d plus e → c
    return spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("e", "c")], ["src", "dst"]
    )


class TestClosure:
    def test_transitive_closure_pairs(self, chain_edges):
        rows = {
            (r["src"], r["dst"]): r["dist"]
            for r in transitive_closure(chain_edges).collect()
        }
        assert rows[("a", "b")] == 1
        assert rows[("a", "c")] == 2
        assert rows[("a", "d")] == 3
        assert rows[("e", "d")] == 2
        assert ("b", "a") not in rows
        assert len(rows) == 8

    def test_rdf_list_flatten(self, spark):
        """Two cons chains (one holding a literal, one single-cell);
        positions follow the rest-hops, only proper heads emit rows,
        and a shared tail cell flattens under its head once."""
        from py_sema_spark.operators.closure import rdf_list_flatten

        RDFNS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        rows = [
            # list L: (itemA "lit" itemC)
            ("_:l0", RDFNS + "first", "urn:itemA", "iri"),
            ("_:l0", RDFNS + "rest", "_:l1", "iri"),
            ("_:l1", RDFNS + "first", "lit", "literal"),
            ("_:l1", RDFNS + "rest", "_:l2", "iri"),
            ("_:l2", RDFNS + "first", "urn:itemC", "iri"),
            ("_:l2", RDFNS + "rest", RDFNS + "nil", "iri"),
            # list M: (itemZ)
            ("_:m0", RDFNS + "first", "urn:itemZ", "iri"),
            ("_:m0", RDFNS + "rest", RDFNS + "nil", "iri"),
            # unrelated triple
            ("urn:x", "urn:p", "urn:y", "iri"),
        ]
        triples = spark.createDataFrame(
            [(s, p, o, k, None, None) for s, p, o, k in rows],
            "s string, p string, o string, o_kind string, "
            "o_datatype string, o_lang string",
        )
        got = {
            (r.head, r.pos, r.item, r.item_kind)
            for r in rdf_list_flatten(triples).collect()
        }
        assert got == {
            ("_:l0", 0, "urn:itemA", "iri"),
            ("_:l0", 1, "lit", "literal"),
            ("_:l0", 2, "urn:itemC", "iri"),
            ("_:m0", 0, "urn:itemZ", "iri"),
        }

    def test_deep_chain_closes_within_log_rounds(self, spark):
        """A 120-hop chain must close completely under the default
        25-round cap — only possible with per-round distance doubling
        (single-hop growth would need 119 rounds) — with exact min
        hop counts."""
        edges = spark.createDataFrame(
            [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(120)],
            ["src", "dst"],
        )
        rows = {
            (r["src"], r["dst"]): r["dist"]
            for r in transitive_closure(edges).collect()
        }
        assert len(rows) == 121 * 120 // 2
        assert rows[("n000", "n120")] == 120
        assert rows[("n007", "n101")] == 94

    def test_connected_components(self, spark):
        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("x", "y")], ["src", "dst"]
        )
        comp = {
            r["node"]: r["comp"] for r in connected_components(edges).collect()
        }
        assert comp["a"] == comp["b"] == comp["c"] == "a"
        assert comp["x"] == comp["y"] == "x"


class TestLinkage:
    def test_detect_and_canonicalize(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "We sampled the Belgian Coast near the harbor."),
                (2, "No entities here at all."),
            ],
            ["doc_id", "text"],
        )
        dictionary = spark.createDataFrame(
            [
                ("http://e/belcoast", "Belgian Coast"),
                ("http://e/harbor", "harbor"),
            ],
            ["entity", "label"],
        )
        m = detect_mentions(docs, dictionary)
        got = {(r["doc_id"], r["entity"]) for r in m.collect()}
        assert got == {(1, "http://e/belcoast"), (1, "http://e/harbor")}

        # a label LONGER than max_gram must still match — the gram
        # fan-out auto-widens to the longest dictionary label
        long_dict = spark.createDataFrame(
            [("http://e/nyse", "New York Stock Exchange")],
            ["entity", "label"],
        )
        long_docs = spark.createDataFrame(
            [(9, "trading on the New York Stock Exchange today")],
            ["doc_id", "text"],
        )
        got2 = {
            (r["doc_id"], r["entity"])
            for r in detect_mentions(
                long_docs, long_dict, max_gram=3
            ).collect()
        }
        assert got2 == {(9, "http://e/nyse")}

        edges = spark.createDataFrame(
            [("http://e/belcoast", "http://e/belgian-coast")], ["src", "dst"]
        )
        mapping = canonical_map(edges)
        from py_sema_spark.model import TRIPLE_SCHEMA

        triples = spark.createDataFrame(
            [
                ("http://e/belgian-coast", "http://p", "x", "literal", None, None),
                ("http://d/1", "http://p2", "http://e/belgian-coast", "iri", None, None),
            ],
            TRIPLE_SCHEMA,
        )
        out = rewrite_triples(triples, mapping).collect()
        assert {r["s"] for r in out} == {"http://e/belcoast", "http://d/1"}
        assert [r["o"] for r in out if r["o_kind"] == "iri"] == ["http://e/belcoast"]


class TestSparqlets:
    @pytest.fixture(scope="class")
    def triples(self, spark):
        SKOS = "http://www.w3.org/2004/02/skos/core#"
        RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        DC = "http://purl.org/dc/terms/"
        rows = [
            ("c1", RDF + "type", SKOS + "Collection", "iri", None, None),
            ("c1", DC + "title", "col one", "literal", None, None),
            ("c1", SKOS + "member", "t1", "iri", None, None),
            ("c1", SKOS + "member", "t2", "iri", None, None),
            ("t1", SKOS + "prefLabel", "term one", "literal", None, "en"),
            ("t2", SKOS + "prefLabel", "term two", "literal", None, "en"),
            ("t2", SKOS + "broader", "t1", "iri", None, None),
            ("t3", SKOS + "broader", "t2", "iri", None, None),
        ]
        from py_sema_spark.model import TRIPLE_SCHEMA

        return spark.createDataFrame(rows, TRIPLE_SCHEMA)

    def test_pred_count(self, triples):
        out = {r["pred"]: r["count"] for r in rdf_predicates_count(triples).collect()}
        assert out["http://www.w3.org/2004/02/skos/core#member"] == 2

    def test_member_count(self, triples):
        rows = skos_collection_member_count(triples).collect()
        assert rows[0]["collection"] == "c1" and rows[0]["count"] == 2

    def test_broader_depth(self, triples):
        d = {
            (r["super"], r["sub"]): r["distance"]
            for r in skos_broader_depth(triples).collect()
        }
        assert d[("t3", "t1")] == 2 and d[("t2", "t1")] == 1


class TestPipelineResume:
    def test_stage_checkpoint_resume(self, spark, tmp_path_factory):
        from py_sema_spark.pipeline import Pipeline
        from py_sema_spark.sources.corpus import synth_corpus

        wd = str(tmp_path_factory.mktemp("pipe"))
        corpus = synth_corpus(spark, 60, seed=7)
        p = Pipeline(spark, wd)
        out1 = p.run(corpus)
        n1 = out1.count()
        assert n1 > 0

        calls = {"n": 0}
        orig = p.stage

        def counting_stage(name, build, **kw):
            def wrapped():
                calls["n"] += 1
                return build()

            return orig(name, wrapped, **kw)

        p2 = Pipeline(spark, wd)
        p2.stage = counting_stage.__get__(p2)  # type: ignore
        # resume: all stages done → no build() invocations
        orig = Pipeline(spark, wd).stage
        p3 = Pipeline(spark, wd)
        built = []
        real_stage = Pipeline.stage

        def spy(self, name, build, **kw):
            def wrapped():
                built.append(name)
                return build()

            return real_stage(self, name, wrapped, **kw)

        Pipeline.stage = spy
        try:
            out2 = Pipeline(spark, wd).run(corpus)
        finally:
            Pipeline.stage = real_stage
        assert built == []  # nothing recomputed
        assert out2.count() == n1
        m = Pipeline(spark, wd).metrics()
        assert m.where(F.col("stage") == "05_materialize").count() > 0

    def test_chunked_stage_partition_resume(self, spark, tmp_path_factory):
        """Per-chunk commits: a run killed mid-stage re-executes ONLY
        the unfinished chunks, and the finished chunks' files are not
        rewritten (north rule: per-partition lineage, resume exactly)."""
        import os

        import pytest as _pytest

        from py_sema_spark.operators.extract import extract_structured
        from py_sema_spark.pipeline import Pipeline
        from py_sema_spark.sources.corpus import synth_corpus

        wd = str(tmp_path_factory.mktemp("pipe_chunk"))
        corpus = synth_corpus(spark, 80, seed=9)

        calls = []

        def flaky(df):
            if len(calls) >= 3:  # simulate a kill after 3 chunk commits
                raise RuntimeError("killed mid-stage")
            calls.append(1)
            return extract_structured(df)

        p = Pipeline(spark, wd)
        with _pytest.raises(RuntimeError, match="killed"):
            p.chunked_stage("01_extract", corpus, flaky, n_chunks=6)

        sdir = f"{wd}/01_extract"
        done = sorted(
            f for f in os.listdir(sdir) if f.startswith("_CHUNK_DONE")
        )
        assert len(done) == 3
        assert not os.path.exists(f"{sdir}/_STAGE_DONE")
        fingerprint = {}
        for root, _dirs, files in os.walk(sdir):
            for f in files:
                fp = os.path.join(root, f)
                fingerprint[fp] = (os.path.getsize(fp), os.path.getmtime(fp))

        calls2 = []

        def clean(df):
            calls2.append(1)
            return extract_structured(df)

        p2 = Pipeline(spark, wd)
        out = p2.chunked_stage("01_extract", corpus, clean, n_chunks=6)
        assert len(calls2) == 3  # only the 3 unfinished chunks re-ran
        resumed = [
            e["event"].listargs[0]
            for e in p2.trace.events
            if e["event"].name == "chunk" and e["event"].returns == "resumed"
        ]
        assert len(resumed) == 3
        # pre-kill committed files untouched byte-for-byte
        for fp, (size, mtime) in fingerprint.items():
            assert os.path.getsize(fp) == size
            assert os.path.getmtime(fp) == mtime

        # chunked output == unchunked output exactly
        ref = extract_structured(corpus)
        assert out.count() == ref.count()
        cols = [c for c in ref.columns]
        assert (
            out.select(cols).exceptAll(ref.select(cols)).count() == 0
            and ref.select(cols).exceptAll(out.select(cols)).count() == 0
        )
        # fully-done stage resumes without touching transform
        p3 = Pipeline(spark, wd)
        out3 = p3.chunked_stage(
            "01_extract", corpus, clean, n_chunks=6
        )
        assert len(calls2) == 3
        assert out3.count() == ref.count()

    def test_chunked_stage_rejects_changed_n_chunks(
        self, spark, tmp_path_factory
    ):
        """Chunk membership is pmod(hash, n_chunks): resuming a partial
        stage with a different chunk count would silently drop the mod
        classes the old markers never covered — must refuse instead
        (round-3 review fix)."""
        import pytest as _pytest

        from py_sema_spark.operators.extract import extract_structured
        from py_sema_spark.pipeline import Pipeline
        from py_sema_spark.sources.corpus import synth_corpus

        wd = str(tmp_path_factory.mktemp("pipe_chunkn"))
        corpus = synth_corpus(spark, 40, seed=9)
        calls = []

        def flaky(df):
            if calls:
                raise RuntimeError("killed mid-stage")
            calls.append(1)
            return extract_structured(df)

        p = Pipeline(spark, wd)
        with _pytest.raises(RuntimeError, match="killed"):
            p.chunked_stage("01_extract", corpus, flaky, n_chunks=4)
        p2 = Pipeline(spark, wd)
        with _pytest.raises(ValueError, match="n_chunks"):
            p2.chunked_stage(
                "01_extract", corpus, extract_structured, n_chunks=8
            )

    def test_run_is_traced(self, spark, tmp_path_factory):
        from py_sema_spark.pipeline import Pipeline
        from py_sema_spark.sources.corpus import synth_corpus

        wd = str(tmp_path_factory.mktemp("pipe_tr"))
        corpus = synth_corpus(spark, 40, seed=7)
        p = Pipeline(spark, wd)
        p.run(corpus)
        evts = [e["event"] for e in p.trace.events]
        assert all(e.returns == "executed" for e in evts)
        assert len(evts) >= 4  # one per stage
        # a resumed run records every stage as resumed, none executed
        p2 = Pipeline(spark, wd)
        p2.run(corpus)
        assert {e["event"].returns for e in p2.trace.events} == {"resumed"}
        # and the trace exports into the same lineage store shape
        df = p2.trace.events_df(spark)
        assert df.columns == ["event", "status", "ts"]


class TestSameasFusion:
    def test_chain_rewrites_and_dedups(self, spark):
        """sameAs chain x↔y↔z (transitive — needs real CC): all three
        subjects collapse onto the min IRI and the duplicated type
        triples fuse to one; literal objects are never rewritten even
        when their text equals a member IRI."""
        from py_sema_spark.operators.linkage import (
            canonical_map,
            rewrite_triples,
        )

        triples = spark.createDataFrame(
            [
                ("urn:x", "rdf:type", "ex:Thing", "iri", None, None),
                ("urn:y", "rdf:type", "ex:Thing", "iri", None, None),
                ("urn:z", "rdf:type", "ex:Thing", "iri", None, None),
                ("urn:a", "ex:knows", "urn:z", "iri", None, None),
                ("urn:a", "ex:note", "urn:z", "literal", None, None),
            ],
            "s string, p string, o string, o_kind string, "
            "o_datatype string, o_lang string",
        )
        edges = spark.createDataFrame(
            [("urn:x", "urn:y"), ("urn:y", "urn:z")], "src string, dst string"
        )
        fused = (
            rewrite_triples(triples, canonical_map(edges))
            .select("s", "p", "o")
            .distinct()
        )
        got = {(r.s, r.p, r.o) for r in fused.collect()}
        assert got == {
            ("urn:x", "rdf:type", "ex:Thing"),
            ("urn:a", "ex:knows", "urn:x"),
            ("urn:a", "ex:note", "urn:z"),
        }


class TestWindowsNullSafety:
    def test_unique_pattern_null_vs_swap_no_collision(self, spark):
        """(NULL,'B'), ('B',NULL) and separator-embedded values must
        produce distinct keys — concat_ws silently skips NULLs."""
        from py_sema_spark.operators.windows import unique_pattern_key_col

        df = spark.createDataFrame(
            [
                (1, None, "B"),
                (2, "B", None),
                (3, "A\x1fB", "C"),
                (4, "A", "B\x1fC"),
            ],
            "i long, x string, y string",
        )
        keys = [
            r.k
            for r in df.select(
                unique_pattern_key_col("{x}{y}").alias("k")
            ).collect()
        ]
        assert len(set(keys)) == 4

    def test_is_last_with_null_order_values(self, spark):
        """A NULL in the order column must not flag mid-stream rows
        as last (lead(key) is NULL for them too; lead(1) is not)."""
        from py_sema_spark.operators.windows import with_ctrl

        df = spark.createDataFrame(
            [("u", None, 1), ("u", None, 2), ("u", 5, 3)],
            "user string, ts int, event_id int",
        )
        out = {
            r.event_id: r.is_last
            for r in with_ctrl(df, ["user"], ["ts", "event_id"]).collect()
        }
        assert out == {1: False, 2: False, 3: True}


class TestHeavyHitters:
    def test_exact_hitters_only(self, spark):
        from py_sema_spark.operators.sketch import heavy_hitters

        rows = [("a",)] * 50 + [("b",)] * 30 + [(f"u{i}",) for i in range(20)]
        df = spark.createDataFrame(rows, "w string").repartition(8)
        got = {r.item: r.cnt for r in heavy_hitters(df, "w", k=4).collect()}
        # n=100, threshold 25: only a (50) and b (30) qualify
        assert got == {"a": 50, "b": 30}

    def test_candidates_never_miss_a_hitter(self, spark):
        from py_sema_spark.operators.sketch import (
            heavy_hitters,
            misra_gries_candidates,
        )

        # adversarial: many near-threshold distractors spread across
        # partitions; the true hitter must survive phase-1 pruning
        rows = [(i % 97, ) for i in range(2000)] + [(999,)] * 500
        df = spark.createDataFrame(rows, "v long").repartition(16)
        cand = {r.item for r in misra_gries_candidates(df, "v", k=6).collect()}
        assert "999" in cand
        got = {r.item: r.cnt for r in heavy_hitters(df, "v", k=6).collect()}
        assert got == {999: 500}  # n=2500, threshold ~417

    def test_item_type_preserved(self, spark):
        from py_sema_spark.operators.sketch import heavy_hitters

        df = spark.createDataFrame([(7,)] * 9 + [(1,), (2,)], "v long")
        out = heavy_hitters(df, "v", k=3)
        assert dict(out.dtypes)["item"] == "bigint"
        assert out.collect()[0].item == 7

    def test_non_string_representations_match(self, spark):
        """Booleans (and any non-string type) must survive the
        candidate/semi-join representation round-trip: pandas
        astype(str) says "True" while Spark cast says "true" — the
        round-3 fix casts Spark-side before phase 1 so the two phases
        agree."""
        from py_sema_spark.operators.sketch import heavy_hitters

        df = spark.createDataFrame(
            [(True,)] * 9 + [(False,), (False,)], "v boolean"
        )
        got = {r.item: r.cnt for r in heavy_hitters(df, "v", k=3).collect()}
        assert got == {True: 9}


class TestUrlOps:
    def test_canonicalize_vectors(self, spark):
        from py_sema_spark.functions.web import url_canonicalize

        cases = [
            ("HTTP://WWW.Example.ORG:80/A/b/?utm_source=x&b=2&a=1#f",
             "http://example.org/A/b?a=1&b=2"),
            ("https://example.org:443/x", "https://example.org/x"),
            ("https://example.org:8443/x", "https://example.org:8443/x"),
            ("http://example.org/", "http://example.org"),
            ("http://example.org/p?fbclid=abc", "http://example.org/p"),
            ("http://example.org/p?z=1&y=2", "http://example.org/p?y=2&z=1"),
        ]
        df = spark.createDataFrame(
            [(i, u) for i, (u, _) in enumerate(cases)], "i long, url string"
        )
        from pyspark.sql import functions as F

        got = {
            r.i: r.c
            for r in df.select(
                "i", url_canonicalize(F.col("url")).alias("c")
            ).collect()
        }
        for i, (_, want) in enumerate(cases):
            assert got[i] == want, (cases[i][0], got[i], want)

    def test_url_dedup_keeps_min_id(self, spark):
        from py_sema_spark.operators.dedup import url_dedup

        df = spark.createDataFrame(
            [
                (5, "http://a.org/x?utm_source=1"),
                (2, "http://WWW.A.org/x/"),
                (9, "http://a.org/y"),
            ],
            "doc_id long, url string",
        )
        out = url_dedup(df).orderBy("doc_id").collect()
        assert [(r.doc_id, r.url_canon) for r in out] == [
            (2, "http://a.org/x"),
            (9, "http://a.org/y"),
        ]

    def test_url_dedup_group_limit_plan(self, spark):
        from py_sema_spark.operators.dedup import url_dedup

        df = spark.createDataFrame(
            [(1, "http://a.org/x")], "doc_id long, url string"
        )
        plan = url_dedup(df)._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan


class TestUrlCanonProperties:
    """Batch-property check: one Spark job over ~400 structurally
    random URLs, compared against an independent urllib-based Python
    reimplementation of the documented normalization rules."""

    @staticmethod
    def _py_canon(url: str) -> str:
        import re
        from urllib.parse import urlsplit

        u = url.split("#", 1)[0]
        sp = urlsplit(u)
        if sp.scheme and "://" in u:
            netloc = sp.netloc.lower()
            if netloc.startswith("www."):
                netloc = netloc[4:]
            if sp.scheme.lower() == "http" and netloc.endswith(":80"):
                netloc = netloc[:-3]
            if sp.scheme.lower() == "https" and netloc.endswith(":443"):
                netloc = netloc[:-4]
            prefix = sp.scheme.lower() + "://" + netloc
            rest = u.split("://", 1)[1]
            rest = rest[len(sp.netloc):]
        else:
            prefix, rest = "", u
        path = rest.split("?", 1)[0].rstrip("/")
        query = rest.split("?", 1)[1] if "?" in rest else ""
        keep = [
            p
            for p in query.split("&")
            if p
            and not re.match(
                r"^(utm_[A-Za-z0-9_]*|fbclid|gclid|mc_cid|mc_eid|ref)(=|$)",
                p,
            )
        ]
        qstr = "&".join(sorted(keep))
        return prefix + path + ("?" + qstr if qstr else "")

    def _random_urls(self, n=400):
        import random

        rng = random.Random(42)
        urls = []
        for _ in range(n):
            scheme = rng.choice(["http", "HTTP", "https", "HTTPS"])
            www = rng.choice(["", "www.", "WWW."])
            host = rng.choice(["ex.org", "Sub.Ex.ORG", "a-b.net"])
            port = rng.choice(["", ":80", ":443", ":8080"])
            segs = "/".join(
                rng.choice(["p", "Q", "r2", "s-t"])
                for _ in range(rng.randint(0, 3))
            )
            trail = rng.choice(["", "/", "//"])
            params = "&".join(
                rng.sample(
                    ["a=1", "b=2", "utm_source=x", "fbclid=9",
                     "ref", "z=Z&y"],
                    rng.randint(0, 3),
                )
            )
            frag = rng.choice(["", "#f", "#a/b?c=1"])
            url = f"{scheme}://{www}{host}{port}"
            if segs:
                url += "/" + segs
            url += trail
            if params:
                url += "?" + params
            url += frag
            urls.append(url)
        return urls

    def test_matches_python_reference(self, spark):
        from py_sema_spark.functions.web import url_canonicalize

        urls = self._random_urls()
        df = spark.createDataFrame(
            [(i, u) for i, u in enumerate(urls)], "i long, url string"
        )
        got = {
            r.i: r.c
            for r in df.select(
                "i", url_canonicalize(F.col("url")).alias("c")
            ).collect()
        }
        for i, u in enumerate(urls):
            assert got[i] == self._py_canon(u), (u, got[i], self._py_canon(u))

    def test_idempotent(self, spark):
        from py_sema_spark.functions.web import url_canonicalize

        urls = self._random_urls(200)
        df = spark.createDataFrame([(u,) for u in urls], "url string")
        once = df.select(url_canonicalize(F.col("url")).alias("c"))
        twice = once.select(url_canonicalize(F.col("c")).alias("c2"))
        pairs = once.collect(), twice.collect()
        assert [r.c for r in pairs[0]] == [r.c2 for r in pairs[1]]
