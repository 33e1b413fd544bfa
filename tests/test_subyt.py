"""Subyt templating tests — semantics mirrored from the reference's
golden-output strategy (/root/reference/sema/subyt/tests via
tests/subyt/test_generator.py:11-47): render small record sets through
templates exercising ctrl, sets, and every registered filter/function,
and compare exact strings (fresh fixtures, not copies)."""

import os

import pytest

from py_sema_spark.subyt import (
    GeneratorSettings,
    PatternedSink,
    SingleFileSink,
    SparkSubyt,
    make_source_df,
    render_collection,
)
from py_sema_spark.subyt.sources import collect_set


@pytest.fixture(scope="module")
def records(spark):
    return spark.createDataFrame(
        [
            (1, "alpha", "2021-03-04"),
            (2, "beta", "2022-05-06"),
            (3, "gamma", "2023-07-08"),
        ],
        "id int, name string, seen string",
    )


def parts_list(df):
    return [r["part"] for r in df.orderBy("idx").collect()]


class TestIteration:
    def test_ctrl_and_filters(self, spark, records):
        template = (
            "{% if ctrl.isFirst %}# first\n{% endif %}"
            "<urn:x:{{ _['id'] }}> a ex:Thing ;\n"
            "  ex:name {{ _['name'] | xsd('xsd:string', '\"') }} ;\n"
            "  ex:seen {{ _['seen'] | xsd('xsd:date', '\"') }} ;\n"
            "  ex:pos {{ ctrl.index }} .\n"
            "{% if ctrl.isLast %}# last\n{% endif %}"
        )
        out = SparkSubyt(template, order_by=["id"]).process(records)
        parts = parts_list(out)
        assert len(parts) == 3
        assert parts[0].startswith("# first\n<urn:x:1>")
        assert 'ex:name "alpha"^^xsd:string ;' in parts[0]
        assert 'ex:seen "2021-03-04"^^xsd:date ;' in parts[0]
        assert "ex:pos 0 ." in parts[0]
        assert "ex:pos 1 ." in parts[1]
        assert "# first" not in parts[1]
        assert parts[2].rstrip().endswith("# last")

    def test_uri_filter_and_functions(self, spark, records):
        template = (
            "{{ ('https://example.org/x/' ~ _['name']) | uri }} "
            "{{ unite(_['name'], 'tag', sep='-') }} "
            "{{ unite(_['name'], '', fb='FB') }} "
            "{{ regexreplace('a', 'A', _['name']) }} "
            "{{ uritexpand('urn:t:{id}', _) }}\n"
        )
        out = SparkSubyt(template, order_by=["id"]).process(records)
        parts = parts_list(out)
        # unite joins str values only when ALL args are truthy
        # (j2_functions.py:426-451: '' is falsy → fallback)
        assert parts[0] == "<https://example.org/x/alpha> alpha-tag FB AlphA urn:t:1"
        assert parts[1] == "<https://example.org/x/beta> beta-tag FB betA urn:t:2"

    def test_map_valuemapper(self, spark, records):
        kinds = [
            {"key": "alpha", "val": "vowel"},
            {"key": "beta", "val": "consonant"},
            {"key": "gamma", "val": "consonant"},
        ]
        # reference ValueMapper.apply mutates the record in place
        # (j2_functions.py:396-423): apply(record, origin, target, fb)
        template = (
            "{% set m = map(sets['kinds'], 'key', 'val') %}"
            "{% set ignored = m.apply(_, 'name', 'kind', 'unknown') %}"
            "{{ _['name'] }}={{ _['kind'] }}\n"
        )
        out = SparkSubyt(
            template, order_by=["id"], sets={"kinds": kinds}
        ).process(records)
        assert parts_list(out) == [
            "alpha=vowel",
            "beta=consonant",
            "gamma=consonant",
        ]

    def test_variables_and_streams(self, spark):
        df = spark.createDataFrame(
            [("a", 1), ("a", 2), ("b", 1)], "grp string, n int"
        )
        template = "{{ prefix }}:{{ _['grp'] }}{{ _['n'] }}@{{ ctrl.index }};"
        out = SparkSubyt(
            template,
            order_by=["n"],
            stream_by=["grp"],
            variables={"prefix": "P"},
        ).process(df)
        parts = set(p["part"] for p in out.collect())
        # per-stream ctrl indexes restart at 0
        assert parts == {"P:a1@0;", "P:a2@1;", "P:b1@0;"}
        # …but the OUTPUT idx is a global total order (sinks rely on
        # it for deterministic concatenation / _N numbering) — per
        # round-3 review fix it must not collide across streams
        idxs = sorted(r["idx"] for r in out.collect())
        assert idxs == [0, 1, 2]

    def test_internal_ord_column_not_in_record(self, spark):
        """Sources attach _ord for deterministic ordering; it is
        plumbing, not record data — `_` must not contain it (round-3
        review fix)."""
        df = spark.createDataFrame(
            [(0, "x"), (1, "y")], "_ord long, name string"
        )
        template = "{{ _.keys() | list | sort | join(',') }};"
        out = SparkSubyt(template, order_by=["_ord"]).process(df)
        assert set(p["part"] for p in out.collect()) == {"name;"}


class TestCollection:
    def test_no_it_mode(self):
        sets = {
            "_": [{"n": "x"}, {"n": "y"}],
            "extra": [{"v": 1}],
        }
        template = (
            "items:{% for it in sets['_'] %} {{ it['n'] }}{% endfor %}"
            " extra={{ sets['extra'][0]['v'] }}"
            " first={{ ctrl.isFirst }} last={{ ctrl.isLast }}"
        )
        out = render_collection(
            template, sets, settings=GeneratorSettings("no-it")
        )
        assert out == "items: x y extra=1 first=True last=True"

    def test_settings_parsing(self):
        s = GeneratorSettings("no-it,ignorecase")
        assert s.iteration is False and s.ignorecase is True
        with pytest.raises(KeyError):
            GeneratorSettings("bogus")


class TestSinks:
    def test_single_file_sink(self, spark, records, tmp_path):
        out = SparkSubyt("{{ _['name'] }};", order_by=["id"]).process(records)
        path = str(tmp_path / "out.ttl")
        SingleFileSink(path).write(out)
        assert open(path).read() == "alpha;beta;gamma;"

    def test_patterned_sink(self, spark, records, tmp_path):
        out = SparkSubyt(
            "data for {{ _['name'] }}", order_by=["id"]
        ).process(records)
        sink = PatternedSink(str(tmp_path), "{name2}.ttl")
        written = sink.write(_with_cols(out, records))
        paths = sorted(r["path"] for r in written.collect())
        assert paths == ["alpha.ttl", "beta.ttl", "gamma.ttl"]
        assert open(tmp_path / "beta.ttl").read() == "data for beta"

    def test_patterned_dup_policy(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(0, "p1", "same"), (1, "p2", "same")],
            "idx long, part string, key string",
        )
        sink = PatternedSink(str(tmp_path), "{key}.ttl")
        with pytest.raises(ValueError, match="duplicate sink path"):
            sink.write(df)
        sink2 = PatternedSink(str(tmp_path), "{key}.ttl", allow_repeated=True)
        written = sink2.write(df)
        # reference numbering: 2nd occurrence = <path>_0, appended
        # after the extension (reference sinks.py:185-187)
        assert sorted(r["path"] for r in written.collect()) == [
            "same.ttl",
            "same.ttl_0",
        ]

    def test_patterned_paths_follow_rfc6570(self, spark, tmp_path):
        """Paths are RFC 6570 expansions of the record values, the same
        as ``uritemplate_expand``: every reserved and non-ASCII byte is
        percent-encoded under ``{key}`` (so a ``/`` makes no
        subdirectory), ``{+key}`` keeps reserved characters but still
        encodes ``é``, a double formats as Python does (``1e+20``, not
        Spark's ``1.0E20``), and a null expands to nothing."""
        df = spark.createDataFrame(
            [(0, "p0", "a b/é?", 1e20), (1, "p1", "é", 2.5), (2, "p2", None, None)],
            "idx long, part string, key string, x double",
        )

        def written(pattern, sub):
            root = tmp_path / sub
            out = PatternedSink(str(root), pattern).write(df)
            paths = {r["idx"]: r["path"] for r in out.collect()}
            for i, p in paths.items():
                assert (root / p).read_text() == f"p{i}"
            return paths, sorted(os.listdir(root))

        assert written("{key}.ttl", "simple") == (
            {0: "a%20b%2F%C3%A9%3F.ttl", 1: "%C3%A9.ttl", 2: ".ttl"},
            ["%C3%A9.ttl", ".ttl", "a%20b%2F%C3%A9%3F.ttl"],
        )
        assert written("{+key}.ttl", "reserved")[0] == {
            0: "a%20b/%C3%A9?.ttl",
            1: "%C3%A9.ttl",
            2: ".ttl",
        }
        assert written("n/{+x}.nt", "double")[0] == {
            0: "n/1e+20.nt",
            1: "n/2.5.nt",
            2: "n/.nt",
        }

    def test_patterned_dup_raises_before_writing(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(0, "p0", "a"), (1, "p1", "b"), (2, "p2", "a")],
            "idx long, part string, key string",
        )
        with pytest.raises(ValueError, match="duplicate sink path 'a.ttl'"):
            PatternedSink(str(tmp_path / "s"), "{key}.ttl").write(df)
        assert not (tmp_path / "s").exists() or not os.listdir(tmp_path / "s")
        out = PatternedSink(str(tmp_path / "r"), "{key}.ttl", allow_repeated=True).write(
            df.repartition(3)
        )
        assert sorted((r["idx"], r["path"]) for r in out.collect()) == [
            (0, "a.ttl"),
            (1, "b.ttl"),
            (2, "a.ttl_0"),
        ]
        assert (tmp_path / "r" / "a.ttl_0").read_text() == "p2"

    def test_single_file_sink_orders_by_idx(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(2, "c"), (0, "a"), (1, "b")], "idx long, part string"
        ).repartition(3)
        path = tmp_path / "sub" / "all.txt"
        SingleFileSink(str(path)).write(df)
        assert path.read_text() == "abc"


# every record column, its Python type and value as the template sees
# it, then the ctrl, a set and a variable
DIFF_TEMPLATE = (
    "{% for k, v in _ | dictsort %}"
    "{{ k }}={{ v }}:{{ v.__class__.__name__ }};"
    "{% endfor %}"
    "|{{ ctrl.index }}|{{ ctrl.isFirst }}|{{ ctrl.isLast }}"
    "|{{ sets['extra'][0]['v'] }}|{{ prefix }}\n"
)
DIFF_SCHEMA = (
    "k1 string, k2 long, g string, s string, n long, x double, "
    "b boolean, d date, t timestamp, dec decimal(10,2)"
)


def _diff_records(spark, with_int_null=True):
    """A pandas-built (driver-local) frame of every column type the
    driver path renders; ``x`` gets a NaN through a projection, which
    keeps the plan a LocalRelation."""
    import datetime as dt
    from decimal import Decimal

    import pandas as pd
    from pyspark.sql import functions as F

    pdf = pd.DataFrame(
        {
            "k1": ["b", "a", None, "b", "a", "c"],
            "k2": [2, 1, 5, 1, 3, 0],
            "g": ["x", "y", "x", None, "y", "x"],
            "s": ["ünï", '日本 "q"', None, "a\\b", "", "z"],
            "n": [1, None, 3, 4, 5, 6] if with_int_null else [1, 2, 3, 4, 5, 6],
            "x": [1.5, None, 0.1, -0.0, 1e20, 3.0],
            "b": [True, None, False, True, False, True],
            "d": [
                dt.date(2020, 1, 2),
                dt.date(1969, 12, 31),
                None,
                dt.date(2024, 2, 29),
                dt.date(2000, 1, 1),
                dt.date(2001, 1, 1),
            ],
            "t": [
                dt.datetime(2021, 1, 2, 3, 4, 5, 6),
                None,
                dt.datetime(1960, 5, 6, 7, 8, 9),
                dt.datetime(2021, 11, 7, 1, 30),
                dt.datetime(2000, 1, 1),
                dt.datetime(2030, 1, 1, 0, 0, 0, 999999),
            ],
            "dec": [
                Decimal("1.50"),
                Decimal("-2.00"),
                None,
                Decimal("0.01"),
                Decimal("12345678.90"),
                Decimal("0"),
            ],
        }
    )
    df = spark.createDataFrame(pdf, DIFF_SCHEMA)
    return df.withColumn(
        "x", F.when(F.col("k2") == 0, F.lit(float("nan"))).otherwise(F.col("x"))
    )


def _rendered(df):
    return sorted((r["idx"], r["part"]) for r in df.collect())


class TestDriverPath:
    """A driver-local record frame renders on the driver; the same
    records in a frame that is not driver-local render in
    ``mapInPandas``. Both must give byte-identical ``(idx, part)``."""

    CASES = [
        {"order_by": ["k1", "k2"]},  # ties on k1 broken by k2; null k1 first
        {"order_by": ["x", "k2"]},  # NaN last, -0.0 == 0.0
        {"order_by": ["t", "k2"]},
        {"order_by": ["dec"]},
        {"order_by": ["b", "k2"]},
        {"order_by": ["d", "k2"]},
    ]
    STREAM_CASES = [
        {"order_by": ["k1", "k2"], "stream_by": ["g"]},  # a null stream
        {"order_by": ["k2"], "stream_by": ["x"]},  # NaN and -0.0 streams
        {"order_by": ["k2"], "stream_by": ["b", "g"]},
    ]

    def _both(self, df, **kw):
        from py_sema_spark.subyt.engine import _is_driver_local

        sub = SparkSubyt(
            DIFF_TEMPLATE,
            sets={"extra": [{"v": "E"}]},
            variables={"prefix": "P"},
            **kw,
        )
        on_driver = sub.process(df)
        in_spark = sub.process(df.repartition(2))
        assert not _is_driver_local(in_spark)
        return on_driver, _rendered(on_driver), _rendered(in_spark)

    @pytest.mark.parametrize("kw", CASES)
    def test_global_stream_matches_spark(self, spark, kw):
        from py_sema_spark.subyt.engine import _is_driver_local

        df = _diff_records(spark)
        assert _is_driver_local(df)
        out, driver, spark_rows = self._both(df, **kw)
        assert _is_driver_local(out)
        assert driver == spark_rows
        assert [i for i, _ in driver] == list(range(6))
        # as pandas hands them over: an int column with a null as
        # floats, a null timestamp as NaT, a decimal at its scale
        joined = "".join(p for _, p in driver)
        for cell in ("n=1.0:float;", "n=nan:float;", "t=NaT:NaTType;", "dec=0.00:Decimal;"):
            assert cell in joined

    @pytest.mark.parametrize("kw", STREAM_CASES)
    def test_streams_match_spark(self, spark, kw):
        from py_sema_spark.subyt.engine import _is_driver_local

        out, driver, spark_rows = self._both(
            _diff_records(spark, with_int_null=False), **kw
        )
        assert _is_driver_local(out)
        assert driver == spark_rows

    def test_session_time_zone(self, spark):
        """Timestamps reach the template in the session zone, also for
        an hour the zone's DST change makes ambiguous."""
        from py_sema_spark.subyt.engine import _is_driver_local

        key = "spark.sql.session.timeZone"
        prev = spark.conf.get(key)
        spark.conf.set(key, "America/New_York")
        try:
            out, driver, spark_rows = self._both(
                _diff_records(spark), order_by=["t", "k2"]
            )
        finally:
            spark.conf.set(key, prev)
        assert _is_driver_local(out)
        assert driver == spark_rows
        assert "t=2021-11-07 01:30:00:Timestamp;" in "".join(p for _, p in driver)

    def test_frames_the_driver_cannot_match_render_in_spark(self, spark):
        """An int column with a null under ``stream_by`` (its pandas
        type depends on which streams share an Arrow batch), a column
        type outside the driver's set, and a record column named like a
        ctrl column all keep the ``mapInPandas`` path."""
        import pandas as pd
        from pyspark.sql import functions as F

        from py_sema_spark.subyt.engine import _is_driver_local

        df = _diff_records(spark)
        out, driver, spark_rows = self._both(df, order_by=["k2"], stream_by=["g"])
        assert not _is_driver_local(out)
        assert driver == spark_rows
        arr = df.withColumn("arr", F.array(F.col("k2")))
        assert _is_driver_local(arr)
        out = SparkSubyt("{{ _['arr'] }};", order_by=["k2"]).process(arr)
        assert not _is_driver_local(out)
        assert _rendered(out)[0] == (0, "[0];")
        ctrl_named = spark.createDataFrame(pd.DataFrame({"idx": [7, 8]}))
        out = SparkSubyt("{{ _['idx'] }};", order_by=["idx"]).process(ctrl_named)
        assert not _is_driver_local(out)
        assert _rendered(out) == [(0, "0;"), (1, "1;")]

    def test_empty_frame(self, spark):
        import pandas as pd

        from py_sema_spark.subyt.engine import _is_driver_local

        # an empty pandas frame is not Arrow-built; a filter that keeps
        # no row of a LocalRelation folds into an empty one
        df = spark.createDataFrame(pd.DataFrame({"k": [1, 2]})).where("k > 5")
        assert _is_driver_local(df)
        out, driver, spark_rows = self._both(df, order_by=["k"])
        assert _is_driver_local(out)
        assert driver == spark_rows == []
        assert out.schema.simpleString() == "struct<idx:bigint,part:string>"

    def test_template_cannot_change_callers_sets(self, spark):
        import pandas as pd

        sets = {"seen": []}
        df = spark.createDataFrame(pd.DataFrame({"k": [1, 2]}))
        template = "{{ sets['seen'].append(_['k']) or sets['seen'] | length }};"
        out = SparkSubyt(template, order_by=["k"], sets=sets).process(df)
        assert _rendered(out) == [(0, "1;"), (1, "2;")]
        assert sets == {"seen": []}


def _with_cols(parts, records):
    """Attach record columns to rendered parts by ctrl order (test
    helper: records ordered by id == parts ordered by idx)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.orderBy("id")
    keyed = records.withColumn("idx", F.row_number().over(w) - 1)
    return parts.join(keyed.select("idx", F.col("name").alias("name2")), "idx")


class TestSources:
    def test_csv_source(self, spark, tmp_path):
        p = tmp_path / "d.csv"
        p.write_text("# comment\nid,name\n1,a\n2,b\n")
        df = make_source_df(spark, str(p))
        rows = collect_set(df)
        assert rows == [{"id": "1", "name": "a"}, {"id": "2", "name": "b"}]

    def test_csv_explicit_header(self, spark, tmp_path):
        p = tmp_path / "h.csv"
        p.write_text("1;x\n2;y\n")
        df = make_source_df(
            spark, str(p), delimiter=";", header=["id", "name"]
        )
        assert collect_set(df) == [
            {"id": "1", "name": "x"},
            {"id": "2", "name": "y"},
        ]

    def test_json_unwrap(self, spark, tmp_path):
        p = tmp_path / "w.json"
        p.write_text('{"wrapper": {"inner": [{"a": 1}, {"a": 2}]}}')
        df = make_source_df(spark, str(p))
        assert [r["a"] for r in collect_set(df)] == [1, 2]

    def test_xml_source(self, spark, tmp_path):
        p = tmp_path / "r.xml"
        p.write_text(
            "<root><item><id>1</id><name>a</name></item>"
            "<item><id>2</id><name>b</name></item></root>"
        )
        df = make_source_df(spark, str(p))
        assert collect_set(df) == [
            {"id": "1", "name": "a"},
            {"id": "2", "name": "b"},
        ]

    def test_flat_json_and_xml_sources_are_driver_local(self, spark, tmp_path):
        """A flat JSON or XML source plans as a LocalRelation, with the
        schema ``createDataFrame`` infers from the same row dicts."""
        from py_sema_spark.subyt.engine import _is_driver_local

        j = tmp_path / "flat.json"
        j.write_text('[{"id": 1, "name": "a", "w": 0.5}, {"id": 2, "name": null, "w": 1.5}]')
        x = tmp_path / "flat.xml"
        x.write_text(
            '<root><item k="p"><id>1</id><name>a</name></item>'
            '<item k="q"><id>2</id><name>b</name></item></root>'
        )
        for path, rows in (
            (j, [{"id": 1, "name": "a", "w": 0.5, "_ord": 0},
                 {"id": 2, "name": None, "w": 1.5, "_ord": 1}]),
            (x, [{"id": "1", "name": "a", "@k": "p", "_ord": 0},
                 {"id": "2", "name": "b", "@k": "q", "_ord": 1}]),
        ):
            df = make_source_df(spark, str(path))
            assert _is_driver_local(df), path
            assert df.schema == spark.createDataFrame(rows).schema, path
            assert [r.asDict() for r in df.orderBy("_ord").collect()] == rows

    def test_folder_and_glob(self, spark, tmp_path):
        (tmp_path / "a.csv").write_text("n\n1\n2\n")
        (tmp_path / "b.csv").write_text("n\n3\n")
        df = make_source_df(spark, str(tmp_path))
        assert [r["n"] for r in collect_set(df)] == ["1", "2", "3"]
        df2 = make_source_df(spark, str(tmp_path / "*.csv"))
        assert [r["n"] for r in collect_set(df2)] == ["1", "2", "3"]

    def test_concat_ord_contiguous_across_partitioned_files(
        self, spark, tmp_path
    ):
        """ADVICE r01: per-file _ord from monotonically_increasing_id
        jumps by 2^33 between scan partitions; the concat offset must
        use dense per-file positions or later files sort into earlier
        ones. A file large enough to scan as multiple partitions keeps
        global order file-by-file."""
        big = "n\n" + "\n".join(str(i) for i in range(2000))
        (tmp_path / "a.csv").write_text(big)
        (tmp_path / "b.csv").write_text("n\n9998\n9999\n")
        df = make_source_df(spark, str(tmp_path))
        vals = [r["n"] for r in collect_set(df)]
        assert len(vals) == 2002
        assert vals[:3] == ["0", "1", "2"]
        assert vals[-2:] == ["9998", "9999"]
        ords = [r["_ord"] for r in df.orderBy("_ord").select("_ord").collect()]
        assert ords == list(range(2002))


class TestGapFillers:
    def test_extra_filters_and_functions(self, spark, records):
        from py_sema_spark.subyt.engine import build_env

        env = build_env(
            extra_filters={"shout": lambda s: str(s).upper()},
            extra_functions={"double": lambda x: x * 2},
        )
        out = env.from_string(
            "{{ 'abc' | shout }} {{ double(21) }} {{ 'x' | xsd('xsd:string') }}"
        ).render()
        assert out == "ABC 42 'x'^^xsd:string"

    def test_needs_regeneration(self, tmp_path):
        import os
        import time

        from py_sema_spark.subyt.engine import needs_regeneration

        src = tmp_path / "src.csv"
        src.write_text("a\n1\n")
        sink = tmp_path / "out.ttl"
        assert needs_regeneration([str(src)], [str(sink)])  # sink missing
        sink.write_text("done")
        future = time.time() + 60
        os.utime(sink, (future, future))
        assert not needs_regeneration([str(src)], [str(sink)])  # sink newer
        os.utime(src, (future + 60, future + 60))
        assert needs_regeneration([str(src)], [str(sink)])  # src newer

    def test_format_maps(self):
        from py_sema_spark.rdf.formats import (
            MIME_TO_FORMAT,
            format_for_suffix,
        )

        assert format_for_suffix("x/y.ttl") == "turtle"
        assert format_for_suffix("a.jsonld") == "json-ld"
        assert MIME_TO_FORMAT["application/ld+json"] == "json-ld"

    def test_write_csv(self, spark, records, tmp_path):
        import os

        from py_sema_spark.serialize import write_csv

        out = str(tmp_path / "res")
        write_csv(records, out, sep="\t")
        body = "".join(
            open(os.path.join(out, f)).read()
            for f in sorted(os.listdir(out))
            if f.startswith("part-")
        )
        assert "id\tname\tseen" in body and "1\talpha\t2021-03-04" in body
