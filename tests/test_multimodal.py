"""Link-follow extraction and the triples model's scale primitives
(hub salting, bucketed materialize round trip, skolemization). The
multimodal operators these tests once sat next to are retired; the
module keeps its name so the test ids stay stable."""


class TestLinkFollow:
    """Discovery J8: describedby links found in HTML pages re-enter
    extraction as a bounded frontier join (discovery.py:195-207)."""

    def test_seeded_link_follow(self, spark):
        from pyspark.sql import functions as F

        from py_sema_spark.operators.extract import (
            extract_structured,
            extract_with_link_follow,
            links_of,
        )
        from py_sema_spark.sources.corpus import (
            _h,
            page_kind,
            page_url,
            synth_corpus,
        )

        corpus = synth_corpus(spark, 150, seed=42).persist()
        # seed: an html page whose describedby target is itself a page
        # with structured data (noise targets legitimately add nothing)
        html_idx = next(
            i
            for i in range(150)
            if page_kind(42, i) == "html"
            and page_kind(42, (_h(42, i, "desc") % 150) or 1) in ("ttl", "jsonld")
        )
        seed_url = page_url(html_idx)
        seeds = spark.createDataFrame([(seed_url,)], "url string")

        trips = extract_with_link_follow(corpus, seeds, max_hops=1).persist()
        # the seed page's own JSON-LD script triples are present …
        assert trips.where(F.col("src_url") == seed_url).count() > 0
        # … and the describedby target got dereferenced too
        linked = links_of(
            extract_structured(
                corpus.where(F.col("url") == seed_url)
            )
        ).collect()
        assert linked, "html fixture page should carry a describedby link"
        target = linked[0]["link_url"]
        assert trips.where(F.col("src_url") == target).count() > 0
        srcs = {r["src_url"] for r in trips.select("src_url").distinct().collect()}
        assert srcs == {seed_url, target}


class TestScalePrimitives:
    def test_hub_salting_spreads_subject(self, spark):
        from pyspark.sql import functions as F

        from py_sema_spark.model import with_subject_bucket

        # one hub subject with 5k rows + background subjects
        hub = spark.range(5000).select(
            F.lit("urn:hub").alias("s"),
            F.lit("urn:p:member").alias("p"),
            F.concat(F.lit("urn:m:"), F.col("id").cast("string")).alias("o"),
        )
        out = with_subject_bucket(hub, n_buckets=64, hub_salt=16)
        # the hub's rows land in ONE s_bucket but spread over the salts
        assert out.select("s_bucket").distinct().count() == 1
        salt_counts = out.groupBy("salt").count().collect()
        assert len(salt_counts) == 16
        sizes = [r["count"] for r in salt_counts]
        assert max(sizes) < 5000 * 0.2  # no salt partition dominates

    def test_materialize_roundtrip(self, spark, tmp_path):
        """materialize_triples: dedup + bucket/salt + partitioned write;
        read-back equals the deduped input and partition dirs exist."""
        import os

        from pyspark.sql import functions as F

        from py_sema_spark.model import materialize_triples

        df = spark.range(200).select(
            F.concat(F.lit("urn:s:"), (F.col("id") % 40).cast("string")).alias("s"),
            F.lit("urn:p").alias("p"),
            F.concat(F.lit("o"), (F.col("id") % 100).cast("string")).alias("o"),
            F.lit("literal").alias("o_kind"),
            F.lit(None).cast("string").alias("o_datatype"),
            F.lit(None).cast("string").alias("o_lang"),
        )
        dup = df.unionByName(df)  # set semantics must collapse this
        path = str(tmp_path / "mat")
        materialize_triples(dup, path, n_buckets=8, hub_salt=4)
        back = spark.read.parquet(path)
        assert back.count() == df.distinct().count()
        assert any(d.startswith("s_bucket=") for d in os.listdir(path))
        # deterministic skolem-free content roundtrip
        a = {tuple(r) for r in df.distinct().select("s", "p", "o").collect()}
        b = {tuple(r) for r in back.select("s", "p", "o").collect()}
        assert a == b

    def test_skolemize_determinism(self, spark):
        from pyspark.sql import functions as F

        from py_sema_spark.model import skolemize

        df = spark.createDataFrame(
            [
                ("_:b0", "urn:p", "_:b1", "bnode", None, None, "https://x/1"),
                ("_:b0", "urn:p", "lit", "literal", None, None, "https://x/1"),
                ("_:b0", "urn:p", "lit", "literal", None, None, "https://x/2"),
            ],
            "s string, p string, o string, o_kind string,"
            " o_datatype string, o_lang string, src_url string",
        )
        out = skolemize(df).collect()
        subs = {r["src_url"]: r["s"] for r in out}
        # same (url, label) → same IRI; different url → different IRI
        assert subs["https://x/1"].startswith("urn:skolem:")
        assert subs["https://x/1"] != subs["https://x/2"]
        o_kinds = {r["o_kind"] for r in out}
        assert "bnode" not in o_kinds
        again = {r["src_url"]: r["s"] for r in skolemize(df).collect()}
        assert again == subs
