"""Spark job budgets of one small ``Pipeline.run``, plus the stage
metrics and canonicalization parity of that same run, and a
differential test of the two canonicalization paths on random graphs;
then job budgets of the serve-side operations (syncfs, the parquet
store and its registry) on a few tiny Turtle dumps.

At today's sizes a job costs ~0.2-0.4 s whatever its input, so a build's
cost follows how many jobs it starts. Job counts per stage are
deterministic for a fixed input and session, so they are pinned here as
upper bounds: a change that adds a per-call job (a probe, a read-back, a
metrics aggregate, a loop round) fails here, not only in a benchmark.

Each stage or operation runs in its own job group; ``statusTracker``
gives its jobs. The inputs are tiny (a few dozen pages, a handful of
sameAs edges) and each run is shared by the tests that read it.
"""

import os
import time
import uuid
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.dataset as ds
import pytest

from py_sema_spark.model import CORPUS_SCHEMA
from py_sema_spark.operators import linkage
from py_sema_spark.pipeline import Pipeline
from py_sema_spark.sources.corpus import build_page, entity_iri, entity_label

SEED = 5
N_PAGES = 40
OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"
# sameAs clusters over entity indices: a chain, a star, a pair (one edge
# reversed and one duplicated), plus a self-loop
CLUSTERS = [[3, 9, 4, 12], [7, 2, 15, 20, 11], [30, 6]]
TERM_COLS = ["s", "p", "o", "o_kind", "o_datatype", "o_lang"]

# jobs per stage (upper bounds) on the inputs above; a stage's metrics
# rows cost none of them
STAGE_JOB_BUDGETS = {
    "01_extract": 2,
    "02_clean_skolemize": 3,
    "03_mention_link": 6,
    "04_canonicalize": 5,
    "05_materialize": 9,
}


def _sameas_edges():
    edges = []
    chain, star, pair = CLUSTERS
    edges += list(zip(chain, chain[1:]))
    edges += [(star[0], m) for m in star[1:]]
    edges += [(pair[1], pair[0]), (pair[0], pair[1]), (pair[0], pair[1])]
    edges.append((5, 5))
    return edges


def _corpus(spark):
    import pandas as pd

    rows = [build_page(SEED, i, N_PAGES) for i in range(N_PAGES)]
    ts = rows[0][1]
    edges = _sameas_edges()
    for k in range(0, len(edges), 4):
        body = "\n".join(
            f"<{entity_iri(a)}> <{OWL_SAMEAS}> <{entity_iri(b)}> ."
            for a, b in edges[k : k + 4]
        )
        rows.append(
            (f"https://corpus.example.org/sameas/{k}", ts, body.encode(), body, "en")
        )
    pdf = pd.DataFrame(rows, columns=CORPUS_SCHEMA.fieldNames())
    return spark.createDataFrame(pdf, CORPUS_SCHEMA)


def _dictionary(spark):
    import pandas as pd

    pdf = pd.DataFrame(
        [(entity_iri(i), entity_label(SEED, i)) for i in range(1, N_PAGES)],
        columns=["entity", "label"],
    )
    return spark.createDataFrame(pdf, "entity string, label string")


@contextmanager
def _job_group(sc, group: str):
    keys = ("spark.jobGroup.id", "spark.job.description")
    prev = [sc.getLocalProperty(k) for k in keys]
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        for k, v in zip(keys, prev):
            sc.setLocalProperty(k, v)


def _jobs(sc, group: str) -> int:
    # job starts reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def budget_run(spark, tmp_path_factory):
    """One small run with sameAs pages and a dictionary, each stage and
    each metrics write in its own job group."""
    sc = spark.sparkContext
    corpus, dictionary = _corpus(spark), _dictionary(spark)
    tag = uuid.uuid4().hex[:8]
    groups: dict = {}
    real_stage, real_record = Pipeline.stage, Pipeline._record_metrics

    def stage(self, name, build, **kw):
        groups[name] = f"budget-{tag}-{name}"
        with _job_group(sc, groups[name]):
            return real_stage(self, name, build, **kw)

    def record(self, name, path):
        groups[f"metrics:{name}"] = f"budget-{tag}-metrics-{name}"
        with _job_group(sc, groups[f"metrics:{name}"]):
            return real_record(self, name, path)

    wd = str(tmp_path_factory.mktemp("budget"))
    t0 = time.time()
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(Pipeline, "stage", stage)
        mp.setattr(Pipeline, "_record_metrics", record)
        Pipeline(spark, wd).run(corpus, dictionary=dictionary, n_buckets=8)
    wall = time.time() - t0
    jobs = {name: _jobs(sc, g) for name, g in groups.items()}
    print(f"budget run: {wall:.1f} s, jobs {jobs}")
    return {"wd": wd, "jobs": jobs, "corpus": corpus, "dictionary": dictionary}


def _rows(path, cols):
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=cols)
    return sorted(zip(*(t.column(c).to_pylist() for c in cols)), key=repr)


class TestJobBudgets:
    def test_stage_job_budgets(self, budget_run):
        jobs = budget_run["jobs"]
        for name, budget in STAGE_JOB_BUDGETS.items():
            assert jobs[name] <= budget, (name, jobs[name], budget)

    def test_stage_metrics_run_no_job(self, budget_run):
        metrics = {k: v for k, v in budget_run["jobs"].items() if k.startswith("metrics:")}
        assert set(metrics) == {f"metrics:{n}" for n in STAGE_JOB_BUDGETS}
        assert all(v == 0 for v in metrics.values()), metrics


class TestStageMetrics:
    def test_stage_rows_match_outputs(self, spark, budget_run):
        wd = budget_run["wd"]
        m = Pipeline(spark, wd).metrics()
        assert m.schema.simpleString() == (
            "struct<stage:string,partition_id:int,rows:bigint,"
            "ts:timestamp,status:string>"
        )
        by_stage = {
            r["stage"]: (r["rows"], r["parts"])
            for r in m.groupBy("stage")
            .agg({"rows": "sum", "partition_id": "count"})
            .withColumnsRenamed({"sum(rows)": "rows", "count(partition_id)": "parts"})
            .collect()
        }
        assert set(by_stage) == set(STAGE_JOB_BUDGETS)
        for name, (rows, _parts) in by_stage.items():
            assert rows == spark.read.parquet(f"{wd}/{name}").count(), name
        # the bucketed stage counts one row per file across its
        # s_bucket= subdirectories
        assert by_stage["05_materialize"][1] > 1

        # the same table through pyarrow, as the benchmark reads it
        t = ds.dataset(f"{wd}/stage_metrics", format="parquet").to_table()
        assert t.schema.field("ts").type == pa.timestamp("us", tz="UTC")
        assert t.schema.field("partition_id").type == pa.int32()
        assert t.schema.field("rows").type == pa.int64()
        sums: dict = {}
        for s, r in zip(t.column("stage").to_pylist(), t.column("rows").to_pylist()):
            sums[s] = sums.get(s, 0) + r
        assert sums == {k: v[0] for k, v in by_stage.items()}

    def test_chunked_stage_rows_match_outputs(self, spark, tmp_path_factory):
        from pyspark.sql import functions as F

        wd = str(tmp_path_factory.mktemp("chunk_metrics"))
        source = spark.range(0, 300, numPartitions=3).select(
            F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
            (F.col("id") % 7).alias("v"),
        )
        p = Pipeline(spark, wd)
        out = p.chunked_stage(
            "01_extract", source, lambda df: df.where(F.col("v") != 0), n_chunks=3
        )
        total = out.count()
        assert total == source.where(F.col("v") != 0).count()
        t = ds.dataset(f"{wd}/stage_metrics", format="parquet").to_table()
        sums: dict = {}
        for s, r in zip(t.column("stage").to_pylist(), t.column("rows").to_pylist()):
            sums[s] = sums.get(s, 0) + r
        assert set(sums) == {f"01_extract/chunk={i}" for i in range(3)}
        for i in range(3):
            assert sums[f"01_extract/chunk={i}"] == spark.read.parquet(
                f"{wd}/01_extract/chunk={i}"
            ).count()
        assert sum(sums.values()) == total
        assert p.metrics().count() == t.num_rows


class TestCanonicalizationPaths:
    def test_spark_path_run_is_identical(self, spark, budget_run, tmp_path_factory):
        """The same run with the driver path switched off (the edge
        bound at 0 forces connected_components) writes the same
        canonicalized and materialized rows."""
        wd = str(tmp_path_factory.mktemp("budget_spark_canon"))
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(linkage, "DRIVER_CANON_MAX_EDGES", 0)
            Pipeline(spark, wd).run(
                budget_run["corpus"], dictionary=budget_run["dictionary"], n_buckets=8
            )
        for stage in ("04_canonicalize", "05_materialize"):
            cols = TERM_COLS + (["g", "s_bucket", "salt"] if stage == "05_materialize" else [])
            want = _rows(os.path.join(wd, stage), cols)
            got = _rows(os.path.join(budget_run["wd"], stage), cols)
            assert got == want, stage
        # the run did canonicalize: every cluster collapsed to its min IRI
        iris = {r[0] for r in got} | {r[2] for r in got if r[3] == "iri"}
        for members in CLUSTERS:
            present = {entity_iri(i) for i in members} & iris
            assert present == {min(entity_iri(i) for i in members)}

    def test_union_find_matches_connected_components(self, spark):
        """Driver union-find vs the Spark connected-components loop on
        random graphs: long chains (beyond 2^5 hops), stars, random
        sparse graphs, self-loops, duplicate and reversed edges, null
        endpoints and non-ASCII IRIs, in one edge set."""
        import random

        rng = random.Random(0)
        # code-point order differs from UTF-16 order between U+FFFF and
        # U+1F600; é, ß, Ω and 水 sort above every ASCII letter
        alphabet = ["a", "Z", "é", "ß", "Ω", "水", "\uffff", "\U0001f600", "0"]

        def nodes(g, n):
            return [f"http://ex.org/{g}/{rng.choice(alphabet)}{i}" for i in range(n)]

        def directed(a, b):
            return (a, b) if rng.random() < 0.5 else (b, a)

        edges = []
        for g in range(4):
            chain = nodes(f"chain{g}", rng.randint(33, 70))
            edges += [directed(a, b) for a, b in zip(chain, chain[1:])]
            star = nodes(f"star{g}", rng.randint(5, 20))
            edges += [directed(star[0], leaf) for leaf in star[1:]]
            sparse = nodes(f"sparse{g}", 30)
            edges += [(rng.choice(sparse), rng.choice(sparse)) for _ in range(25)]
        loops = nodes("loops", 4)
        edges += [(x, x) for x in loops] + [(loops[0], loops[1])]
        edges += rng.sample(edges, 20) + [(b, a) for a, b in rng.sample(edges, 20)]
        lone = nodes("null", 3)
        edges += [(lone[0], None), (None, lone[1]), (None, None), (lone[2], lone[2])]
        rng.shuffle(edges)

        got = linkage.union_find_canonical(edges)
        df = spark.createDataFrame(edges, "src string, dst string")
        want = sorted(
            (r["member"], r["canonical"]) for r in linkage.canonical_map(df).collect()
        )
        assert got == want
        assert all(m != c and c < m for m, c in got)
        assert not {lone[0], lone[1]} & {x for pair in got for x in pair}
        driver = linkage.sameas_canonical_map(df)
        assert sorted((r["member"], r["canonical"]) for r in driver.collect()) == got

    def test_nothing_to_rewrite(self, spark):
        schema = "src string, dst string"
        assert linkage.sameas_canonical_map(spark.createDataFrame([], schema)) is None
        loops = spark.createDataFrame([("x", "x"), ("y", None)], schema)
        assert linkage.sameas_canonical_map(loops) is None
        assert linkage.union_find_canonical([("b", "a"), ("c", "b"), ("a", "a")]) == [
            ("b", "a"),
            ("c", "a"),
        ]


# ---- serve-side operations: syncfs, the store and its registry ----

# jobs per serve operation (upper bounds). The write path runs on the
# driver; a scoped update evaluates in Spark and collects once; a
# select is one collect of its plan.
SERVE_JOB_BUDGETS = {
    "sync.add": 0,
    "sync.update_add_remove": 0,
    "registry.touch": 0,
    "registry.drop": 0,
    "registry.lastmod_ts": 0,
    "registry.named_graphs": 0,
    "store.update": 1,
    "store.select": 1,
}
SYNC_EX = "http://t.ex/"
SYNC_TTL = '@prefix ex: <http://t.ex/> .\nex:{k} ex:p "{v}" ; ex:q ex:{k}2 .\n'


@pytest.fixture(scope="module")
def serve_run(spark, tmp_path_factory):
    """Two syncs (three adds; then an update, an add and a remove),
    registry calls, a scoped update and a select, each operation in
    its own job group."""
    from py_sema_spark.store import ParquetTripleStore
    from py_sema_spark.syncfs import perform_sync

    sc = spark.sparkContext
    tag = uuid.uuid4().hex[:8]
    root = tmp_path_factory.mktemp("serve_budget")
    dumps = root / "dumps"
    dumps.mkdir()
    for k in "abc":
        (dumps / f"{k}.ttl").write_text(SYNC_TTL.format(k=k, v=1))
    store = ParquetTripleStore(spark, str(root / "store"))
    jobs, out = {}, {}

    def run(name, fn):
        group = f"serve-{tag}-{name}"
        with _job_group(sc, group):
            out[name] = fn()
        jobs[name] = _jobs(sc, group)

    run("sync.add", lambda: perform_sync(spark, str(dumps), store))
    (dumps / "a.ttl").write_text(SYNC_TTL.format(k="a", v=2))
    future = time.time() + 3600
    os.utime(dumps / "a.ttl", (future, future))
    (dumps / "c.ttl").unlink()
    (dumps / "d.ttl").write_text(SYNC_TTL.format(k="d", v=1))
    run("sync.update_add_remove", lambda: perform_sync(spark, str(dumps), store))

    reg = store.registry
    ng = store.mapper.key_to_ng("b.ttl")
    run("registry.touch", lambda: reg.touch([ng]))
    run("registry.lastmod_ts", lambda: reg.lastmod_ts(ng))
    run("registry.named_graphs", reg.named_graphs)
    reg.touch(["urn:sync:scratch"])
    run("registry.drop", lambda: reg.drop("urn:sync:scratch"))
    note = f"<{SYNC_EX}b> <{SYNC_EX}note> ?n"
    run(
        "store.update",
        lambda: store.update(
            f'INSERT DATA {{ <{SYNC_EX}b> <{SYNC_EX}note> "n1" }}', named_graph=ng
        ),
    )
    run(
        "store.select",
        lambda: store.select(f"SELECT ?n WHERE {{ {note} }}", named_graph=ng).to_list(),
    )
    print(f"serve budget run: jobs {jobs}")
    return {"jobs": jobs, "out": out, "store": store, "dumps": dumps}


class TestServeJobBudgets:
    def test_serve_job_budgets(self, serve_run):
        jobs = serve_run["jobs"]
        assert set(jobs) == set(SERVE_JOB_BUDGETS)
        for name, budget in SERVE_JOB_BUDGETS.items():
            assert jobs[name] <= budget, (name, jobs[name], budget)

    def test_serve_run_results(self, serve_run):
        from py_sema_spark.syncfs import load_graph_file

        out, store = serve_run["out"], serve_run["store"]
        assert out["sync.add"]["added"] == ["a.ttl", "b.ttl", "c.ttl"]
        rep = out["sync.update_add_remove"]
        assert (rep["added"], rep["updated"], rep["removed"], rep["skipped"]) == (
            ["d.ttl"], ["a.ttl"], ["c.ttl"], ["b.ttl"]
        )
        ng = store.mapper.key_to_ng("b.ttl")
        # the scoped update touched b after the lookup
        assert out["registry.lastmod_ts"] < store.registry.lastmod_ts(ng)
        assert sorted(out["registry.named_graphs"]) == [
            store.mapper.key_to_ng(k) for k in ("a.ttl", "b.ttl", "d.ttl")
        ]
        assert sorted(store.keys) == ["a.ttl", "b.ttl", "d.ttl"]
        assert out["store.select"] == [{"n": "n1"}]
        spark = store.spark
        for key in ("a.ttl", "d.ttl"):
            want = load_graph_file(spark, str(serve_run["dumps"] / key)).collect()
            assert sorted(store.graph_for_key(key).collect()) == sorted(want)
        assert store.graph_for_key("b.ttl").count() == 3
