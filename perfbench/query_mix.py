"""The read side of the serve workload: templated SPARQL requests and
SHACL validation against the KG that the program's own ``Pipeline.run``
materialized.

Requests are Jinja-templated SPARQL rendered with
``queries.templated.SparqlBuilder`` and run with
``queries.bgp.sparql_query``, plus ``shacl.validate``.  The mix is set
so that the median lands inside the fast class (point lookups on
Zipf-skewed keys dominate it) and the 90th percentile inside the slow
class (SHACL validation, then ``skos:broader+`` paths; 20% of
requests).  Every result multiset is compared with a DuckDB SQL twin
over the same KG parquet.  No extraction happens in the measured
process.
"""

from __future__ import annotations

import json
import os
import shutil
from contextlib import nullcontext

from . import inputs
from .harness import median, nearest_rank

# the KG's corpus is seed-independent, so the program builds it once
# per checkout; --seed drives the request stream
KG_CORPUS_SEED = 0

SKOS = "http://www.w3.org/2004/02/skos/core#"
DC = "http://purl.org/dc/terms/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
PFX = f"PREFIX skos: <{SKOS}> PREFIX dc: <{DC}> "
HUB = "http://www.example.org/collection/0"

TEMPLATES = {
    "point": PFX + "SELECT ?l WHERE { <{{ e }}> skos:prefLabel ?l }",
    "bgp": PFX + "SELECT ?c ?l ?id WHERE { ?c skos:broader <{{ e }}> . "
    "?c skos:prefLabel ?l . ?c dc:identifier ?id }",
    "group": PFX + "SELECT ?p (COUNT(?o) AS ?n) WHERE { <{{ col }}> skos:member ?m . "
    "?m ?p ?o } GROUP BY ?p",
    "optional": PFX + "SELECT ?c ?l WHERE { ?c skos:broader <{{ e }}> . "
    "OPTIONAL { ?c skos:altLabel ?l } FILTER(?c != <{{ x }}>) }",
    "ask": PFX + "ASK { <{{ e }}> skos:broader ?x . ?x skos:prefLabel ?l }",
    "construct": PFX + "CONSTRUCT { ?c skos:related <{{ e }}> } WHERE { ?c skos:broader <{{ e }}> }",
    "path": PFX + "SELECT ?a WHERE { <{{ e }}> skos:broader+ ?a }",
}

# DuckDB twins over view ``kg``; $-parameters match the template vars
TWINS = {
    "point": f"SELECT o AS l FROM kg WHERE s = $e AND p = '{SKOS}prefLabel'",
    "bgp": f"""SELECT a.s AS c, b.o AS l, d.o AS id FROM kg a
        JOIN kg b ON b.s = a.s AND b.p = '{SKOS}prefLabel'
        JOIN kg d ON d.s = a.s AND d.p = '{DC}identifier'
        WHERE a.p = '{SKOS}broader' AND a.o_kind = 'iri' AND a.o = $e""",
    "group": f"""SELECT b.p AS p, count(*) AS n FROM kg a JOIN kg b ON b.s = a.o
        WHERE a.s = $col AND a.p = '{SKOS}member' AND a.o_kind = 'iri' GROUP BY b.p""",
    "optional": f"""SELECT a.s AS c, b.o AS l FROM kg a
        LEFT JOIN kg b ON b.s = a.s AND b.p = '{SKOS}altLabel'
        WHERE a.p = '{SKOS}broader' AND a.o_kind = 'iri' AND a.o = $e AND a.s <> $x""",
    "ask": f"""SELECT EXISTS (SELECT 1 FROM kg a JOIN kg b ON b.s = a.o
        AND b.p = '{SKOS}prefLabel' WHERE a.s = $e AND a.p = '{SKOS}broader'
        AND a.o_kind = 'iri') AS ask""",
    "construct": f"""SELECT s, '{SKOS}related' AS p, $e AS o FROM kg
        WHERE p = '{SKOS}broader' AND o_kind = 'iri' AND o = $e""",
    "path": f"""WITH RECURSIVE r(a) AS (
          SELECT o FROM kg WHERE s = $e AND p = '{SKOS}broader' AND o_kind = 'iri'
          UNION
          SELECT k.o FROM r JOIN kg k ON k.s = r.a AND k.p = '{SKOS}broader'
            AND k.o_kind = 'iri')
        SELECT a FROM r""",
    "shacl": f"""SELECT c.s AS focus, 'maxCount' AS "constraint" FROM kg c
          JOIN kg i ON i.s = c.s AND i.p = '{DC}identifier'
          WHERE c.p = '{RDF_TYPE}' AND c.o = '{SKOS}Concept'
          GROUP BY c.s HAVING count(DISTINCT (i.o, i.o_kind, i.o_datatype, i.o_lang)) > 1
        UNION ALL
        SELECT c.s, 'minCount' FROM kg c
          WHERE c.p = '{RDF_TYPE}' AND c.o = '{SKOS}Concept' AND NOT EXISTS (
            SELECT 1 FROM kg l WHERE l.s = c.s AND l.p = '{SKOS}prefLabel')""",
}

SHAPES = f"""@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix skos: <{SKOS}> .
@prefix dc: <{DC}> .
<urn:perfbench:ConceptShape> a sh:NodeShape ;
    sh:targetClass skos:Concept ;
    sh:property [ sh:path skos:prefLabel ; sh:minCount 1 ] ;
    sh:property [ sh:path dc:identifier ; sh:maxCount 1 ] .
"""

# one cycle of 15 requests: 10 Zipf point lookups and 2 other fast
# requests (taking turns through FAST_OTHER), then the slow class (20%):
# 2 SHACL validations and one path.  Over two cycles the nearest-rank
# p50 (rank 15 of 30) sits 5 ranks inside the point lookups and p90
# (rank 27) inside the SHACL requests, below the paths.
CYCLE = ["point"] * 10 + ["other"] * 2 + ["shacl"] * 2 + ["path"]
FAST_OTHER = ["bgp", "group", "optional", "ask", "construct"]
SLOW = {"path", "shacl"}


def _norm(v):
    if isinstance(v, float) and v.is_integer():
        return str(int(v))
    return None if v is None else str(v)


def canon_rows(rows) -> list:
    return sorted((tuple(_norm(v) for v in r) for r in rows), key=repr)


def schedule(seed: int, n_pages: int, count: int) -> list[tuple[str, dict]]:
    """The seeded request stream: template kind + variables."""
    from py_sema_spark.sources.corpus import entity_iri

    rng = inputs.seeded_rng(seed, "requests")
    inner = max(2, n_pages // 4)
    zipf_any = iter(inputs.zipf_keys(seed, n_pages - 1, count))
    zipf_inner = iter(inputs.zipf_keys(seed + 7919, inner - 1, count))
    out = []
    turn = 0
    while len(out) < count:
        cycle = CYCLE[:]
        rng.shuffle(cycle)
        for kind in cycle:
            if kind == "other":
                kind = FAST_OTHER[turn % len(FAST_OTHER)]
                turn += 1
            if kind == "point":
                var = {"e": entity_iri(next(zipf_any))}
            elif kind in ("bgp", "ask", "construct"):
                var = {"e": entity_iri(next(zipf_inner))}
            elif kind == "optional":
                e = next(zipf_inner)
                var = {"e": entity_iri(e), "x": entity_iri(4 * e + 1)}
            elif kind == "group":
                var = {"col": HUB}
            elif kind == "path":
                var = {"e": entity_iri(rng.randrange(inner, n_pages))}
            else:
                var = {}
            out.append((kind, var))
    return out


class QueryMix:
    name = "query_mix"

    def __init__(self, ctx):
        self.ctx = ctx
        self.results: dict[str, list[int]] = {}
        self.violations: list[int] = []

    # ---- the KG, built by the program under test once per checkout ----

    @classmethod
    def cache_dir(cls, ctx) -> str:
        return os.path.join(ctx.work, "cache", cls.name)

    @classmethod
    def cache_ready(cls, ctx) -> bool:
        return os.path.exists(os.path.join(cls.cache_dir(ctx), "_DONE"))

    @classmethod
    def build_cache(cls, ctx) -> None:
        from py_sema_spark.pipeline import Pipeline

        from .harness import start_session

        inp = inputs.corpus_inputs(ctx.work, cls.name, KG_CORPUS_SEED, inputs.QM_PAGES)
        d = cls.cache_dir(ctx)
        shutil.rmtree(d, ignore_errors=True)
        spark = start_session(ctx.work)
        Pipeline(spark, os.path.join(d, "kg")).run(
            spark.read.parquet(inp["corpus"]),
            dictionary=spark.read.parquet(inp["dictionary"]),
        )
        spark.stop()
        with open(os.path.join(d, "_DONE"), "w") as fh:
            json.dump({"corpus_seed": KG_CORPUS_SEED, "pages": inputs.QM_PAGES}, fh)

    # ---- workload ----

    def prepare(self) -> None:
        import duckdb

        self.kg_path = os.path.join(self.cache_dir(self.ctx), "kg", "05_materialize")
        n = inputs.QM_PAGES
        self.requests = schedule(self.ctx.seed, n, 20 * len(CYCLE))
        # warm-up: one request of each kind, on keys of another seed
        warm = schedule(self.ctx.seed + 1_000_003, n, 3 * len(CYCLE))
        self.warm = list({kind: (kind, var) for kind, var in warm}.values())
        self.duck = duckdb.connect()
        self.duck.execute(
            "CREATE VIEW kg AS SELECT s, p, o, o_kind, o_datatype, o_lang FROM "
            f"read_parquet('{self.kg_path}/**/*.parquet', hive_partitioning = 1)"
        )
        from py_sema_spark.shacl import parse_shapes_ttl

        self.shapes = parse_shapes_ttl(SHAPES)

    def load(self, spark) -> None:
        self.kg = spark.read.parquet(self.kg_path)
        self.kg.count()

    def _request(self, kind: str, var: dict, span=lambda name: nullcontext()):
        """One read request; ``span`` times the collect of a SPARQL
        result (the traced run passes the tracer's)."""
        from py_sema_spark import shacl
        from py_sema_spark.queries import bgp, templated

        if kind == "shacl":
            return [(r["focus"], r["constraint"])
                    for r in shacl.validate(self.kg, self.shapes).collect()]
        sparql = templated.SparqlBuilder().build_from_string(TEMPLATES[kind], **var)
        df = bgp.sparql_query(self.kg, sparql)
        with span("bgp.exec"):
            rows = df.collect()
        if kind == "construct":
            return [(r["s"], r["p"], r["o"]) for r in rows]
        return [tuple(r) for r in rows]

    def _twin(self, kind: str, var: dict) -> list:
        return self.duck.execute(TWINS[kind], var).fetchall()

    def warmup(self, spark) -> None:
        for kind, var in self.warm:
            self._request(kind, var)

    def send(self, spark, client, requests) -> None:
        """Send ``requests`` one at a time, each checked against its
        DuckDB twin."""
        for kind, var in requests:

            def check(rows, kind=kind, var=var):
                got, want = canon_rows(rows), canon_rows(self._twin(kind, var))
                self.results.setdefault(kind, []).append(len(got))
                if kind == "shacl":
                    self.violations.append(len(got))
                if got != want:
                    return f"{kind}{var}: {len(got)} rows, DuckDB twin {len(want)}"
                return None

            client.op(spark, kind,
                      lambda kind=kind, var=var: self._request(kind, var, client.tracer.span),
                      check)

    # ---- metrics ----

    @staticmethod
    def read_ms(client) -> list[float]:
        return [v for k, vs in client.samples.items() if k in TEMPLATES or k == "shacl"
                for v in vs]

    def named(self, client) -> list[tuple]:
        ms = self.read_ms(client)
        n = len(ms)
        fast = [v for k, vs in client.samples.items() if k in TEMPLATES and k not in SLOW
                for v in vs]
        slow = [v for k, vs in client.samples.items() if k in SLOW for v in vs]
        return [
            ("read_p50_ms", nearest_rank(ms, 0.5) if ms else 0.0, "ms", n),
            ("read_p90_ms", nearest_rank(ms, 0.9) if ms else 0.0, "ms", n),
            ("read_qps", n / (sum(ms) / 1000.0) if ms else 0.0, "requests/s", n),
            ("fast_class_max_ms", max(fast) if fast else 0.0, "ms", len(fast)),
            ("slow_class_min_ms", min(slow) if slow else 0.0, "ms", len(slow)),
        ]

    def layers(self, stats) -> dict:
        comp = stats.named("bgp.compile")
        queries = [s for s in comp if stats.parent_name(s).startswith("op.")]
        exe = stats.named("bgp.exec")
        shacl_ops = stats.named("op.shacl")
        results = sum(sum(v) for k, v in self.results.items() if k != "shacl")
        return {
            "bgp.compile_ms": median([s["dur_s"] * 1000 for s in comp]),
            "bgp.exec_ms": median([s["dur_s"] * 1000 for s in exe]),
            "bgp.jobs_per_query": (
                sum(stats.incl(s, "jobs") for s in queries + exe) / len(queries)
                if queries else 0.0
            ),
            "bgp.scan_rows_per_result": (
                sum(stats.incl(s, "input_records") for s in queries + exe) / results
                if results else 0.0
            ),
            "templated.render_ms": median(
                [s["dur_s"] * 1000 for s in stats.named("templated.render")]
            ),
            # validate builds a lazy plan; the request (validate + collect)
            # is the validation
            "shacl.validate_ms": median([s["dur_s"] * 1000 for s in shacl_ops]),
            "shacl.jobs": median([stats.incl(s, "jobs") for s in shacl_ops]),
            "shacl.violations": median(self.violations),
        }
