"""kg_build: cold batch builds, ``Pipeline.run(corpus, dictionary=…)``.

Each measured operation is one full build into a fresh work directory
(no checkpoint to resume from), over the seeded corpus: the synthetic
web pages plus owl:sameAs cluster pages and re-crawled duplicates, with
the entity-label mention dictionary.  Loads extraction + RDF parsing,
clean/skolemize/dedup, mention linkage, closure canonicalization,
bucketed materialization and the pipeline checkpoints; never touches
queries, SHACL or the store.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

from . import inputs
from .harness import median, nearest_rank

PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")
TERM_COLS = ["s", "p", "o", "o_kind", "o_datatype", "o_lang"]


def read_rows(path: str, cols: list[str], filt=None) -> list[tuple]:
    import pyarrow.dataset as ds

    table = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=cols, filter=filt
    )
    return list(zip(*(table.column(c).to_pylist() for c in cols)))


def triples_digest(rows: list[tuple]) -> tuple[int, str]:
    """(count, order-insensitive hash): sum of per-triple sha1 prefixes."""
    acc = 0
    for r in rows:
        key = "\x1f".join("\x00" if v is None else v for v in r)
        acc += int.from_bytes(hashlib.sha1(key.encode()).digest()[:8], "big")
    return len(rows), f"{acc % (1 << 64):016x}"


def load_pins() -> dict:
    if os.path.exists(PINS):
        with open(PINS) as fh:
            return json.load(fh)
    return {}


def check_build(out_dir: str, clusters: list[list[int]], pin) -> tuple[str | None, dict]:
    """Output checks of one build; returns (failure or None, facts)."""
    from py_sema_spark.sources.corpus import entity_iri

    rows = read_rows(out_dir, TERM_COLS)
    n, digest = triples_digest(rows)
    facts = {"triples": n, "hash": digest}
    if len(set(rows)) != n:
        return f"{n - len(set(rows))} duplicate triple keys", facts
    if any(r[0].startswith("_:") or (r[3] != "literal" and r[2].startswith("_:")) for r in rows):
        return "blank-node terms in the output", facts
    iris = {r[0] for r in rows} | {r[2] for r in rows if r[3] == "iri"}
    canon = []
    for members in clusters:
        present = {entity_iri(i) for i in members} & iris
        if len(present) != 1:
            return f"sameAs cluster of {len(members)} maps to {len(present)} IRIs", facts
        canon.append(present.pop())
    facts["canonical"] = canon
    if pin is not None and [n, digest] != pin:
        return f"triples {n}/{digest} differ from the pinned {pin[0]}/{pin[1]}", facts
    return None, facts


class KgBuild:
    name = "kg_build"

    def __init__(self, ctx):
        self.ctx = ctx
        self.builds: list[dict] = []
        self.first_facts: dict | None = None
        self.pages_in = 0

    def prepare(self) -> None:
        self.inp = inputs.corpus_inputs(
            self.ctx.work, self.name, self.ctx.seed, inputs.KG_PAGES
        )
        self.pin = load_pins().get(self.name, {}).get(str(self.ctx.seed))

    def load(self, spark) -> None:
        self.corpus = spark.read.parquet(self.inp["corpus"])
        self.dictionary = spark.read.parquet(self.inp["dictionary"])
        self.pages_in = self.corpus.count()
        self.dictionary.count()

    def warmup(self, spark) -> None:
        """Start the Python workers and import the extraction stack on
        the tiny warm-up corpus; the measured build itself stays cold
        (first build of the JVM)."""
        from py_sema_spark.operators.extract import text_invariant

        text_invariant(spark.read.parquet(self.inp["warmup_corpus"])).count()

    def measure(self, spark, client, deadline_fn) -> None:
        from py_sema_spark.operators.extract import text_invariant
        from py_sema_spark.pipeline import Pipeline

        k = 0
        while not (k and deadline_fn()):
            wd = os.path.join(self.ctx.run_dir, f"build_{k}")
            shutil.rmtree(wd, ignore_errors=True)

            def build():
                return Pipeline(spark, wd).run(self.corpus, dictionary=self.dictionary)

            def check(_out, wd=wd, first=(k == 0)):
                msg, facts = check_build(
                    os.path.join(wd, "05_materialize"), self.inp["clusters"], self.pin
                )
                facts["wd"] = wd
                self.builds.append(facts)
                if msg:
                    return msg
                if self.first_facts is None:
                    self.first_facts = facts
                elif (facts["triples"], facts["hash"]) != (
                    self.first_facts["triples"],
                    self.first_facts["hash"],
                ):
                    return "two builds of one corpus differ"
                if first:
                    bad = text_invariant(self.corpus).where("NOT ok").count()
                    if bad:
                        return f"text_invariant false on {bad} pages"
                return None

            client.op(spark, "build", build, check)
            k += 1

    # ---- metrics ----

    def end_to_end(self, client) -> dict:
        ms = client.samples.get("build", [])
        triples = sum(b["triples"] for b in self.builds)
        n = len(ms)
        return {
            "throughput_per_s": (triples / (sum(ms) / 1000.0) if ms else 0.0, n),
            "p50_ms": (nearest_rank(ms, 0.5) if ms else 0.0, n),
            "p90_ms": (nearest_rank(ms, 0.9) if ms else 0.0, n),
        }

    def named(self, client) -> list[tuple]:
        value, n = self.end_to_end(client)["throughput_per_s"]
        return [("build_triples_per_s", value, "triples/s", n)]

    def layers(self, stats) -> dict:
        """Per-layer metrics of the measured builds (medians per build;
        Spark counters from the innermost span's job group)."""
        spans = stats.t.spans
        runs = stats.named("pipeline.run")
        out: dict = {}

        def per_build(stage_span: str, fn) -> float:
            vals = []
            for r in runs:
                for i in stats.t.subtree(r["id"]):
                    if spans[i]["name"] == stage_span:
                        vals.append(fn(spans[i]))
            return median(vals)

        mb = 1024.0 * 1024.0
        out["extract.wall_s"] = per_build("extract.stage", lambda s: s["dur_s"])
        out["extract.task_run_s"] = per_build(
            "extract.stage", lambda s: stats.incl(s, "run_ms") / 1000.0
        )
        out["extract.task_skew"] = per_build("extract.stage", lambda s: stats.own(s, "skew"))
        out["clean.wall_s"] = per_build("clean.stage", lambda s: s["dur_s"])
        out["clean.shuffle_write_mb"] = per_build(
            "clean.stage", lambda s: stats.incl(s, "shuffle_write_b") / mb
        )
        out["clean.spill_mb"] = per_build("clean.stage", lambda s: stats.incl(s, "spill_b") / mb)
        out["link.wall_s"] = per_build("link.stage", lambda s: s["dur_s"])
        out["link.task_run_s"] = per_build(
            "link.stage", lambda s: stats.incl(s, "run_ms") / 1000.0
        )
        out["link.shuffle_write_mb"] = per_build(
            "link.stage", lambda s: stats.incl(s, "shuffle_write_b") / mb
        )
        out["canon.wall_s"] = per_build("canon.stage", lambda s: s["dur_s"])
        out["canon.jobs"] = per_build("canon.stage", lambda s: stats.incl(s, "jobs"))
        out["materialize.wall_s"] = per_build("materialize.stage", lambda s: s["dur_s"])
        out["materialize.shuffle_write_mb"] = per_build(
            "materialize.stage", lambda s: stats.incl(s, "shuffle_write_b") / mb
        )
        out["materialize.fetch_wait_s"] = per_build(
            "materialize.stage", lambda s: stats.incl(s, "fetch_wait_ms") / 1000.0
        )
        # a run's direct children are its stage spans
        out["pipeline.self_s"] = median([r["self_s"] for r in runs])
        out["pipeline.jobs"] = median([stats.incl(r, "jobs") for r in runs])
        out.update(self._checkpoint_facts())
        return out

    def _checkpoint_facts(self) -> dict:
        """Counts read back from the last build's checkpoints (after
        the timed region, with pyarrow, no Spark job)."""
        import pyarrow.compute as pc
        import pyarrow.dataset as ds
        from py_sema_spark.sources.corpus import entity_iri

        b = next((b for b in reversed(self.builds) if "canonical" in b), None)
        if b is None:
            return {}
        wd = b["wd"]

        def stage_rows(stage: str) -> list[int]:
            rows = read_rows(os.path.join(wd, "stage_metrics"), ["stage", "rows"])
            return [r[1] for r in rows if r[0] == stage]

        ex = ds.dataset(os.path.join(wd, "01_extract"), format="parquet").to_table(
            columns=["kind", "src_url"], filter=pc.field("kind") == "triple"
        )
        triple_rows = ex.num_rows
        yielding = len(set(ex.column("src_url").to_pylist()))
        clean_rows = sum(stage_rows("02_clean_skolemize"))
        part_rows = stage_rows("05_materialize")
        du = 0
        for dp, _d, files in os.walk(wd):
            du += sum(os.path.getsize(os.path.join(dp, f)) for f in files)
        canon = set(b["canonical"])
        members = {
            entity_iri(i) for c in self.inp["clusters"] for i in c
        } - canon
        rewritten = 0
        for stage in ("02_clean_skolemize", "03_mention_link"):
            for s, o, kind in read_rows(os.path.join(wd, stage), ["s", "o", "o_kind"]):
                if s in members or (kind == "iri" and o in members):
                    rewritten += 1
        mean_part = sum(part_rows) / len(part_rows) if part_rows else 0
        return {
            "extract.pages_in": float(self.pages_in),
            "extract.yield_ratio": yielding / self.pages_in if self.pages_in else 0.0,
            "clean.dedup_ratio": clean_rows / triple_rows if triple_rows else 0.0,
            "link.mentions_out": float(sum(stage_rows("03_mention_link"))),
            "canon.clusters": float(len(canon)),
            "canon.rows_rewritten": float(rewritten),
            "materialize.partition_skew": max(part_rows) / mean_part if mean_part else 0.0,
            "pipeline.checkpoint_mb": du / (1024.0 * 1024.0),
        }
