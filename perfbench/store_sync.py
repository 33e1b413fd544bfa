"""The write side of the serve workload: sembench-style refresh rounds
on a ``ParquetTripleStore``.

Each round is:

1. ``refresh`` — ``subyt`` renders the changed tabular records (one
   updated, one added) into N-Triples dump files, one dump file is
   deleted, and ``syncfs.perform_sync`` applies the add, update and
   remove to the store;
2. two scoped ``store.update`` SPARQL Updates (INSERT DATA of a note
   into the graph just refreshed);
3. one scoped ``store.select`` that must see every note.

After each refresh every graph's triples equal a parse of its dump
file (plus the notes inserted since), and removed graphs are absent.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time

from . import inputs
from .harness import median

# the starting store is seed-independent, so the program builds it once
# per checkout; --seed drives which records change and the requests
BASE_FILES = 4
EX = "http://example.org/sync/"
UPDATES_PER_ROUND = 2

TEMPLATE = (
    "<" + EX + "{{ _.key }}> <http://purl.org/dc/terms/title> \"{{ _.title }}\" .\n"
    "<" + EX + "{{ _.key }}> <" + EX + "version> \"{{ _.version }}\" .\n"
    "{% for j in range(_.n_items) %}"
    "<" + EX + "{{ _.key }}/item/{{ j }}> <" + EX + "partOf> <" + EX + "{{ _.key }}> .\n"
    "<" + EX + "{{ _.key }}/item/{{ j }}> <" + EX + "value> \"{{ _.title }} {{ j }} "
    "v{{ _.version }}\" .\n"
    "{% endfor %}"
)

_NT = re.compile(r'^<([^>]*)> <([^>]*)> (?:<([^>]*)>|"((?:[^"\\]|\\.)*)")\s*\.\s*$')
_WORDS = ["tide", "reef", "kelp", "fjord", "dune", "gyre", "krill", "swell", "quay"]


def parse_dump(path: str) -> list[tuple]:
    """The benchmark's own N-Triples line parser: (s, p, o, kind)."""
    out = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            if not line.strip():
                continue
            m = _NT.match(line)
            if not m:
                raise ValueError(f"unparseable dump line in {path}: {line!r}")
            iri = m.group(3)
            out.append((m.group(1), m.group(2), iri if iri is not None else m.group(4),
                        "iri" if iri is not None else "literal"))
    return out


def record(rng, key: str, version: int) -> dict:
    return {
        "key": key.removesuffix(".ttl"),
        "fname": key,
        "title": f"{rng.choice(_WORDS)} {rng.choice(_WORDS)} {key}",
        "version": version,
        "n_items": 8 + rng.randrange(7),
    }


def render(spark, records: list[dict], root: str) -> None:
    """subyt: one dump file per record, named by its ``fname``."""
    import pandas as pd
    from py_sema_spark.subyt.engine import SparkSubyt
    from py_sema_spark.subyt.sinks import PatternedSink

    df = spark.createDataFrame(pd.DataFrame(records))
    parts = SparkSubyt(TEMPLATE, order_by=["key"]).process(df)
    # parts carry the ctrl index only: attach each record's file name
    # by its position in the ``key`` order
    names = spark.createDataFrame(
        [(i, r["fname"]) for i, r in enumerate(sorted(records, key=lambda r: r["key"]))],
        "idx long, fname string",
    )
    PatternedSink(root, "{fname}").write(parts.join(names, "idx"))


def changed_files(report: dict) -> int:
    """Files a ``perform_sync`` report added, updated or removed."""
    return len(report["added"]) + len(report["updated"]) + len(report["removed"])


def note_iri(key: str) -> str:
    return f"{EX}notes/{key}"


class StoreSync:
    name = "store_sync"

    def __init__(self, ctx):
        self.ctx = ctx
        self.sync_s: list[float] = []
        self.reports: list[dict] = []
        self.rendered: list[int] = []

    @classmethod
    def cache_dir(cls, ctx) -> str:
        return os.path.join(ctx.work, "cache", cls.name)

    @classmethod
    def cache_ready(cls, ctx) -> bool:
        return os.path.exists(os.path.join(cls.cache_dir(ctx), "_DONE"))

    @classmethod
    def build_cache(cls, ctx) -> None:
        from py_sema_spark.store import ParquetTripleStore
        from py_sema_spark.syncfs import perform_sync

        from .harness import start_session

        d = cls.cache_dir(ctx)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        rng = inputs.seeded_rng(0, "store_base")
        recs = [record(rng, f"ds-{i:03d}.ttl", 1) for i in range(BASE_FILES)]
        spark = start_session(ctx.work)
        render(spark, recs, os.path.join(d, "dumps"))
        perform_sync(spark, os.path.join(d, "dumps"),
                     ParquetTripleStore(spark, os.path.join(d, "store")))
        spark.stop()
        with open(os.path.join(d, "_DONE"), "w") as fh:
            json.dump({"files": BASE_FILES}, fh)

    def prepare(self) -> None:
        src = self.cache_dir(self.ctx)
        self.dumps = os.path.join(self.ctx.run_dir, "dumps")
        self.store_dir = os.path.join(self.ctx.run_dir, "store")
        shutil.copytree(os.path.join(src, "dumps"), self.dumps)
        shutil.copytree(os.path.join(src, "store"), self.store_dir)
        self.alive = sorted(os.listdir(self.dumps))
        self.notes: dict[str, list[str]] = {}
        self.rng = inputs.seeded_rng(self.ctx.seed, "store_rounds")
        self.versions = {k: 1 for k in self.alive}

    def load(self, spark) -> None:
        from py_sema_spark.store import ParquetTripleStore

        self.store = ParquetTripleStore(spark, self.store_dir)
        if set(self.store.keys) != set(self.alive):
            raise RuntimeError("the starting store does not match its dump files")

    def _update(self, key: str, note: str) -> None:
        self.store.update(
            f'INSERT DATA {{ <{note_iri(key)}> <{EX}note> "{note}" }}',
            named_graph=self.store.mapper.key_to_ng(key),
        )
        self.notes.setdefault(key, []).append(note)

    def _select(self, key: str) -> list:
        q = f"SELECT ?n WHERE {{ <{note_iri(key)}> <{EX}note> ?n }}"
        rows = self.store.select(q, named_graph=self.store.mapper.key_to_ng(key)).to_list()
        return sorted(r["n"] for r in rows)

    def _check_graphs(self) -> str | None:
        keys = set(self.store.keys)
        if keys != set(self.alive):
            return f"store graphs {sorted(keys ^ set(self.alive))} disagree with the dump folder"
        for key in self.alive:
            want = parse_dump(os.path.join(self.dumps, key))
            want += [(note_iri(key), f"{EX}note", n, "literal") for n in self.notes.get(key, [])]
            got = [
                (r["s"], r["p"], r["o"], r["o_kind"])
                for r in self.store.graph_for_key(key).collect()
            ]
            if sorted(got) != sorted(set(want)):
                return f"graph {key}: {len(got)} triples, its dump file {len(set(want))}"
        return None

    def round(self, spark, client, r: int) -> None:
        """One refresh round (see the module docstring)."""
        from py_sema_spark.syncfs import perform_sync

        upd = self.rng.choice(self.alive)
        rem = self.rng.choice([k for k in self.alive if k != upd])
        add = f"ds-{self.ctx.seed % 1000:03d}-{r:03d}.ttl"
        self.versions[upd] += 1
        self.versions[add] = 1
        recs = [record(self.rng, upd, self.versions[upd]), record(self.rng, add, 1)]
        expect = {"added": [add], "updated": [upd], "removed": [rem]}

        def refresh():
            render(spark, recs, self.dumps)
            os.remove(os.path.join(self.dumps, rem))
            t0 = time.perf_counter()
            rep = perform_sync(spark, self.dumps, self.store)
            self.sync_s.append(time.perf_counter() - t0)
            return rep

        def check_refresh(rep):
            self.reports.append(rep)
            self.rendered.append(len(recs))
            self.alive = sorted(set(self.alive) - {rem} | {add})
            self.notes.pop(upd, None)
            self.notes.pop(rem, None)
            got = {k: sorted(rep[k]) for k in expect}
            if got != expect:
                return f"sync report {got} != expected {expect}"
            return self._check_graphs()

        def check_select(got):
            want = sorted(self.notes.get(target, []))
            return None if got == want else f"select on {target} saw {got}, expected {want}"

        client.op(spark, "refresh", refresh, check_refresh)
        target = add if r % 2 == 0 else upd
        for u in range(UPDATES_PER_ROUND):
            client.op(spark, "update", lambda n=f"round {r} note {u}": self._update(target, n))
        client.op(spark, "select", lambda: self._select(target), check_select)

    # ---- metrics ----

    def commits(self) -> int:
        """Graph changes committed: synced files plus SPARQL updates."""
        return sum(changed_files(r) + UPDATES_PER_ROUND for r in self.reports)

    def named(self, client) -> list[tuple]:
        changed = sum(changed_files(r) for r in self.reports)
        up = client.samples.get("update", [])
        sel = client.samples.get("select", [])
        return [
            ("sync_files_per_s", changed / sum(self.sync_s) if self.sync_s else 0.0,
             "files/s", len(self.sync_s)),
            ("write_p50_ms", median(up), "ms", len(up)),
            ("store_read_p50_ms", median(sel), "ms", len(sel)),
        ]

    def layers(self, stats) -> dict:
        spans = stats.t.spans

        def durs(name: str) -> list[float]:
            return [s["dur_s"] * 1000 for s in stats.named(name)]

        syncs = stats.named("syncfs.sync")
        changed = sum(changed_files(r) for r in self.reports)
        lookups = [
            sum(1 for i in stats.t.subtree(s["id"]) if spans[i]["name"] == "registry.lookup")
            for s in syncs
        ]
        renders = [
            sum(s["dur_s"] * 1000 for s in spans
                if s["name"] == "subyt.render" and s["parent"] == op["id"])
            for op in stats.named("op.refresh")
        ]
        return {
            "store.insert_ms": median(durs("store.insert")),
            "store.insert_jobs": median(
                [stats.incl(s, "jobs") for s in stats.named("store.insert")]
            ),
            "store.drop_ms": median(durs("store.drop")),
            "store.select_ms": median(durs("store.select")),
            "store.update_ms": median(durs("store.update")),
            "store.jobs_per_changed_file": (
                sum(stats.incl(s, "jobs") for s in syncs) / changed if changed else 0.0
            ),
            "registry.touch_ms": median(durs("registry.touch")),
            "registry.touch_jobs": median(
                [stats.incl(s, "jobs") for s in stats.named("registry.touch")]
            ),
            "registry.lookup_ms": median(durs("registry.lookup")),
            "registry.lookups_per_sync": median(lookups),
            "syncfs.parse_ms": median(durs("syncfs.parse")),
            "syncfs.files_changed": median([changed_files(r) for r in self.reports]),
            "syncfs.files_skipped": median([len(r["skipped"]) for r in self.reports]),
            "syncfs.self_ms": median([s["self_s"] * 1000 for s in syncs]),
            "subyt.render_ms": median(renders),
            "subyt.records": median(self.rendered),
            "update.apply_ms": median(durs("update.apply")),
        }
