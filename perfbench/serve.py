"""serve: one closed-loop client reading the materialized KG while
refresh rounds land in the named-graph store.

The loop alternates a cycle of 15 read requests (query_mix.py) with a
refresh round (store_sync.py) until the run has at least two read
cycles and one round and ``--seconds`` have passed.  Reads and writes
touch disjoint data, so every read result is still checked against its
DuckDB twin and every store graph against its dump file.
"""

from __future__ import annotations

from .harness import nearest_rank
from .query_mix import CYCLE, QueryMix
from .store_sync import StoreSync

MIN_READ_CYCLES = 2


class Serve:
    name = "serve"

    def __init__(self, ctx):
        self.reads = QueryMix(ctx)
        self.writes = StoreSync(ctx)

    @classmethod
    def cache_ready(cls, ctx) -> bool:
        return QueryMix.cache_ready(ctx) and StoreSync.cache_ready(ctx)

    @classmethod
    def build_cache(cls, ctx) -> None:
        QueryMix.build_cache(ctx)
        StoreSync.build_cache(ctx)

    def prepare(self) -> None:
        self.reads.prepare()
        self.writes.prepare()

    def load(self, spark) -> None:
        self.reads.load(spark)
        self.writes.load(spark)

    def warmup(self, spark) -> None:
        # reads only: the first refresh of a run warms the write path
        # for the updates and the select after it
        self.reads.warmup(spark)

    def measure(self, spark, client, deadline_fn) -> None:
        requests = iter(self.reads.requests)
        cycles = rounds = 0
        while cycles < MIN_READ_CYCLES or not rounds or not deadline_fn():
            self.reads.send(spark, client, [next(requests) for _ in CYCLE])
            cycles += 1
            if cycles % MIN_READ_CYCLES == 1:
                self.writes.round(spark, client, rounds)
                rounds += 1

    # ---- metrics ----

    def end_to_end(self, client) -> dict:
        reads = self.reads.read_ms(client)
        writes = client.samples.get("refresh", []) + client.samples.get("update", [])
        write_s = sum(writes) / 1000.0
        return {
            "throughput_per_s": (self.writes.commits() / write_s if write_s else 0.0,
                                 len(writes)),
            "p50_ms": (nearest_rank(reads, 0.5) if reads else 0.0, len(reads)),
            "p90_ms": (nearest_rank(reads, 0.9) if reads else 0.0, len(reads)),
        }

    def named(self, client) -> list[tuple]:
        value, n = self.end_to_end(client)["throughput_per_s"]
        return self.reads.named(client) + self.writes.named(client) + [
            ("write_commits_per_s", value, "commits/s", n),
        ]

    def layers(self, stats) -> dict:
        out = self.reads.layers(stats)
        out.update(self.writes.layers(stats))
        return out
