"""Pin kg_build's expected output per seed at the current commit.

    python3 perfbench/pin.py 0 39

Builds the kg_build corpus of every seed in the range with
``Pipeline.run`` and records ``[triple count, order-insensitive hash]``
in perfbench/pins.json, which the benchmark's output check compares
against.  Re-pin only when a change to the program is meant to change
the materialized graph.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import run  # noqa: E402


def main(lo: int, hi: int) -> None:
    run.pin_environment()
    from perfbench import inputs
    from perfbench.harness import start_session
    from perfbench.kg_build import PINS, check_build, load_pins
    from py_sema_spark.pipeline import Pipeline

    pins = load_pins()
    table = pins.setdefault("kg_build", {})
    spark = start_session(run.WORK)
    for seed in range(lo, hi + 1):
        inp = inputs.corpus_inputs(run.WORK, "kg_build", seed, inputs.KG_PAGES)
        wd = os.path.join(run.WORK, "pin_build")
        shutil.rmtree(wd, ignore_errors=True)
        Pipeline(spark, wd).run(
            spark.read.parquet(inp["corpus"]),
            dictionary=spark.read.parquet(inp["dictionary"]),
        )
        msg, facts = check_build(os.path.join(wd, "05_materialize"), inp["clusters"], None)
        if msg:
            raise SystemExit(f"seed {seed}: {msg}")
        table[str(seed)] = [facts["triples"], facts["hash"]]
        print(seed, table[str(seed)], flush=True)
        shutil.rmtree(wd, ignore_errors=True)
    spark.stop()
    run.stop_jvm()
    pins["kg_build"] = dict(sorted(table.items(), key=lambda kv: int(kv[0])))
    with open(PINS, "w") as fh:
        json.dump(pins, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main(int(sys.argv[1]), int(sys.argv[2]))
