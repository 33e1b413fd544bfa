"""Plan-shape regression budgets: every audited query's physical plan
must stay within its recorded exchange budget (PLANS.md shapes).

An Exchange is the unit of shuffle cost at cluster scale; these
budgets pin the plans the audits signed off on, so a refactor that
silently adds a shuffle (lost broadcast, un-reused subtree, a window
acquiring its own partitioning) fails here long before a bench run
could notice. Budgets are the audited count + headroom of 2 (minor
planner-version drift), never more.
"""

import pytest

from py_sema_spark.queries.benchqueries import QUERIES

SF = "/root/testdata/sf0.001"

# audited exchange counts (see PLANS.md) + 2 headroom
BUDGETS = {
    "heavy_hitters": 8 + 2,
    # algebra-path SPARQL (queries/algebra.py): certain-var analysis
    # keeps every join a broadcast/hash equi-join — no BNLJ, 1-2
    # exchanges (audited in PLANS.md)
    "sparql_optional_scoped_filter": 2 + 2,
    "sparql_union_optional": 2 + 2,
    "sparql_nested_minus": 1 + 2,
}


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_exchange_budget(spark, name):
    plan = (
        QUERIES[name](spark, SF)._jdf.queryExecution().executedPlan()
    ).toString()
    got = plan.count("Exchange")
    assert got <= BUDGETS[name], (
        f"{name}: {got} exchanges > budget {BUDGETS[name]} — a shuffle "
        "crept in; re-audit the plan (PLANS.md) before raising the budget"
    )
    # no query in this set may degenerate to a cartesian product
    assert "CartesianProduct" not in plan


def test_materialize_dedup_single_exchange(spark):
    """materialize_triples' dedup must ride the (s_bucket, salt)
    repartition exchange — including the layout columns in the dedup
    key makes HashPartitioning(s_bucket, salt) satisfy the aggregate's
    clustering, so exactly ONE shuffle feeds the partitioned write
    (round-3 review fix: the full-key dedup added a second exchange
    and scattered the write across all bucket directories)."""
    from pyspark.sql import functions as F

    from py_sema_spark.model import TRIPLE_FIELDS, with_subject_bucket

    df = spark.range(1000).select(
        F.concat(F.lit("urn:s"), F.col("id") % 100).alias("s"),
        F.lit("urn:p").alias("p"),
        F.col("id").cast("string").alias("o"),
        F.lit("literal").alias("o_kind"),
        F.lit(None).cast("string").alias("o_datatype"),
        F.lit(None).cast("string").alias("o_lang"),
    )
    out = with_subject_bucket(df, 16, 4, None)
    out = out.repartition(F.col("s_bucket"), F.col("salt"))
    deduped = out.dropDuplicates(
        [c for c in out.columns if c in set(TRIPLE_FIELDS)]
        + ["s_bucket", "salt"]
    )
    plan = (
        deduped._jdf.queryExecution().executedPlan()
    ).toString()
    assert plan.count("Exchange") == 1, plan
