"""Generative cross-engine check (SURVEY.md §5 dev-loop extras):
random predicate combinations over orders must produce identical rows
in Spark and DuckDB. Fixed queries pin known shapes; this sweeps the
predicate space for semantic drift (comparison ops, IN lists, BETWEEN
bounds, AND/OR nesting).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from linux_logs_spark.catalog import load
from linux_logs_spark.verify import compare_frames, run_oracle

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]

predicate = st.fixed_dictionaries(
    {
        "lo": st.integers(min_value=1000, max_value=400000),
        "span": st.integers(min_value=0, max_value=300000),
        "prios": st.lists(st.sampled_from(PRIORITIES), min_size=1, max_size=5, unique=True),
        "statuses": st.lists(st.sampled_from(STATUSES), min_size=1, max_size=3, unique=True),
        "disjunct": st.booleans(),
    }
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(p=predicate)
def test_random_predicates_match_duckdb(spark, sf_dir, p):
    from pyspark.sql import functions as F

    lo, hi = float(p["lo"]), float(p["lo"] + p["span"])
    prios = p["prios"]
    statuses = p["statuses"]

    price = F.col("o_totalprice").between(lo, hi)
    inlist = F.col("o_orderpriority").isin(*prios) & F.col("o_orderstatus").isin(
        *statuses
    )
    cond = price | inlist if p["disjunct"] else price & inlist

    sdf = (
        load(spark, sf_dir, "orders")
        .filter(cond)
        .select("o_orderkey", "o_totalprice", "o_orderpriority", "o_orderstatus")
    )

    prio_sql = ", ".join(f"'{x}'" for x in prios)
    stat_sql = ", ".join(f"'{x}'" for x in statuses)
    glue = "OR" if p["disjunct"] else "AND"
    sql = f"""
    SELECT o_orderkey, o_totalprice, o_orderpriority, o_orderstatus
    FROM orders
    WHERE (o_totalprice BETWEEN {lo} AND {hi})
       {glue} (o_orderpriority IN ({prio_sql}) AND o_orderstatus IN ({stat_sql}))
    """
    issues = compare_frames(sdf.toPandas(), run_oracle(sql, sf_dir))
    assert not issues, f"{p}: {issues}"


def test_block_pair_keys_covers_every_pair_exactly_once(spark):
    """The centralized blocked pair-enumeration geometry
    (functions/vector.block_pair_keys): for ANY (QB, CB) block config,
    every ordered id pair must meet in EXACTLY one (qblk, cblk) cell —
    zero would silently drop pairs from the exact cosine scans,
    two would double-count them."""
    from pyspark.sql import functions as F

    from linux_logs_spark.functions.vector import block_pair_keys

    ids = spark.range(0, 97).select(F.col("id").alias("vec_id"))
    for qb, cb in ((1, 1), (2, 3), (8, 8), (5, 1)):
        a = ids.select(
            F.col("vec_id").alias("ida"),
            *block_pair_keys("vec_id", qb, cb, "qblk", "cblk"),
        )
        b = ids.select(
            F.col("vec_id").alias("idb"),
            *block_pair_keys("vec_id", cb, qb, "cblk", "qblk"),
        )
        meets = (
            a.join(b, ["qblk", "cblk"])
            .groupBy("ida", "idb")
            .count()
            .agg(
                F.count("*").alias("n_pairs"),
                F.min("count").alias("min_meets"),
                F.max("count").alias("max_meets"),
            )
            .collect()[0]
        )
        assert meets["n_pairs"] == 97 * 97, (qb, cb, meets)
        assert meets["min_meets"] == 1 and meets["max_meets"] == 1, (qb, cb, meets)


def test_lsh_planes_are_full_rank_for_any_k():
    """A plane series of phase shifts of one sinusoid has rank 2, so K
    planes give ~2K buckets, not 2^K, and K stops mattering. The
    frequency-varied lsh_plane matrix must be FULL RANK for every K
    lsh_planes yields through the rehearsal tiers (4 at the committed
    scale factors up to 19 at 60M vectors), so 2^K buckets are
    actually reachable."""
    import numpy as np

    from linux_logs_spark.operators.llm_pipeline import lsh_plane

    for k in range(2, 20):
        planes = np.array(
            [[lsh_plane(j, i) for i in range(64)] for j in range(k)]
        )
        assert np.linalg.matrix_rank(planes) == k, f"rank deficient at K={k}"
