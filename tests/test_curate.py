"""End-to-end curation funnel (operators/curate.py, q_curate).

The composite training-data prep job: each stage is an
individually-oracled primitive; these tests pin the COMPOSITION —
which doc each stage drops and why — on a crafted corpus where every
verdict is hand-checkable, plus the plan-shape contract at scale.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from promptner_spark.operators.curate import (
    curate_flags, curate_kept, curate_stats,
)

# 30 words, heavy in English marker trigrams (the/and/of/ing): passes
# the quality gate (len/word-length/punct/stopword bands) and the
# trigram evidence floor with pred=en.
_A = ("the quick brown fox of the morning and the lazy dog are "
      "jumping over the old fence and the wall of the garden while "
      "the wind is blowing through the trees")
_B = ("she was reading the long letter of the captain and thinking "
      "about the voyage across the sea to the island where the ship "
      "of the trading company is waiting")


def _corpus(spark):
    a_words = _A.split(" ")
    near_a = " ".join(a_words[: int(len(a_words) * 0.9)])
    rows = [
        (1, "en", _A),        # keeper of the A-content group, kept
        (2, "en", _A),        # exact copy → loses the keeper window
        (3, "en", near_a),    # 90% prefix → near-dup of 1, dropped
                              # (0.9: the 16/4 md5 band family
                              # provably collides at J=0.862;
                              # at the 0.8 prefix J=0.79 no band
                              # matches — deterministic either
                              # way, this test wants the hit)
        (4, "en", "x"),       # fails the quality gate (and langid)
        (5, "en", _B),        # independent passing doc, kept
    ]
    return spark.createDataFrame(rows, ["doc_id", "lang", "text"])


def test_funnel_verdicts_on_crafted_corpus(spark):
    flags = {
        r["doc_id"]: (r["pass_gate"], r["is_keeper"], r["is_kept"])
        for r in curate_flags(_corpus(spark)).collect()
    }
    assert flags[1] == (True, True, True)     # survives everything
    assert flags[2] == (True, False, False)   # exact-dup loser
    assert flags[3] == (True, True, False)    # near-dup of keeper 1
    assert flags[4] == (False, False, False)  # gate reject
    assert flags[5] == (True, True, True)


def test_kept_corpus_matches_flags(spark):
    kept = sorted(r["doc_id"] for r in curate_kept(_corpus(spark)).collect())
    assert kept == [1, 5]


def test_stats_funnel_is_monotone(spark):
    row = curate_stats(_corpus(spark)).collect()
    assert len(row) == 1 and row[0]["lang"] == "en"
    r = row[0]
    assert (r["n_docs"], r["n_quality"], r["n_exact"], r["n_kept"]) \
        == (5, 4, 3, 2)
    assert r["chars_kept"] == len(_A) + len(_B)


def test_exact_keeper_ignores_gate_failing_low_id(spark):
    """A gate-failing low-id exact copy must not shadow a passing
    higher-id doc: the keeper window minimizes over PASSING docs."""
    bad_then_good = spark.createDataFrame(
        [(1, "en", "x"), (2, "en", "x"), (3, "en", _A), (9, "en", _A)],
        ["doc_id", "lang", "text"])
    flags = {r["doc_id"]: r["is_keeper"]
             for r in curate_flags(bad_then_good).collect()}
    # ids 1,2 fail the gate entirely; 3 is the lowest PASSING id of
    # the A-group and keeps; 9 loses to 3.
    assert flags == {1: False, 2: False, 3: True, 9: False}


def test_curate_plan_shape(spark, sf_dir):
    """Scale contract: no Python in the plan (signals are codegen),
    no cartesian product (near-dup candidates come from the bucketed
    band equi-join), exactly one window (the md5 keeper). The flags
    boundary is an eager checkpoint, so the window runs in its fill
    job: the DAG is read from the SQL listener's executed plans of
    that job plus the returned frame's plan, the runtime shape from
    the executed query."""
    from promptner_spark.operators.curate import curate_flags
    from promptner_spark.plans.queries import q_curate

    plan = q_curate(spark, sf_dir)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    store = spark._jsparkSession.sharedState().statusStore()
    before = store.executionsCount()
    out = curate_flags(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "lang", "text"))
    lst = store.executionsList()
    fills = [lst.apply(i).physicalPlanDescription()
             for i in range(lst.size())
             if lst.apply(i).executionId() >= before]
    assert fills   # the eager checkpoint ran at build time
    dag = "\n".join(
        fills + [out._jdf.queryExecution().executedPlan().toString()])
    assert dag.count("Window") >= 1
    assert "CartesianProduct" not in dag
    assert "BatchEvalPython" not in dag and "ArrowEval" not in dag
    # the only broadcast-free equi-joins are the band self-join and
    # the drop anti-side; both are hash joins on explicit keys
    assert "BroadcastNestedLoopJoin" not in plan


def test_q_curate_matches_oracle(spark, sf_dir):
    import duckdb

    import __spark_entry__ as E

    sdf = E.queries()["q_curate"](spark, sf_dir)
    srows = sorted([tuple(r) for r in sdf.collect()])
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf_dir}/documents.parquet')")
    orows = sorted([tuple(r) for r in
                    con.execute(E.oracle_sql()["q_curate"]).fetchall()])
    assert srows == orows
