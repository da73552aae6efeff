"""Jobs-per-query ceilings for the graph family.

The graph and connected-component queries used to spend their time on
eager Spark jobs fired while the DataFrame was built (per-round
checkpoints, convergence checks), not on data. These ceilings pin the
job count of build plus collect at sf0.001, so a change that brings
those jobs back fails here instead of only in a benchmark.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF0001

#: Spark jobs of ``q(spark, sf0.001).collect()`` in a warm session
#: (``local[8]``, 8 shuffle partitions). ``graph_modularity`` reads its
#: labels twice and runs 21 or 22 jobs, as AQE happens to reuse one
#: shuffle stage or to run it twice.
JOB_CEILINGS = {
    "label_propagation": 11,
    "dedup_groups": 10,
    "graph_modularity": 22,
    "neardup_clusters": 28,
}


def _jobs_of(spark, name: str) -> int:
    sc = spark.sparkContext
    group = f"job-budget-{name}"
    sc.setJobGroup(group, name)
    try:
        entrymod.queries()[name](spark, SF0001).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", sorted(JOB_CEILINGS))
def test_graph_query_job_ceiling(spark, name):
    # one untimed pass first: a cold session adds one-off jobs (table
    # footers, the first read of a file) that are not the query's own
    entrymod.queries()[name](spark, SF0001).collect()
    assert _jobs_of(spark, name) <= JOB_CEILINGS[name]
