"""bench.py derives each row's timing class from its build: a row is
rebuilt inside the timed region iff building it launched a Spark job,
counted once every table has been read (a first parquet read runs a
schema job that no row's build should be charged with)."""

from __future__ import annotations

import pytest

import bench


@pytest.mark.parametrize(
    "qname, rebuild",
    [
        ("q_k23_pq_codes", True),   # one Lloyd loop fits 4 codebooks
        ("q_k27_pagerank", True),   # edge checkpoint + one-task ranks
        ("q_k42_sq", False),        # one lazy plan, zero driver collects
        ("q_k33_mmr", False),       # one lazy plan
        ("q_b3_range_filter", False),
    ],
)
def test_rebuild_class_is_derived_from_build_jobs(spark, sf_dir, qname, rebuild):
    bench.touch_tables(spark, sf_dir)
    assert bench.build(spark, sf_dir, qname).rebuild is rebuild
