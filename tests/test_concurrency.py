"""Concurrent queries on one session give the results of serial runs.

One SparkSession serves every caller, so translation state and the plan
and catalog caches are shared between threads.
Eight Python threads each run kql() then toPandas() over a fixed mix of
corpus entries:
- small-plan entries (sized sources under the small-query threshold);
- a join over sized sf0.001 tables;
- a row-expanding entry, which never takes the small-plan path;
- an LLM text operator, whose narrow-scan spread adds a round-robin
  exchange to its input.

Every result must equal the entry's serial result under the conftest
comparator.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from kql_engine_spark.corpus import CORPUS
from kql_engine_spark.translator import kql
from tests.conftest import SF_DIR, canonize_rows

MIX = (
    "tpch_q1",
    "arg_max_agg",
    "summarize_bin_1h_value",
    "extractjson_props",
    "has_term",
    "tpch_q3",
    "mv_expand_itemindex",
    "llm_dedup_near",
)
THREADS = 8


def _run(spark, text: str):
    pdf = kql(spark, text, sf_dir=SF_DIR).toPandas()
    return canonize_rows(list(pdf.columns), list(pdf.itertuples(index=False, name=None)))


def test_concurrent_kql_matches_serial(spark):
    serial = {name: _run(spark, CORPUS[name][0]) for name in MIX}
    # a distinct trailing comment per job keeps every text out of the plan
    # cache, so each job translates concurrently instead of sharing a plan
    jobs = [
        (name, f"{CORPUS[name][0]}\n// concurrent {rnd} {name}")
        for rnd in range(2)
        for name in MIX
    ]
    with ThreadPoolExecutor(max_workers=THREADS) as pool:
        results = list(pool.map(lambda job: (job[0], _run(spark, job[1])), jobs))
    for name, rows in results:
        assert rows == serial[name], f"{name}: concurrent result differs from serial"
