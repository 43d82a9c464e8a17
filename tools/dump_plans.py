"""Dump .explain('formatted') for the 12 bench queries plus a
property-access JSON variant and two LLM text-plugin queries, and
optionally compare with an earlier dump.

Usage:
  python tools/dump_plans.py OUT_DIR [--suffix S] [--sf-dir DIR] [--compare DIR]

Writes OUT_DIR/<id>[_S].txt for each bench query (planned exactly as
bench.py plans it), for the property variant (`prop_json_extract`), for
`quality_filter` over documents (`llm_quality_filter`), whose plan carries
the plugins' narrow-scan spread, and for `dedup_clusters` over documents
(`llm_dedup_clusters`), whose plan reads the minhash pipeline's
checkpointed frames.
The data directory is --sf-dir, else $SPARK_GRAFT_SF_DIR. The session is
always built at 32 cores, so shuffle widths in the dumps do not depend on
the host. The reference dumps are plans/current/, taken at sf0.1:
`python tools/dump_plans.py OUT --sf-dir <sf0.1 dir> --compare plans/current`.

--compare DIR checks every file just written against the same-named file
in DIR after normalizing what differs between sessions but not between
plans: expression ids (`#123`), `plan_id`s, RDD ids (`MapPartitionsRDD[11]
at localCheckpoint`, in checkpoint scans) and the directory part of scan
locations. It prints a diff per differing plan and exits 1 if any differs.
"""

from __future__ import annotations

import argparse
import difflib
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from kql_engine_spark.corpus import BENCH_QUERIES, CORPUS  # noqa: E402
from kql_engine_spark.session import get_spark  # noqa: E402
from kql_engine_spark.translator import kql  # noqa: E402

PROP_VARIANT = (
    "events | project event_id, k = tolong(props.k) "
    "| summarize s = sum(k), n = count()"
)
LLM_VARIANT = "documents | evaluate quality_filter(text, 5)"
DEDUP_VARIANT = "documents | evaluate dedup_clusters(text, doc_id, 0.8)"
# get_spark sizes the local master and the shuffle width from this
CORES = "32"
_EXPR_ID = re.compile(r"#\d+")
_PLAN_ID = re.compile(r"plan_id=\d+")
_RDD_ID = re.compile(r"RDD\[\d+\]")
_LOCATION = re.compile(r"(\[|, )file:[^\],]*/")


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def normalize(plan: str) -> str:
    plan = _EXPR_ID.sub("#N", plan)
    plan = _PLAN_ID.sub("plan_id=N", plan)
    plan = _RDD_ID.sub("RDD[N]", plan)
    return _LOCATION.sub(r"\1", plan)


def dump(spark, sf_dir: str) -> dict[str, str]:
    """Plan text per dump name, in a fixed order."""
    plans = {
        bench_id: plan_of(kql(spark, CORPUS[name][0], sf_dir=sf_dir))
        for bench_id, name in BENCH_QUERIES.items()
    }
    plans["prop_json_extract"] = plan_of(kql(spark, PROP_VARIANT, sf_dir=sf_dir))
    plans["llm_quality_filter"] = plan_of(kql(spark, LLM_VARIANT, sf_dir=sf_dir))
    plans["llm_dedup_clusters"] = plan_of(kql(spark, DEDUP_VARIANT, sf_dir=sf_dir))
    return plans


def compare(written: list[str], other_dir: str) -> int:
    """Number of written files whose normalized plan differs from (or is
    missing in) other_dir."""
    bad = 0
    for path in written:
        name = os.path.basename(path)
        ref = os.path.join(other_dir, name)
        if not os.path.isfile(ref):
            print(f"MISSING {ref}")
            bad += 1
            continue
        with open(path) as a, open(ref) as b:
            got, want = normalize(a.read()), normalize(b.read())
        if got == want:
            print(f"same    {name}")
            continue
        bad += 1
        print(f"DIFFERS {name}")
        sys.stdout.writelines(difflib.unified_diff(
            want.splitlines(True), got.splitlines(True), ref, path
        ))
    return bad


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--suffix", default="", help="file name suffix, e.g. after")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("--compare", metavar="DIR")
    args = ap.parse_args()
    if not args.sf_dir:
        ap.error("give --sf-dir or set SPARK_GRAFT_SF_DIR")
    os.makedirs(args.out_dir, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = CORES
    spark = get_spark("plan-dump")
    try:
        plans = dump(spark, args.sf_dir)
    finally:
        spark.stop()
    tail = f"_{args.suffix}" if args.suffix else ""
    written = []
    for name, text in plans.items():
        path = os.path.join(args.out_dir, f"{name}{tail}.txt")
        with open(path, "w") as f:
            f.write(text)
        written.append(path)
    print(f"wrote {len(written)} plans to {args.out_dir}")
    if args.compare:
        bad = compare(written, args.compare)
        print(f"{len(written) - bad}/{len(written)} equal after normalization")
        return 1 if bad else 0
    return 0


if __name__ == "__main__":
    sys.exit(main())
