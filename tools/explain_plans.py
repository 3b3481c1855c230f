"""Physical-plan audit: .explain("formatted") for the key operators,
checking the properties that matter at scale — PushedFilters reaching the
parquet scan, pruned ReadSchema, WholeStageCodegen spans, broadcast joins
where a side is small, and no unexpected exchanges.

Usage: python tools/explain_plans.py [sf_dir] [query ...] [-v] [--save TAG SUFFIX]
Prints a per-query summary plus grep-able plan excerpts (-v prints each
full plan).  ``--save TAG SUFFIX`` also writes each plan to
plans/<TAG>/<query>_<SUFFIX>.txt (before/after evidence for a change):
e.g.   python tools/explain_plans.py /root/testdata/sf0.1 ann_knn_graph --save r06 before
"""

from __future__ import annotations

import argparse
import io
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import __spark_entry__ as entrymod
from srag_spark.session import get_spark

CHECKS = {
    "pushed_filters": re.compile(r"PushedFilters: \[[^\]]*\w"),
    "topk": re.compile(r"TakeOrderedAndProject"),
    "broadcast_join": re.compile(r"BroadcastHashJoin|BroadcastNestedLoopJoin"),
    "sortmerge_join": re.compile(r"SortMergeJoin"),
    "exchanges": re.compile(r"\bExchange \(\d+\)"),
    "bcast_exchanges": re.compile(r"BroadcastExchange \(\d+\)"),
    "python_eval": re.compile(r"ArrowEvalPython|MapInArrow|FlatMapGroupsInPandas|MapInPandas|BatchEvalPython"),
}


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("queries", nargs="*", help="entry names (default: all)")
    ap.add_argument("-v", action="store_true", help="print each full plan")
    ap.add_argument("--save", nargs=2, metavar=("TAG", "SUFFIX"),
                    help="write plans/TAG/<query>_SUFFIX.txt")
    args = ap.parse_args()
    out_dir = ROOT / "plans" / args.save[0] if args.save else None
    if out_dir:
        out_dir.mkdir(parents=True, exist_ok=True)
    only = set(args.queries)
    spark = get_spark("explain", master="local[4]", shuffle_partitions=4)
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        try:
            plan = plan_of(fn(spark, args.sf_dir))
        except Exception as e:  # noqa: BLE001
            print(f"== {name}: ERROR {e}")
            continue
        counts = {k: len(rx.findall(plan)) for k, rx in CHECKS.items()}
        read_schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        widths = [len(s.split(",")) for s in read_schemas]
        print(
            f"== {name}: shuffles={counts['exchanges']} "
            f"bcast={counts['bcast_exchanges']} bhj={counts['broadcast_join']} "
            f"smj={counts['sortmerge_join']} topk={counts['topk']} "
            f"pushed={counts['pushed_filters']} "
            f"python={counts['python_eval']} scan_cols={widths}"
        )
        if args.v:
            print(plan)
        if out_dir:
            (out_dir / f"{name}_{args.save[1]}.txt").write_text(plan)
            print(f"wrote plans/{args.save[0]}/{name}_{args.save[1]}.txt")
    spark.stop()


if __name__ == "__main__":
    main()
