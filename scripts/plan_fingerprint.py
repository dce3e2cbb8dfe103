"""Registry plan fingerprints: dump every query's physical plan; diff dumps.

Usage:
    python scripts/plan_fingerprint.py --sf-dir DIR --out plans.json
    python scripts/plan_fingerprint.py --diff A.json B.json

The dump builds each registry query inside ``no_lineage_cuts()`` (so
the plan shows the full tree below every checkpoint) and records its
``simple`` physical plan with the per-process ``#id`` suffixes and
``[plan_id=N]`` tags stripped, plus two derived views:

- ``skeleton``: one ``depth operator`` entry per plan line;
- ``exchanges``: every Exchange line, arguments included.

``--diff`` lists the queries whose skeleton or exchange list differs
(exit 1 if any) and counts those whose plan text differs only in
expressions, aliases or projection order. Use it to show a refactor
left every plan's shape alone: dump the parent commit and the change
with the same ``--sf-dir`` and compare.

Known false positives: ``waiting_suppliers``, ``cramers_v``,
``chi_square`` and ``two_hop_reach`` order the children of their
``Expand`` (and the grouping keys above it, e.g. two_hop_reach's
count-distinct Exchange keys ``(u, v, CASE…, gid)`` vs
``(u, CASE…, v, gid)``) by state the process built before them, so two
dumps of identical code can disagree on them. Rebuild just those in
fresh processes to check.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

_ID = re.compile(r"#\d+L?|, \[plan_id=\d+\]|\[plan_id=\d+\]")
_TREE = re.compile(r"^[ :+\-|]*")
_CODEGEN = re.compile(r"^\*\(\d+\) ")


def fingerprint(plan: str) -> dict:
    text = _ID.sub("", plan)
    skeleton, exchanges = [], []
    for line in text.splitlines():
        if not line.strip() or line.startswith("=="):
            continue
        prefix = _TREE.match(line).group(0)
        body = _CODEGEN.sub("", line[len(prefix):])
        op = re.split(r"[ (\[]", body, maxsplit=1)[0]
        skeleton.append(f"{len(prefix) // 3} {op}")
        if "Exchange" in op:
            exchanges.append(body)
    return {"plan": text, "skeleton": skeleton, "exchanges": exchanges}


def dump(sf_dir: str, out: str) -> None:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    from sparkprep.queries import registry
    from sparkprep.session import build_session
    from tests.plan_util import no_lineage_cuts, simple_plan

    spark = build_session(
        app_name="plan-fingerprint", master="local[2]", shuffle_partitions=4
    )
    queries, _ = registry()
    with no_lineage_cuts():
        prints = {
            name: fingerprint(simple_plan(fn(spark, sf_dir)))
            for name, fn in queries.items()
        }
    spark.stop()
    with open(out, "w") as fh:
        json.dump(prints, fh, indent=1, sort_keys=True)
    print(f"{len(prints)} plans -> {out}")


def diff(a_path: str, b_path: str) -> int:
    with open(a_path) as fh:
        a = json.load(fh)
    with open(b_path) as fh:
        b = json.load(fh)
    only = sorted(set(a) ^ set(b))
    shape = sorted(
        n for n in set(a) & set(b)
        if a[n]["skeleton"] != b[n]["skeleton"]
        or a[n]["exchanges"] != b[n]["exchanges"]
    )
    text = sorted(
        n for n in set(a) & set(b)
        if n not in shape and a[n]["plan"] != b[n]["plan"]
    )
    print(f"{len(set(a) & set(b))} queries in both dumps")
    print(f"in one dump only: {only}")
    print(f"skeleton/exchange differences: {shape}")
    print(f"text-only differences ({len(text)}): {text}")
    return 1 if shape or only else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sf_default = os.environ.get("SPARKPREP_TEST_SF_DIR")
    ap.add_argument("--sf-dir", default=sf_default)
    ap.add_argument("--out", default="plan_fingerprint.json")
    ap.add_argument("--diff", nargs=2, metavar=("A", "B"))
    args = ap.parse_args()
    if args.diff:
        return diff(*args.diff)
    if not args.sf_dir:
        ap.error("--sf-dir (or SPARKPREP_TEST_SF_DIR) is required to dump")
    dump(args.sf_dir, args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
