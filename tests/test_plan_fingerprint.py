"""scripts/plan_fingerprint.py: the skeleton/exchange views must ignore
per-process expression ids and catch a moved exchange."""

import json

from scripts.plan_fingerprint import diff, fingerprint

_PLAN = """== Physical Plan ==
AdaptiveSparkPlan isFinalPlan=false
+- HashAggregate(keys=[k#{a}], functions=[count(1)])
   +- Exchange hashpartitioning(k#{a}, 4), ENSURE_REQUIREMENTS, [plan_id={p}]
      +- *(1) Project [k#{a}, v#{b}L]
         :- Scan parquet [k#{a},v#{b}L]
"""


def test_fingerprint_strips_ids_and_keeps_shape():
    fp = fingerprint(_PLAN.format(a=12, b=13, p=40))
    assert fp == fingerprint(_PLAN.format(a=7, b=99, p=3))
    assert fp["skeleton"] == [
        "0 AdaptiveSparkPlan",
        "1 HashAggregate",
        "2 Exchange",
        "3 Project",
        "4 Scan",
    ]
    assert fp["exchanges"] == [
        "Exchange hashpartitioning(k, 4), ENSURE_REQUIREMENTS"
    ]


def test_diff_flags_exchange_change_not_alias_change(tmp_path, capsys):
    base = fingerprint(_PLAN.format(a=1, b=2, p=3))
    renamed = fingerprint(_PLAN.format(a=1, b=2, p=3).replace("v#2L", "w#2L"))
    moved = fingerprint(_PLAN.format(a=1, b=2, p=3).replace(", 4)", ", 8)"))
    paths = []
    for name, doc in (("a", {"q": base}), ("b", {"q": renamed}),
                      ("c", {"q": moved})):
        path = tmp_path / f"{name}.json"
        path.write_text(json.dumps(doc))
        paths.append(str(path))
    assert diff(paths[0], paths[1]) == 0
    assert "text-only differences (1): ['q']" in capsys.readouterr().out
    assert diff(paths[0], paths[2]) == 1
    assert "skeleton/exchange differences: ['q']" in capsys.readouterr().out
