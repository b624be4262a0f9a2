#!/usr/bin/env python
"""Physical-plan SNAPSHOT tool: record every registered query's normalized
operator topology so any plan-shape change — a lost broadcast, a new
exchange, a window degrading to a join — is caught mechanically, even when
values stay correct and no anti-pattern rule fires.

The signature is the ordered list of physical operator names (codegen ids,
expression ids, paths, and statistics stripped), which is stable across
runs and across data directories but changes whenever the plan's structure
does. tests/test_plans.py::test_plan_snapshot compares live signatures
against the committed PLAN_SNAPSHOT.json and names exactly which queries
drifted; intentional changes re-run this tool to re-record.

Usage: python tools/plansnap.py          # rewrite PLAN_SNAPSHOT.json
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"
SNAPSHOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLAN_SNAPSHOT.json")

# one physical node per line; capture the operator name after tree glyphs
# and the whole-stage-codegen marker, e.g. "   +- *(3) HashAggregate(keys=["
_NODE_RE = re.compile(r"^[\s:+\-*]*(?:\*\(\d+\)\s*)?([A-Za-z][A-Za-z0-9]*)[ (]")


def plan_signature(df) -> list[str]:
    text = df._jdf.queryExecution().executedPlan().toString()
    ops = []
    for line in text.splitlines():
        m = _NODE_RE.match(line)
        if not m:
            continue
        name = m.group(1)
        # keep operator nodes only: skip detail continuation lines that
        # happen to start with a bare word (ReadSchema etc. never match the
        # node indent pattern, but guard against known non-node prefixes)
        if name in {"ReadSchema", "PushedFilters", "Location", "Output", "Arguments", "Batched", "DataFilters", "Format", "PartitionFilters"}:
            continue
        ops.append(name)
    return ops


def extra_plans() -> dict:
    """Audit twins snapshotted ALONGSIDE the registry: plans whose registered
    form is truncated by localCheckpoint get their full pre-checkpoint
    topology recorded under ``<name>#pre_checkpoint`` so a structural change
    upstream of the checkpoint (e.g. the 1-row bit-width broadcast turning
    into something unbounded) is caught even though the registered plan
    cannot show it."""
    from pg2parquet_spark.operators.dedup import (
        adaptive_lsh_plan_audit,
        incremental_lsh_plan_audit,
        ivf_plan_audit,
        ivf_probe4_plan_audit,
        recall_lsh_plan_audit,
    )

    return {
        "dedup_embedding_cosine_lsh#pre_checkpoint": adaptive_lsh_plan_audit,
        "dedup_embedding_cosine_lsh_recall#pre_checkpoint": recall_lsh_plan_audit,
        "dedup_embedding_incremental#pre_checkpoint": incremental_lsh_plan_audit,
        "dedup_embedding_ivf#pre_checkpoint": ivf_plan_audit,
        "dedup_embedding_ivf_probe4#pre_checkpoint": ivf_probe4_plan_audit,
    }


def main() -> None:
    from pg2parquet_spark.registry import load_all
    from pg2parquet_spark.session import get_spark

    spark = get_spark(app_name="plansnap", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    snap = {}
    entries = {name: spec.fn for name, spec in load_all().items()}
    entries.update(extra_plans())
    for name, fn in sorted(entries.items()):
        try:
            snap[name] = plan_signature(fn(spark, SF))
        except Exception as ex:  # pragma: no cover — record, don't die
            print(f"{name}: ERROR {str(ex)[:100]}", flush=True)
    with open(SNAPSHOT, "w") as f:
        json.dump(snap, f, indent=0, sort_keys=True)
        f.write("\n")
    print(f"wrote {SNAPSHOT} ({len(snap)} queries)", flush=True)


if __name__ == "__main__":
    main()
