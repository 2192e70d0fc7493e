"""Dump formatted physical plans for the headline queries into PLANS.md.

Evidence artifact for the 100 TB design contract: shows, per headline query,
the actual Catalyst physical plan — WholeStageCodegen spans, PushedFilters,
ReadSchema pruning, broadcast vs shuffle joins, partial aggregation — so plan
quality can be reviewed without re-running anything.

Run: ``python scripts/dump_plans.py`` (writes PLANS.md at the repo root).
AQE is disabled for the dump so codegen ids and final join strategies print
statically; the shipped session runs with AQE on.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    from bench import HEADLINE
    from killrweather_spark.api.inventory import REGISTRY
    from killrweather_spark.plans.checks import formatted_plan
    from killrweather_spark.session import get_session, scoped_conf

    spark = get_session(app_name="plan_dump")

    out = [
        "# PLANS — formatted physical plans for the headline queries",
        "",
        f"Generated by `scripts/dump_plans.py` at `{SF_DIR}` (AQE off for "
        "static codegen/join-strategy printing). Things to look for: "
        "`PushedFilters`/`ReadSchema` at every scan, `WholeStageCodegen` "
        "spans over the hot expressions, `BroadcastHashJoin` on dimension "
        "sides, `partial_...` aggregate modes before each Exchange.",
        "",
    ]
    for name in HEADLINE:
        spec = REGISTRY.get(name)
        if spec is None:
            continue
        with scoped_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
            plan = formatted_plan(spec.fn(spark, SF_DIR))
        out += [f"## {name}", "", "```", plan.rstrip(), "```", ""]

    (ROOT / "PLANS.md").write_text("\n".join(out))
    print(f"wrote {ROOT / 'PLANS.md'} ({len(HEADLINE)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
