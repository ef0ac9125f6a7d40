"""Print the plans of the dashboard's LogQL and PromQL metric panels.

For each metric panel of ``perfbench/workloads.py:PANELS`` this prints
the analyzed and the optimized plan of the facade's
``query_range_frame`` (no result cache) over seed-1 tables, at the full
dashboard range and at a 2-step gap, with expression ids (``#123``)
normalized.  Two checkouts' outputs compare with one ``diff``:

    python tools/panel_plans.py > after.txt    # in each checkout
    diff before.txt after.txt
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [os.path.join(ROOT, "perfbench"), ROOT]

import gen  # noqa: E402
import workloads as wl  # noqa: E402

from oteldb_spark.session import get_spark  # noqa: E402


def main() -> None:
    spark = get_spark("panel-plans", cpus=2)
    try:
        with tempfile.TemporaryDirectory() as data_dir:
            gen.write_tables(data_dir, 1)
            f = wl.Facades(spark, data_dir, None)
            now = gen.EPOCH_US + 2 * wl.DASH_RANGE_US
            step = wl.DASH_STEP_US
            spans = (("full", now - wl.DASH_RANGE_US), ("gap", now - step))
            for kind, lang, text, limit in wl.PANELS:
                if lang not in ("logql", "promql") or limit is not None:
                    continue
                for span, start in spans:
                    q = wl.Query(kind, lang, text, start, now, step, now_us=now)
                    qe = wl._frame(f, q)._jdf.queryExecution()
                    for stage in ("analyzed", "optimizedPlan"):
                        plan = getattr(qe, stage)().toString()
                        plan = re.sub(r"#\d+", "#N", plan.replace(data_dir, "<data>"))
                        print(f"== {kind} {span} {stage}\n{plan}")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
