#!/usr/bin/env python
"""Dump the physical plan of every registered query, masked so that two
checkouts' dumps compare byte for byte.

For each name in ``__spark_entry__._QUERY_ORDER`` (or the names given)
the registered callable builds its DataFrame, and the ``== Physical
Plan ==`` section Spark plans for it before execution is written under a
``### <name>`` header. Masked: expression ids (``#\\d+``), ``plan_id``s,
the numbered names of higher-order-function lambda variables
(``lambda x_25`` -> ``lambda x_N``: like expression ids they come from a
session-wide counter, so they move with the order in which plans were
built), the txn demo tables' temp dirs (and the files under them), the
checkout path, and the date that ``current_date()`` folds to (the
bar filter ``trade_date <= current_date()`` plans as ``ts < <tomorrow>
00:00:00``, so two dumps taken on different UTC days would differ in
every ``clean_bars`` consumer). A refactor that should leave every plan
alone is checked by diffing the dump of the parent against the dump of
the change.

Usage: python tools/plan_dump.py [--sf DIR] [--out FILE] [query ...]
(``SPARK_GRAFT_CPUS`` sets the session's cores, as for every tool.)
"""

from __future__ import annotations

import argparse
import datetime as dt
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

_MASKS = (
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"(lambda \w+?)_\d+(?=#)"), r"\1_N"),
    (re.compile(r"[^\s\[\],]*spark_graft_[^\s\[\],]*"), "<txn-path>"),
)


def mask(text: str, today: dt.date | None = None) -> str:
    """``text`` with the volatile parts above replaced; ``today`` is the
    session's (UTC) date, now by default."""
    today = today or dt.datetime.now(dt.timezone.utc).date()
    text = text.replace(str(REPO), "<repo>")
    for pattern, repl in _MASKS:
        text = pattern.sub(repl, text)
    for day, label in ((today, "<today>"), (today + dt.timedelta(days=1), "<tomorrow>")):
        text = text.replace(day.isoformat(), label)
    return text


def physical_plan(df) -> str:
    """The masked ``== Physical Plan ==`` section planned for ``df``
    before execution (an executed frame would also print AQE's final
    plan)."""
    execution = df.sparkSession._jvm.org.apache.spark.sql.execution
    jqe = df.sparkSession._jsparkSession.sessionState().executePlan(
        df._jdf.queryExecution().logical(), execution.CommandExecutionMode.ALL()
    )
    text = jqe.explainString(execution.ExplainMode.fromString("simple"))
    return mask(text[text.index("== Physical Plan =="):]).rstrip() + "\n"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="-", help="output file ('-': stdout)")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as entry
    from stock_market_data_pipeline_v2_spark.session import get_spark

    spark = get_spark("plan-dump")
    qs = entry.queries()
    out = sys.stdout if args.out == "-" else open(args.out, "w")
    try:
        for name in args.queries or entry._QUERY_ORDER:
            out.write(f"### {name}\n{physical_plan(qs[name](spark, args.sf))}\n")
            out.flush()
    finally:
        if out is not sys.stdout:
            out.close()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
