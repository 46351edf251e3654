"""Write the registry's observable shape to one JSON file, so that two
checkouts can be compared with ``diff``.

Usage (from the repository root, so Spark's Python workers import this
checkout's registry):

    python tools/registry_snapshot.py OUT.json [sf_dir]

OUT.json holds:
- ``order``: the names of ``queries()``, in contract order;
- ``oracle_sha256``: the sha256 of each oracle's SQL;
- ``plans``: each query's formatted physical plan, one list of lines per
  query, built at ``sf_dir`` (default: ``perfbench/tables/sf0.01``).

Plans are normalised so that two runs of one commit give identical files:
expression ids (``#123``), exchange plan ids, RDD ids, lambda variable ids,
reflective call sites and the temporary directories the fixture builders
create are masked, and ``sf_dir`` is written as ``<sf_dir>``. Two of
these come from process-wide state rather than from the query, so one
builder would otherwise shift the plans of every later query:
- lambda variables are numbered from one JVM-wide counter
  (``lambda x_197#``); they print as ``lambda x_n#``;
- an RDD made by a call from Python (``localCheckpoint``) names the JDK's
  reflective accessor as its call site: ``NativeMethodAccessorImpl.java:0``
  for the first calls of a method, a generated accessor without a source
  file (``<unknown>:0``) once the JVM has inflated it; both print as
  ``<reflect>:0``.
Nothing but OUT.json is written.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry  # noqa: E402
from tech_ml_dataset_spark import get_spark  # noqa: E402

_IDS = [
    (re.compile(r"#\d+"), "#"),                    # expression ids
    (re.compile(r"plan_id=\d+"), "plan_id=n"),     # exchange plan ids
    (re.compile(r"RDD\[\d+\]"), "RDD[n]"),         # RDD ids
    (re.compile(r"@[0-9a-f]{6,}\b"), "@h"),        # object identity hashes
    (re.compile(r"(lambda \w+?)_\d+#"), r"\1_n#"),  # lambda variable ids
    (re.compile(r" at (NativeMethodAccessorImpl\.java|<unknown>):0\b"),
     " at <reflect>:0"),                           # reflective call sites
]


def normalise(plan: str, sf_dir: str) -> list[str]:
    sf = os.path.realpath(sf_dir)
    plan = plan.replace(sf, "<sf_dir>")
    plan = re.sub(re.escape(os.path.realpath(tempfile.gettempdir()))
                  + r"/[^/\s,\]\)]+", "<tmp>", plan)
    for pat, rep in _IDS:
        plan = pat.sub(rep, plan)
    return plan.splitlines()


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    out = sys.argv[1]
    sf_dir = (sys.argv[2] if len(sys.argv) == 3
              else os.path.join(ROOT, "perfbench", "tables", "sf0.01"))
    spark = get_spark("registry-snapshot")
    qs, osql = entry.queries(), entry.oracle_sql()
    plans = {}
    for name, build in qs.items():
        df = build(spark, sf_dir)
        plans[name] = normalise(df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"), sf_dir)
    snap = {
        "order": list(qs),
        "oracle_sha256": {n: hashlib.sha256(sql.encode()).hexdigest()
                          for n, sql in sorted(osql.items())},
        "plans": plans,
    }
    with open(out, "w") as f:
        json.dump(snap, f, indent=1)
        f.write("\n")
    print(f"wrote {out}: {len(qs)} queries, {len(osql)} oracles")


if __name__ == "__main__":
    main()
