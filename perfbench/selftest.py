"""Self-test of the benchmark: tiny runs at sf0.001, checking that

- every metric named in BENCHMARK.json is printed with its unit and
  sample count, and the last line carries exactly those metrics;
- the seed changes the order of operations;
- a deliberately corrupted output raises the failure count;
- sink batches keep coming, with fresh insert keys, for as many batches as
  a run applies.

    python3 perfbench/selftest.py

Exits 0 when every check holds. Takes about three minutes (three Spark
sessions)."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402


def bench(workload, seed, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", "0", "--trace",
           str(trace), "--sf", "0.001", *extra]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=300)
    if out.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {out.returncode}:\n"
                         f"{out.stderr[-3000:]}")
    lines = out.stdout.strip().splitlines()
    record_line = next(ln for ln in lines if ln.startswith("full record: "))
    with open(os.path.join(ROOT, record_line.split(": ", 1)[1])) as f:
        record = json.load(f)
    return lines, json.loads(lines[-1]), record


def check_metrics(workload, lines, result, declared, errors):
    for m in declared:
        pat = re.compile(rf"^{re.escape(workload)}\s+{re.escape(m['name'])}"
                         rf"\s+-?[\d.]+(e[-+]?\d+)?\s+{re.escape(m['unit'])}"
                         rf"\s+n=\d+$")
        if not any(pat.match(ln) for ln in lines):
            errors.append(f"{workload}: {m['name']} not printed with unit "
                          f"{m['unit']} and sample count")
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        errors.append(f"{workload}: result metrics differ from BENCHMARK.json:"
                      f" missing {sorted(set(want) - set(got))}, extra "
                      f"{sorted(set(got) - set(want))}, units "
                      f"{ {k for k in want.keys() & got.keys() if want[k] != got[k]} }")


def check_sink_batches(errors, n=200):
    """Draw ``n`` batches of each kind, more than any run applies."""
    import pyarrow.parquet as pq
    base = os.path.join(datagen.TABLES, "sf0.001")
    orders = pq.read_table(os.path.join(base, "orders.parquet"))
    texts = pq.read_table(os.path.join(base, "documents.parquet"))["text"]
    make = datagen.SinkBatches(orders, texts.to_pylist(), 1, changed=20,
                               new=5, doc_batch=10)
    seen = set(orders["o_orderkey"].to_pylist())
    for i in range(n):
        keys = make.upsert()["o_orderkey"].to_pylist()
        fresh = set(keys[20:])
        if len(keys) != 25 or len(fresh) != 5 or fresh & seen:
            errors.append(f"upsert batch {i}: bad keys")
            return
        seen |= fresh
        ids = make.dedup()["doc_id"].to_pylist()
        if ids != list(range(i * 10, (i + 1) * 10)):
            errors.append(f"dedup batch {i}: doc ids {ids[:3]}...")
            return


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    errors: list[str] = []
    check_sink_batches(errors)

    lines, res, rec1 = bench("relational", 1, 0)
    check_metrics("relational", lines, res, spec["end_to_end"], errors)
    if not res["correct"] or res["failed"]:
        errors.append(f"relational: clean run reported failures: {res}")

    lines, res, rec2 = bench("relational", 2, 1, "--corrupt",
                             "q1_pricing_summary")
    check_metrics("relational", lines, res, spec["per_layer"], errors)
    if rec1["passes"][0]["order"] == rec2["passes"][0]["order"]:
        errors.append("seeds 1 and 2 ran the operations in the same order")
    if res["correct"] or res["failed"] == 0:
        errors.append("corrupted q1_pricing_summary output was not counted "
                      "as failed")

    if {w["name"] for w in spec["workloads"]} != {"relational",
                                                   "llm_data_sinks"}:
        errors.append("BENCHMARK.json names workloads this test does not run")
    lines, res, _ = bench("llm_data_sinks", 1, 1, "--corrupt",
                          "upsert_orders_batch")
    check_metrics("llm_data_sinks", lines, res, spec["per_layer"], errors)
    if res["correct"] or res["failed"] == 0:
        errors.append("corrupted upsert target was not counted as failed")

    for e in errors:
        print("FAIL", e)
    print("selftest:", "ok" if not errors else f"{len(errors)} failures")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
