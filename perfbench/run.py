"""Closed-loop benchmark of tech_ml_dataset_spark, one client, one driver
process at ``local[<cores>]``.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 16 --trace 0

Each run reads the committed test tables (deriving the sink target and the
TSV once into ``.perfbench/cache``), starts a Spark session, executes every
operation of the workload once to warm the JVM and check its output, then
runs passes over the operations, each in an order drawn from ``--seed``,
until ``--seconds`` have elapsed (the first pass always completes; the last
may be partial). Each operation starts when
the previous one finishes.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). Lines before it print every metric
with its unit and sample count, and the full record of the run (every
operation, per-family sums, spans) goes to ``.perfbench/results/``.
"""

from __future__ import annotations

import time

_T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
sys.path[:0] = [ROOT, HERE]

import check  # noqa: E402
import datagen  # noqa: E402
import layers  # noqa: E402
from workloads import FAMILIES, WORKLOADS  # noqa: E402

# sink batch sizes: changed and new keys per upsert, docs per dedup batch
UPSERT_CHANGED, UPSERT_NEW, DEDUP_DOCS = 2000, 500, 200
# per-family metric -> key of the per-operation trace record
FAMILY_METRICS = {"build_s": "build_s", "jobs": "jobs", "tasks": "tasks",
                  "exec.run_s": "run_s", "exec.offcpu_s": "offcpu_s",
                  "overhead_s": "overhead_s"}
# printed and recorded, but not in the result line: task GC time is often
# exactly 0 with a fixed-size heap, and families absent from a workload
# would read 0 on every run
RECORD_ONLY = ("exec.gc_s", "fam.")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", choices=datagen.SCALES, default="0.01",
                   help="scale of the base tables (0.01: 60 k lineitem rows)")
    p.add_argument("--corrupt", default=None,
                   help="operation whose output is altered before its check "
                        "(self-test of the checks)")
    return p.parse_args(argv)


def pin_env(work: str) -> dict:
    """Pin cores, driver memory, worker Python path and temporary dirs, so a
    run does not depend on the caller's environment or directory."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_mb = int(next(line for line in f
                            if line.startswith("MemTotal")).split()[1]) // 1024
    # the working set is tens of MB; a 1 GiB heap (more is never needed)
    # keeps the JVM's resident size independent of the host's free memory
    driver_mb = min(1024, total_mb // 8)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    prior = os.environ.get("PYTHONPATH")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": f"{driver_mb}m",
        # mapInPandas / pandas_udf workers import the package by name
        "PYTHONPATH": ROOT + (os.pathsep + prior if prior else ""),
        "TMPDIR": tmp,
    })
    tempfile.tempdir = tmp
    return {"cores": cores, "driver_memory_mb": driver_mb,
            "host_memory_mb": total_mb, "pythonpath": os.environ["PYTHONPATH"]}


def steal_ticks() -> int:
    """Host-wide CPU time stolen by the hypervisor, in clock ticks."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def tree_cpu_s() -> float:
    """CPU seconds (user + system, with reaped children) of this process
    and every process below it: the driver, its JVM and the Python
    workers. Time the hypervisor steals from the guest is not counted."""
    root = os.getpid()
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        pid = int(d)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(map(int, fields[11:15]))
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += t
    return total / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM"):
                return int(line.split()[1]) / 1024
    return 0.0


def du_mb(*paths) -> float:
    total = 0
    for p in paths:
        for root, _, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 2**20


def pct(values, q):
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class Sinks:
    """Sink targets and the seeded batches applied to them."""

    def __init__(self, work, data, seed):
        import pyarrow.parquet as pq
        self.work = work
        self.target = os.path.join(work, "orders_target")
        self.corpus = os.path.join(work, "dedup_corpus")
        os.makedirs(self.target)
        shutil.copy(os.path.join(data["x10"], "orders.parquet"),
                    os.path.join(self.target, "part-00000.parquet"))
        self.base = pq.read_table(os.path.join(data["x10"], "orders.parquet"))
        docs = pq.read_table(os.path.join(data["base"], "documents.parquet"))
        self.make = datagen.SinkBatches(
            self.base, docs["text"].to_pylist(), seed,
            changed=UPSERT_CHANGED, new=UPSERT_NEW, doc_batch=DEDUP_DOCS)
        self.applied = {"upsert": [], "dedup": []}

    def next_batch(self, kind: str) -> tuple[str, int, int]:
        """Write the next batch of ``kind`` to a file (untimed) and return
        its path, batch id and size in bytes."""
        import pyarrow.parquet as pq
        tb = self.make.upsert() if kind == "upsert" else self.make.dedup()
        i = len(self.applied[kind])
        self.applied[kind].append(tb)
        path = os.path.join(self.work, f"{kind}-{i:04d}.parquet")
        pq.write_table(tb, path)
        return path, i, os.path.getsize(path)

    def check(self, kind: str, corrupt: bool) -> str | None:
        import pyarrow.parquet as pq
        batches = self.applied[kind]
        if kind == "upsert":
            rows = pq.read_table(self.target).to_pylist()
            if corrupt:
                rows = rows[1:]
            return check.upsert_law(self.base.to_pylist(),
                                    [b.to_pylist() for b in batches],
                                    rows, "o_orderkey")
        if not os.path.isdir(self.corpus):
            return "no corpus written"
        rows = [(r["text"], int(r["batch_id"])) for r in
                pq.read_table(self.corpus, columns=["text", "batch_id"])
                .to_pylist()]
        if corrupt:
            rows = rows[1:]
        return check.dedup_law([b["text"].to_pylist() for b in batches], rows)


class Bench:
    def __init__(self, spark, args, data, work, cores):
        import __spark_entry__ as entry
        self.spark, self.args, self.data, self.cores = spark, args, data, cores
        self.work = work
        self.queries, self.oracles = entry.queries(), entry.oracle_sql()
        self.sinks = (Sinks(work, data, args.seed)
                      if any(op.kind in ("upsert", "dedup")
                             for op in WORKLOADS[args.workload]) else None)
        self.reader = layers.StatusReader(spark)
        self.oracle = check.Oracle()
        self.n_ops = 0
        self.ingest_rows = 0
        # CPU of this process spent on preparing sink batches and checking
        # outputs during set-up: not part of the set-up being measured
        self.untimed_cpu = 0.0
        self._pending = None  # (path, id, bytes) of the next sink batch

    def build(self, op):
        """Build phase of ``op``; returns (DataFrame or None, execute)."""
        spark = self.spark
        if op.kind == "query":
            df = self.queries[op.name](spark, self.data[op.data])
        elif op.kind == "ingest":
            from tech_ml_dataset_spark.sources.io import to_dataset
            df = to_dataset(spark, self.data["tsv"], file_type="csv",
                            header=True, sep="\t", inferSchema=True)
        else:
            from tech_ml_dataset_spark.streaming import windows
            path, i, _ = self._pending
            batch = spark.read.parquet(path)
            if op.kind == "upsert":
                return None, lambda: windows.upsert_batch_apply(
                    batch, self.sinks.target, "o_orderkey")
            return None, lambda: windows.text_dedup_batch_apply(
                batch, i, self.sinks.corpus)
        return df, lambda: df.write.format("noop").mode("overwrite").save()

    def prepare(self, op):
        """Untimed per-operation preparation (writing the next sink batch)."""
        if op.kind in ("upsert", "dedup"):
            self._pending = self.sinks.next_batch(op.kind)

    def first_run(self, op) -> tuple[float, str | None]:
        """First execution of ``op`` (part of set-up); its output is checked
        afterwards. Returns (seconds spent in Spark, check error or None)."""
        c0 = time.process_time()
        self.prepare(op)
        self.untimed_cpu += time.process_time() - c0
        t0 = time.perf_counter()
        result = None
        try:
            df, execute = self.build(op)
            if op.kind == "query":
                result = df.columns, [tuple(r) for r in df.collect()]
            elif op.kind == "ingest":
                self.ingest_rows = df.count()
            else:
                execute()
        except Exception:
            return time.perf_counter() - t0, traceback.format_exc(limit=3)
        spent = time.perf_counter() - t0
        c0 = time.process_time()
        err = self.check_first(op, result)
        self.untimed_cpu += time.process_time() - c0
        return spent, err

    def check_first(self, op, result) -> str | None:
        corrupt = self.args.corrupt == op.name
        if op.kind == "ingest":
            want = datagen.base_rows(self.data["base"], "lineitem")
            got = self.ingest_rows - corrupt
            return None if got == want else f"ingest rows {got} != {want}"
        if op.kind != "query":
            return None  # sink laws are checked after the last batch
        cols, rows = result
        if corrupt:
            rows = rows[1:]
        try:
            ocols, orows = self.oracle.query(self.data[op.data],
                                             self.oracles[op.name])
        except Exception:
            return traceback.format_exc(limit=3)
        return check.rows_match(cols, rows, ocols, orows)

    def timed(self, op, traced: bool) -> dict:
        """One timed execution of ``op``."""
        self.prepare(op)
        self.n_ops += 1
        group = f"perfbench-{self.n_ops}"
        self.spark.sparkContext.setJobGroup(group, op.name)
        files0 = layers.list_files(self.work) if traced else set()
        error = None
        build_jobs = 0
        trace_s = 0.0  # time spent reading the status store and listing files
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        t_exec = t0
        try:
            _df, execute = self.build(op)
            t_exec = time.perf_counter()
            if traced:
                build_jobs = len(self.reader.job_ids(group))
                trace_s += time.perf_counter() - t_exec
            execute()
        except Exception:
            error = traceback.format_exc(limit=3)
        t1 = time.perf_counter()
        out = {"op": op.name, "wall_s": t1 - t0,
               "proc_cpu_s": tree_cpu_s() - cpu0, "error": error}
        if traced:
            m, job_spans = self.reader.read(self.reader.job_ids(group))
            rec = layers.op_record(op, t1 - t0, t_exec - t0, t0, t_exec, t1,
                                   build_jobs, m, job_spans, self.cores)
            rec["files_written"] = len(layers.list_files(self.work) - files0)
            rec["kind"] = op.kind
            rec["batch_bytes"] = (self._pending[2]
                                  if op.kind in ("upsert", "dedup") else 0)
            rec["trace_s"] = trace_s + time.perf_counter() - t1
            out["trace"] = rec
            out["spans"] = layers.spans_for(self.n_ops, op.name, t0, t_exec,
                                            t1, job_spans)
        return out


def by_op(records, key) -> dict[str, list]:
    """``key`` of each record, grouped by operation name."""
    out: dict[str, list] = {}
    for r in records:
        out.setdefault(r["op"], []).append(r[key])
    return out


def per_pass(records, key, stat=statistics.median) -> float:
    """One pass's worth of ``key``: the sum over the operations of ``stat``
    of each one's values, so a partial last pass counts too."""
    return sum(stat(v) for v in by_op(records, key).values())


def per_layer(traced_ops, setup, bench, cores) -> dict:
    """Per-layer metrics of a traced run: per pass (the sum over the
    operations of each one's mean), for the workload and for each module
    family it exercises."""
    recs = [o["trace"] for o in traced_ops]

    def mean_pass(key, rs=recs):
        return per_pass(rs, key, statistics.mean)

    batches = [r for r in recs if r["kind"] in ("upsert", "dedup")]
    ingest = [r["wall_s"] for r in recs if r["kind"] == "ingest"]
    sinks = bench.sinks
    m = {
        "session.start_s": setup["start_s"],
        "session.warm_s": setup["warm_s"],
        "entry.build_s": mean_pass("build_s"),
        "entry.build_jobs": mean_pass("build_jobs"),
        "sched.jobs": mean_pass("jobs"),
        "sched.stages": mean_pass("stages"),
        "sched.tasks": mean_pass("tasks"),
        "sched.driver_gap_s": mean_pass("driver_gap_s"),
        "exec.run_s": mean_pass("run_s"),
        "exec.cpu_s": mean_pass("cpu_s"),
        "exec.gc_s": mean_pass("gc_s"),
        "exec.offcpu_s": mean_pass("offcpu_s"),
        "exec.util": (sum(r["run_s"] for r in recs)
                      / (sum(r["wall_s"] for r in recs) * cores)),
        "shuffle.write_bytes": mean_pass("shuffle_write_bytes"),
        "shuffle.read_bytes": mean_pass("shuffle_read_bytes"),
        "shuffle.spill_bytes": mean_pass("spill_bytes"),
        "io.input_bytes": mean_pass("input_bytes"),
        "io.output_bytes": mean_pass("output_bytes"),
        "io.files_written": mean_pass("files_written"),
        "io.write_amp": (sum(r["output_bytes"] for r in batches)
                         / sum(r["batch_bytes"] for r in batches)
                         if batches else 0.0),
        "io.ingest_rows_per_s": (bench.ingest_rows / statistics.median(ingest)
                                 if ingest else 0.0),
        "io.stored_mb": (du_mb(sinks.target, sinks.corpus) if sinks else 0.0),
        "stream.jobs_per_batch": (statistics.mean(r["jobs"] for r in batches)
                                  if batches else 0.0),
        "self.build_s": mean_pass("build_self_s"),
        "self.execute_s": mean_pass("exec_self_s"),
        "self.jobs_s": mean_pass("job_s"),
        "overhead_s": mean_pass("overhead_s"),
        "trace.overhead_s": mean_pass("trace_s"),
    }
    for f in FAMILIES:
        rs = [r for r in recs if r["family"] == f]
        if rs:
            for name, key in FAMILY_METRICS.items():
                m[f"fam.{f}.{name}"] = mean_pass(key, rs)
    return m


def layer_unit(name: str) -> str:
    for suffix, unit in (("rows_per_s", "rows/s"), ("_s", "s"),
                         ("bytes", "bytes"), ("_mb", "MB"), ("util", "ratio"),
                         ("amp", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def overhead_table(traced_ops, top=20) -> list[dict]:
    """Operations ranked by median overhead (wall - executor run / cores)."""
    rows = []
    for name, rs in by_op(traced_ops, "trace").items():
        rows.append({k: statistics.median(r[k] for r in rs) for k in
                     ("overhead_s", "wall_s", "build_s", "jobs", "stages",
                      "tasks", "run_s", "driver_gap_s")} | {"op": name})
    return sorted(rows, key=lambda r: -r["overhead_s"])[:top]


def main(argv=None) -> int:
    args = parse_args(argv)
    import __spark_entry__  # noqa: F401  (fail before any output)
    from tech_ml_dataset_spark import get_spark

    ops = WORKLOADS[args.workload]
    t_prep = time.perf_counter()
    # CPU of this process spent on the benchmark's own preparation (inputs,
    # sink targets), subtracted from the set-up CPU
    c_prep = time.process_time()
    data = datagen.ensure_data(os.path.join(STATE, "cache"), args.sf)
    work = os.path.join(STATE, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = pin_env(work)
    prep_s = time.perf_counter() - t_prep
    prep_cpu = time.process_time() - c_prep

    spark = bench = None
    try:
        t_start = time.perf_counter()
        spark = get_spark("perfbench", extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            # a fixed-size heap: its resident size then depends on the
            # allocations, not on when the collector chose to grow it.
            # C1 only: with the C2 tier, the JVM's CPU per pass keeps
            # halving over the first five passes as C2 compiles, so short
            # runs would measure the JIT, not the package; C1 settles
            # within the warm-up
            "spark.driver.extraJavaOptions":
                f"-Xms{env['driver_memory_mb']}m -XX:TieredStopAtLevel=1 "
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        })
        start_s = time.perf_counter() - t_start
        c_prep = time.process_time()
        bench = Bench(spark, args, data, work, env["cores"])
        prep_cpu += time.process_time() - c_prep

        # set-up: first execution of every operation (JIT, codegen, Python
        # workers), checked outside the timed region
        checks, warm_s = {}, 0.0
        for op in ops:
            spent, err = bench.first_run(op)
            warm_s += spent
            checks[op.name] = err
        t_first = time.perf_counter()
        setup = {"start_s": start_s, "warm_s": warm_s,
                 "import_s": t_prep - _T_PROCESS,
                 "wall_s": (t_prep - _T_PROCESS) + start_s + warm_s,
                 "cpu_s": tree_cpu_s() - prep_cpu - bench.untimed_cpu}

        rng = random.Random(args.seed)
        passes, timed = [], []
        steal0 = steal_ticks()
        while True:
            order = rng.sample(ops, len(ops))
            p0 = time.perf_counter()
            done = 0
            for op in order:
                # the first pass always completes, so every operation has
                # a sample; after it, no operation starts past --seconds
                if passes and time.perf_counter() - t_first >= args.seconds:
                    break
                r = bench.timed(op, bool(args.trace))
                r["pass"] = len(passes)
                timed.append(r)
                done += 1
            if done:
                passes.append({"wall_s": time.perf_counter() - p0,
                               "order": [op.name for op in order[:done]],
                               "complete": done == len(order)})
            if done < len(order):
                break
        window_s = time.perf_counter() - t_first
        env["steal_share"] = ((steal_ticks() - steal0)
                              / (os.sysconf("SC_CLK_TCK") * window_s
                                 * os.cpu_count()))

        if bench.sinks:
            for op in ops:
                if op.kind in ("upsert", "dedup"):
                    checks[op.name] = bench.sinks.check(
                        op.kind, args.corrupt == op.name)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss_mb = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
        traced_ops = [r for r in timed if "trace" in r]
        layer = (per_layer(traced_ops, setup, bench, env["cores"])
                 if args.trace else {})
    finally:
        if spark is not None:
            stop_spark(spark)
        if bench is not None:
            bench.oracle.close()
    shutil.rmtree(work, ignore_errors=True)

    bad = {name for name, err in checks.items() if err}
    failed = sum(1 for r in timed if r["error"] or r["op"] in bad)
    walls = [r["wall_s"] for r in timed]
    e2e = {
        "setup_s": (setup["cpu_s"], "s", 1),
        "pass_cpu_s": (per_pass(timed, "proc_cpu_s"), "s", len(walls)),
        "peak_rss_mb": (rss_mb, "MB", 1),
    }
    # printed and recorded, not bounded: wall times of these overhead-bound
    # operations follow the host's steal share (README), and a run has too
    # few samples above p90
    info = {
        "setup_wall_s": (setup["wall_s"], "s", 1),
        "pass_s": (per_pass(timed, "wall_s"), "s", len(walls)),
        "op_p50_s": (statistics.median(walls), "s", len(walls)),
        "op_p90_s": (pct(walls, 90), "s", len(walls)),
        "error_rate": (failed / len(timed), "ratio", len(timed)),
    }
    for name, (v, unit, n) in (e2e | info).items():
        print(f"{args.workload:15s} {name:22s} {v:14.4f} {unit:6s} n={n}")
    print(f"host steal share during the timed window: "
          f"{env['steal_share']:.3f}")
    for name, err in checks.items():
        if err:
            print(f"CHECK FAILED {name}: {err.strip().splitlines()[-1]}")
    top = overhead_table(traced_ops) if args.trace else []
    if args.trace:
        for name, v in layer.items():
            unit = layer_unit(name)
            n = 1 if name.startswith("session.") else len(traced_ops)
            print(f"{args.workload:15s} {name:38s} {v:16.4f} {unit:6s} n={n}")
        print(f"top {len(top)} operations by overhead_s "
              "(wall - executor run / cores), medians over passes:")
        print(f"  {'op':34s} {'overhead_s':>10s} {'wall_s':>8s} "
              f"{'build_s':>8s} {'jobs':>5s} {'stages':>6s} {'tasks':>6s}")
        for r in top:
            print(f"  {r['op']:34s} {r['overhead_s']:10.3f} {r['wall_s']:8.3f} "
                  f"{r['build_s']:8.3f} {r['jobs']:5.0f} {r['stages']:6.0f} "
                  f"{r['tasks']:6.0f}")

    record = {
        "args": vars(args), "env": env, "prep_s": prep_s, "setup": setup,
        "end_to_end": {k: {"value": v, "unit": u, "n": n}
                       for k, (v, u, n) in (e2e | info).items()},
        "checks": checks, "passes": passes,
        "per_layer": layer, "overhead_top20": top,
        "ops": [{k: v for k, v in r.items() if k != "spans"} for r in timed],
        "spans": [s for r in timed for s in r.get("spans", [])],
    }
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    out = os.path.join(STATE, "results",
                       f"{args.workload}-seed{args.seed}-trace{args.trace}-"
                       f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(f"full record: {os.path.relpath(out, ROOT)}")

    metrics = ({k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items()}
               if not args.trace else
               {k: {"value": v, "unit": layer_unit(k)}
                for k, v in layer.items() if not k.startswith(RECORD_ONLY)})
    print(json.dumps({"correct": failed == 0, "attempted": len(timed),
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to
    exit, so no process outlives the run."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
