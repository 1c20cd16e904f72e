"""Connector benchmark: one workload, one closed-loop client, one run.

    python3 connbench/run.py --workload kv_mixed --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  The run owns ``.connbench/run-*`` under
that root: every generated input, store, Spark temp file and event log
goes there, and it is deleted at the end.  Spans of a traced run are
written to ``.connbench/traces/``.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json; ``--trace 1``
alternates traced rounds (spans, job groups, in-process layer replays,
the Spark event log) with untraced ones, and prints the per-layer
metrics.  The last stdout line is the JSON result; the line before it is
a JSON ``detail`` record with raw and per-op-kind figures.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
import uuid

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)

READ_KINDS = ("scan_fact", "scan_filter", "scan_pruned", "gsi_query", "scan_small", "get", "batch_get")
LOOKUP_KINDS = ("gsi_query", "get", "batch_get")
FILTERED_KINDS = ("scan_filter", "scan_pruned", "gsi_query", "get", "batch_get")
WRITE_KINDS = ("put", "update", "delete", "put_if_absent")
OP_KINDS = READ_KINDS + WRITE_KINDS + ("c121",)
# Pause before each timed op, so the last op's tail (Python workers
# exiting, GC) has ended before the gauge runs and the op starts.
SETTLE_S = 0.25
GAUGE_SAMPLES = 3  # gauge loops before each timed op
# Per-kind latency names reported on the detail line.
KIND_METRIC = {
    "scan_fact": "scan_fact_p50_s", "scan_small": "scan_small_p50_s", "get": "get_p50_s",
    "batch_get": "batch_get_p50_s",
}


def median(xs, default=0.0) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else default


def mean(xs, default=0.0) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else default


def isolate(run_dir: str, trace: bool) -> None:
    """Point every temp file of this process, the JVM and its Python
    workers into ``run_dir``; set the Spark conf the benchmark needs."""
    tmp = os.path.join(run_dir, "tmp")
    for d in ("tmp", "spark-local", "inputs", "stores", "replay", "eventlog"):
        os.makedirs(os.path.join(run_dir, d))
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TZ"] = "UTC"
    time.tzset()
    # session.get_spark reads these; 2g keeps a run small on a shared host.
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # -XX:-UsePerfData: no hsperfdata file, which HotSpot always puts in /tmp.
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # the short-lived launcher JVM
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
        })
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")] + ["pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args)


def import_program() -> None:
    """The program must come from this checkout, never from site-packages."""
    sys.path.insert(0, REPO_ROOT)
    try:
        import spark_dynamodb_spark
    except ImportError as e:
        sys.exit(f"connbench: cannot import the program from {REPO_ROOT}: {e}")
    if not os.path.abspath(spark_dynamodb_spark.__file__).startswith(REPO_ROOT + os.sep):
        sys.exit(f"connbench: program imported from outside the checkout: {spark_dynamodb_spark.__file__}")


def snapshot(path: str) -> dict:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


def replay_read(store_dir: str, spec: dict) -> dict:
    """The op's DynamoReader.partitions() + read() in-process, no Spark:
    same store, options and pushed filters."""
    import pyarrow.parquet as pq

    from spark_dynamodb_spark.sources.dynamo import DynamoDataSource

    opts = {"tablename": spec["table"], "storedir": store_dir}
    opts.update({k.lower(): str(v) for k, v in spec["options"].items()})
    source = DynamoDataSource(opts)
    reader = source.reader(source.schema())
    list(reader.pushFilters(list(spec["filters"])))
    t0 = time.perf_counter()
    parts = reader.partitions()
    rows = sum(b.num_rows for p in parts for b in reader.read(p))
    read_s = time.perf_counter() - t0
    files = [f for p in parts for f in p.value["files"]]
    examined = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return {"read_s": read_s, "rows": rows, "segments": len(files), "examined": examined}


def replay_write(store_dir: str, scratch: str, spec: dict) -> dict:
    """DynamoWriter.write() and .commit() in-process on a throwaway copy
    of the store, before the real write changes it."""
    from pyspark.sql.types import _parse_datatype_string

    from spark_dynamodb_spark.sources.dynamo import DynamoWriter

    copy = os.path.join(scratch, uuid.uuid4().hex)
    shutil.copytree(os.path.join(store_dir, spec["table"]), os.path.join(copy, spec["table"]))
    try:
        opts = {"tablename": spec["table"], "storedir": copy}
        opts.update({k.lower(): v for k, v in spec["options"].items()})
        writer = DynamoWriter(_parse_datatype_string(spec["schema"]), opts, overwrite=False)
        t0 = time.perf_counter()
        msg = writer.write(iter(spec["rows"]))
        t1 = time.perf_counter()
        writer.commit([msg])
        t2 = time.perf_counter()
    finally:
        shutil.rmtree(copy, ignore_errors=True)
    return {"stage_s": t1 - t0, "commit_s": t2 - t1}


class Runner:
    """Drives one workload: set-up, warm-up, measured rounds, checks."""

    def __init__(self, args, run_dir: str) -> None:
        from tracing import Tracer
        from workloads import WORKLOADS

        self.args = args
        self.run_dir = run_dir
        self.store_dir = os.path.join(run_dir, "stores")
        self.tr = Tracer(enabled=bool(args.trace))
        self.wl = WORKLOADS[args.workload](
            args.seed, os.path.join(run_dir, "inputs"), self.store_dir, self.tr
        )
        self.ops: list[dict] = []  # every op attempted, warm-up included
        self.failed = 0
        self.attempted = 0
        self.spark = None
        self.rss = None

    # -- one op --------------------------------------------------------
    def run_op(self, build, phase: str) -> dict:
        from tracing import gauge_s, tree_cpu_s, tree_rss_bytes

        rec = {"id": len(self.ops), "phase": phase}
        if phase != "warmup":
            time.sleep(SETTLE_S)
            rec["gauge"] = [gauge_s() for _ in range(GAUGE_SAMPLES)]
        op = build()
        rec.update(kind=op.kind, items=op.items)
        traced = phase == "traced"
        sc = self.spark.sparkContext
        if traced:
            rec["group"] = f"op-{rec['id']}"
            sc.setJobGroup(rec["group"], op.kind)
            if op.write:
                rec.update(replay_write(self.store_dir, os.path.join(self.run_dir, "replay"), op.write))
            before = snapshot(os.path.join(self.store_dir, op.write["table"])) if op.write else None
        self.tr.op = rec["id"]
        ok = False
        rec["start_epoch"] = time.time()
        self.rss.window_peak = 0
        cpu0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        try:
            with self.tr.span("op", kind=op.kind):
                result = op.run()
            ok = True
        except Exception:
            traceback.print_exc()
        rec["wall"] = time.perf_counter() - t0
        rec["cpu"] = tree_cpu_s(os.getpid()) - cpu0
        rec["rss"] = max(self.rss.window_peak, tree_rss_bytes(os.getpid()))
        rec["end_epoch"] = time.time()
        if ok:
            try:
                ok = bool(op.check(result))
            except Exception:
                ok = False
                traceback.print_exc()
            if not ok:
                print(f"connbench: {op.kind} op {rec['id']} returned a wrong result", file=sys.stderr)
        self.tr.op = None
        if ok and op.applied:
            op.applied()
        if traced:
            from tracing import job_group_counts

            rec["jobs"], rec["tasks"] = job_group_counts(sc, rec["group"])
            if op.read:
                rec.update(replay_read(self.store_dir, op.read))
            if op.write:
                after = snapshot(os.path.join(self.store_dir, op.write["table"]))
                changed = [p for p, v in after.items() if before.get(p) != v]
                rec["bytes_written"] = sum(after[p][0] for p in changed)
                rec["segments_rewritten"] = sum(
                    1 for p in changed if os.sep + "data" + os.sep in p and p.endswith(".parquet")
                )
            sc.setJobGroup(None, None)
        rec["ok"] = ok
        self.attempted += 1
        self.failed += 0 if ok else 1
        self.ops.append(rec)
        gauge = " ".join(f"{g[0] * 1000:.1f}" for g in rec.get("gauge", ()))
        print(f"connbench: {phase} {op.kind} {rec['wall']:.3f}s wall, {rec['cpu']:.2f}s cpu; gauge {gauge} ms",
              file=sys.stderr)
        return rec

    def warm_up(self) -> None:
        """Rounds of the seeded sequence, running the first op of each code
        path of the workload, then ops until ``warm_ops`` ran; the other
        ops of those rounds are skipped."""
        todo, ran = set(self.wl.warm_paths), 0
        while todo or ran < self.wl.warm_ops:
            for build in self.wl.next_round():
                if self.wl.path(build.kind) in todo or (not todo and ran < self.wl.warm_ops):
                    todo.discard(self.wl.path(self.run_op(build, "warmup")["kind"]))
                    ran += 1

    def run_rounds(self, phase: str, seconds: float) -> None:
        """Whole rounds, at least one, until ``seconds`` of wall time passed."""
        t0 = time.perf_counter()
        while True:
            for build in self.wl.next_round():
                self.run_op(build, phase)
            if time.perf_counter() - t0 >= seconds:
                return

    # -- the run -------------------------------------------------------
    def run(self) -> dict:
        """The whole run; returns the detail record."""
        from tracing import RssSampler

        from spark_dynamodb_spark import session

        wl, tr, args = self.wl, self.tr, self.args
        marks = self.marks = {"start": time.perf_counter()}
        wl.generate()  # inputs and expected answers: not part of set-up
        marks["generated"] = time.perf_counter()
        with RssSampler() as self.rss:
            t0 = time.perf_counter()
            with tr.span("session.start"):
                self.spark = session.get_spark("connbench")
            session_s = time.perf_counter() - t0
            self.spark.sparkContext.setLogLevel("ERROR")
            wl.spark = self.spark
            creates = []
            for _ in range(wl.setup_rounds):
                t0 = time.perf_counter()
                wl.create_stores()
                creates.append(time.perf_counter() - t0)
            self.setup_s = session_s + median(creates)
            self.setup_parts = {"session_s": session_s, "create_s": creates}
            self.store0 = wl.items_in_stores()
            tr.enabled = False
            os.sync()  # flush set-up's dirty pages now, not during the measured ops
            marks["set_up"] = time.perf_counter()
            self.warm_up()
            os.sync()
            marks["warmed"] = time.perf_counter()
            if args.trace:
                # Traced and untraced rounds alternate, traced first, until
                # there are trace_rounds traced rounds and an untraced one.
                traced = untraced = 0
                while traced < wl.trace_rounds or untraced < 1:
                    tr.enabled = traced <= untraced
                    self.run_rounds("traced" if tr.enabled else "untraced", 0)
                    traced, untraced = traced + tr.enabled, untraced + (not tr.enabled)
                if wl.name == "scan_analytics":
                    # The landing-zone layers ride on one traced run; see LandingProbe.
                    tr.enabled = True
                    self.run_landing_probe()
            else:
                self.run_rounds("measured", args.seconds)
            marks["measured"] = time.perf_counter()
            for name, ok in wl.final_checks():
                self.attempted += 1
                self.failed += 0 if ok else 1
                if not ok:
                    print(f"connbench: final check {name} failed", file=sys.stderr)
            self.store1 = wl.items_in_stores()
            marks["checked"] = time.perf_counter()
        self.peak_rss = self.rss.peak
        return self.detail()

    def run_landing_probe(self) -> None:
        """c121 once, for the operators.pipeline layer."""
        from workloads import LandingProbe

        probe = LandingProbe(self.args.seed, os.path.join(self.run_dir, "inputs"), self.store_dir, self.tr)
        probe.generate()
        probe.spark = self.spark
        self.run_op(probe.op(), "traced")
        probe.close()

    # -- metrics -------------------------------------------------------
    def timed(self, phase: str) -> list[dict]:
        return [r for r in self.ops if r["phase"] == phase and r["kind"] != "c121"]

    def op_figures(self, phase: str) -> dict:
        """End-to-end figures of a phase's ops (whole rounds, so the op mix
        is fixed).  ``*_gauged`` divide the mean per op by the mean gauge,
        which cancels most of how fast the shared host ran; each op
        contributes the median of the gauge loops timed just before it."""
        ops = self.timed(phase)
        wall = mean(r["wall"] for r in ops)
        cpu = mean(r["cpu"] for r in ops)
        gauge_wall = mean(median(g[0] for g in r["gauge"]) for r in ops)
        gauge_cpu = mean(median(g[1] for g in r["gauge"]) for r in ops)
        return {
            "op_wall_gauged": wall / gauge_wall,
            "op_cpu_gauged": cpu / gauge_cpu,
            "op_rss_mb": median(r["rss"] for r in ops) / 2**20,
            "op_wall_mean_s": wall,
            "op_cpu_mean_s": cpu,
            "gauge_wall_s": gauge_wall,
            "gauge_cpu_s": gauge_cpu,
            "ops_per_s": 1 / wall,
            "items_per_s": sum(r["items"] for r in ops) / (wall * len(ops)),
            "peak_rss_mb": self.peak_rss / 2**20,
        }

    def detail(self) -> dict:
        phase = "untraced" if self.args.trace else "measured"
        ops = self.timed(phase)
        per_kind = {}
        for r in ops:
            per_kind.setdefault(r["kind"], []).append(r["wall"])
        out = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "phase": phase,
            "ops": len(ops),
            "failed_op_ratio": self.failed / self.attempted,
            **self.op_figures(phase),
            "ops_per_kind": {k: len(v) for k, v in per_kind.items()},
            "p50_s_per_kind": {k: median(v) for k, v in per_kind.items()},
            **self.setup_parts,
            "stage_s": {k: self.marks[k] - self.marks[p] for p, k in zip(self.marks, list(self.marks)[1:])},
        }
        for kind, name in KIND_METRIC.items():
            if kind in per_kind:
                out[name] = median(per_kind[kind])
        writes = [w for k in WRITE_KINDS for w in per_kind.get(k, [])]
        if writes:
            out["write_p50_s"] = median(writes)
        if self.store1[1]:
            out["store_bytes_per_item"] = self.store1[0] / self.store1[1]
        return out

    def end_to_end(self) -> dict:
        f = self.op_figures("measured")
        return {
            "setup_s": (self.setup_s, "s"),
            "op_wall_gauged": (f["op_wall_gauged"], "ratio"),
            "op_cpu_gauged": (f["op_cpu_gauged"], "ratio"),
            "op_rss_mb": (f["op_rss_mb"], "MB"),
        }

    def per_layer(self) -> dict:
        from tracing import read_event_log, union_ms

        tr = self.tr
        ops = [r for r in self.ops if r["phase"] == "traced"]
        jobs = read_event_log(os.path.join(self.run_dir, "eventlog"))
        by_group: dict = {}
        for j in jobs.values():
            by_group.setdefault(j["group"], []).append(j)
        busy, gaps, shuffle = [], [], []
        for r in self.timed("traced"):
            js = by_group.get(r["group"], [])
            lo, hi = r["start_epoch"] * 1000, r["end_epoch"] * 1000
            spans = [(max(lo, j["start_ms"]), min(hi, j["end_ms"] or hi)) for j in js]
            gaps.append(r["wall"] - union_ms([s for s in spans if s[1] > s[0]]) / 1000)
            busy.append(sum(j["run_ms"] for j in js) / 1000)
            shuffle.append(sum(j["shuffle_bytes"] for j in js))
        reads = [r for r in ops if "read_s" in r]
        writes = [r for r in ops if r["kind"] in WRITE_KINDS]
        lookups = [r for r in reads if r["kind"] in LOOKUP_KINDS]
        filtered = [r for r in reads if r["kind"] in FILTERED_KINDS]
        untraced = median(r["wall"] for r in self.timed("untraced"))
        traced = median(r["wall"] for r in self.timed("traced"))

        m = {
            "session.start_s": (median(tr.durations("session.start")), "s"),
            "keyed_store.create_table_s": (sum(tr.durations("keyed_store.create_table")) / self.wl.setup_rounds, "s"),
            "keyed_store.bytes_per_item": (self.store0[0] / self.store0[1] if self.store0[1] else 0.0, "B"),
            "keyed_store.bytes_per_item_at_end": (self.store1[0] / self.store1[1] if self.store1[1] else 0.0, "B"),
            "dynamo.reader.plan_s": (median(tr.durations("dynamo.reader.plan")), "s"),
            "dynamo.reader.read_s": (median(r["read_s"] for r in reads), "s"),
            "dynamo.reader.rows_per_s": (
                sum(r["rows"] for r in reads) / sum(r["read_s"] for r in reads) if reads else 0.0, "1/s"),
            "dynamo.reader.outside_share": (median(1 - r["read_s"] / r["wall"] for r in reads), "ratio"),
            "dynamo.reader.segments_per_get": (mean(r["segments"] for r in lookups), "count"),
            "dynamo.reader.examined_per_returned": (
                sum(r["examined"] for r in filtered) / max(1, sum(r["rows"] for r in filtered))
                if filtered else 0.0, "ratio"),
            "dynamo.writer.stage_s": (median(r["stage_s"] for r in writes), "s"),
            "dynamo.writer.commit_s": (median(r["commit_s"] for r in writes), "s"),
            "dynamo.writer.bytes_written_per_item": (
                sum(r["bytes_written"] for r in writes) / max(1, sum(r["items"] for r in writes)), "B"),
            "dynamo.writer.segments_rewritten_per_write": (mean(r["segments_rewritten"] for r in writes), "count"),
            "pruning.plan_s": (median(tr.durations("pruning.plan")), "s"),
            "spark.failed_tasks": (sum(j["failed_tasks"] for j in jobs.values()), "count"),
            "spark.executor_busy_s_per_op": (mean(busy), "s"),
            "spark.driver_gap_s_per_op": (mean(gaps), "s"),
            "spark.shuffle_bytes_per_op": (mean(shuffle), "B"),
            "operators.pipeline.build_s": (median(tr.durations("operators.pipeline.build")), "s"),
            "operators.pipeline.action_s": (median(tr.durations("operators.pipeline.action")), "s"),
            "operators.pipeline.c121_s": (sum(r["wall"] for r in ops if r["kind"] == "c121"), "s"),
            "bench.trace_overhead": (traced / untraced - 1, "ratio"),
            "bench.failed_op_ratio": (self.failed / self.attempted, "ratio"),
        }
        for kind in WRITE_KINDS:
            spans = [s for s in tr.spans if s["name"] == "dynamo.writer.write" and s.get("kind") == kind]
            m[f"dynamo.writer.write_s.{kind}"] = (median(s["end"] - s["start"] for s in spans), "s")
        for kind in OP_KINDS:
            rs = [r for r in self.ops if r["phase"] == "traced" and r["kind"] == kind]
            m[f"spark.jobs_per_op.{kind}"] = (mean(r["jobs"] for r in rs), "count")
            m[f"spark.tasks_per_op.{kind}"] = (mean(r["tasks"] for r in rs), "count")
        return m

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to exit."""
        from tracing import descendants, running

        if self.spark is None:
            return
        children = descendants(os.getpid())
        gateway = self.spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.monotonic() + 30
        while (alive := [p for p in children if running(p)]) and time.monotonic() < deadline:
            time.sleep(0.1)
        for pid in alive:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        self.spark = None


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=("scan_analytics", "kv_mixed"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    import_program()
    out_root = os.path.join(REPO_ROOT, ".connbench")
    run_dir = os.path.join(out_root, f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    isolate(run_dir, bool(args.trace))
    runner = Runner(args, run_dir)
    try:
        detail = runner.run()
        runner.stop()  # also flushes the event log
        metrics = runner.per_layer() if args.trace else runner.end_to_end()
        if args.trace:
            runner.tr.dump(os.path.join(out_root, "traces", f"{args.workload}-seed{args.seed}.json"))
    finally:
        runner.stop()
        runner.wl.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
