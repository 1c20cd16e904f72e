"""Self-test: a corrupted result and a lost write are counted as failures.

    python3 connbench/selftest.py

Runs the kv_mixed harness on a small table with two faults injected
from outside the program: every GetItem returns its item with attribute
``a`` changed (or a phantom item for a deleted key), and one put is
dropped before it reaches the store while the model still records it.  The run must count every corrupted get
and the final full-scan check as failed ops, and nothing else.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import uuid

import run


def main() -> int:
    run.import_program()
    from pyspark.sql import Row

    import workloads

    class FaultyKv(workloads.KvMixed):
        N_ITEMS = 2_000
        FRESH = 500

        def generate(self):
            super().generate()
            self.write_turn = 0  # the warm-up's write is then a put

        def _get(self, kind, keys):
            op = super()._get(kind, keys)
            if kind == "get":
                inner = op.run

                def corrupted():
                    rows = inner()
                    if not rows:  # a deleted key: return a phantom item instead
                        return [Row(pk=keys[0], a=0, b=0.0, s="", t="")]
                    return [Row(**{**r.asDict(), "a": r["a"] + 1}) for r in rows]

                op.run = corrupted
            return op

        def _write(self, kind, n):
            op = super()._write(kind, n)
            if kind == "put" and not getattr(self, "dropped", False):
                self.dropped = True
                op.run = lambda: None  # acknowledged, never written
            return op

    run_dir = os.path.join(run.REPO_ROOT, ".connbench", f"selftest-{uuid.uuid4().hex[:8]}")
    run.isolate(run_dir, trace=False)
    args = argparse.Namespace(workload="kv_mixed", seed=7, seconds=0.0, trace=0)
    runner = run.Runner(args, run_dir)
    runner.wl = FaultyKv(args.seed, os.path.join(run_dir, "inputs"), runner.store_dir, runner.tr)
    try:
        runner.run()
    finally:
        runner.stop()
        runner.wl.close()
        shutil.rmtree(run_dir, ignore_errors=True)

    gets = sum(1 for r in runner.ops if r["kind"] == "get")
    bad_ops = sum(1 for r in runner.ops if not r["ok"])
    bad_final = runner.failed - bad_ops
    print(f"selftest: {gets} corrupted gets, {bad_ops} failed ops, {bad_final} failed final checks, "
          f"failed_op_ratio {runner.failed / runner.attempted:.3f}")
    if bad_ops != gets or any(not r["ok"] for r in runner.ops if r["kind"] != "get"):
        print("selftest: FAILED - corrupted gets were not counted exactly", file=sys.stderr)
        return 1
    if bad_final != 1:
        print("selftest: FAILED - the lost write was not caught by the full-scan check", file=sys.stderr)
        return 1
    if not 0 < runner.failed / runner.attempted < 1:
        print("selftest: FAILED - failed_op_ratio does not reflect the faults", file=sys.stderr)
        return 1
    print("selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
