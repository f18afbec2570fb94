"""Closed-loop benchmark of the decision-tree engine and its operators.

Run from the repository root:

    python3 perfbench/run.py --workload tree --seed 1 --seconds 10 --trace 0

One client (this process) runs one op at a time on ``local[4]``. A run
generates (or reuses) the seed's inputs, starts a fresh SparkSession,
runs one cold op, then a fixed number of timed ops, and checks every
op's output. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the same
ops, traces the cold op and the timed ops, and reports the per-layer
metrics instead. Spans are kept in memory and written to
``perfbench/.cache/trace-<workload>-<seed>.json`` at the end; the
traced run's ``trace.op_wall_s`` against an untraced run's
``op_p50_s`` is the tracing overhead. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CORES = 4
DRIVER_MEMORY = "2g"
# The nominal op wall that turns --seconds into a fixed number of timed
# ops: the count is the same on every commit. Timed ops follow the cold
# op directly; README.md says why there is no warm-up.
NOMINAL_OP_S = {"tree": 3.0, "decode": 10.0, "ingest": 12.0}
MIN_TIMED = 1


def timed_ops(workload: str, seconds: int) -> int:
    return max(MIN_TIMED, round(seconds / NOMINAL_OP_S[workload]))


def start_spark():
    scratch = os.path.join(HERE, ".cache", "spark")
    os.makedirs(scratch, exist_ok=True)
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions", f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={scratch}")
        .config("spark.local.dir", scratch)
        .config("spark.sql.warehouse.dir", os.path.join(scratch, "warehouse"))
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("tree", "decode", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # everything a run writes stays inside the checkout
    tmp = os.path.join(HERE, ".cache", "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    sys.path.insert(0, ROOT)
    import decision_tree_stuff_spark

    if not os.path.abspath(decision_tree_stuff_spark.__file__).startswith(ROOT + os.sep):
        sys.exit(f"decision_tree_stuff_spark imported from outside {ROOT}")

    from inputs import INPUTS

    t0 = time.perf_counter()
    inputs = INPUTS[args.workload](args.seed)
    gen_s = time.perf_counter() - t0

    from layers import SparkCounters, Tracer, proc_age_s
    from workloads import WORKLOADS

    spark = start_spark()
    try:
        counters = SparkCounters(spark)
        tracer = Tracer(False, jobs_started=counters.jobs_started)
        wl = WORKLOADS[args.workload](spark, inputs, tracer)
        setup_s = proc_age_s(os.getpid()) - gen_s
        if args.trace:
            wl.install_wrappers()
        result = Runner(wl, counters, tracer, args).run(setup_s)
    finally:
        stop_spark(spark)
    print(json.dumps(result))
    return 0


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


class Runner:
    def __init__(self, wl, counters, tracer, args):
        self.wl = wl
        self.counters = counters
        self.tracer = tracer
        self.args = args
        self.attempted = 0
        self.failed = 0
        self.check_s = 0.0
        self.per_op = {}  # op id -> per-layer figures (traced ops)

    def one_op(self, op_id: int, traced: bool):
        """Run and time one op; return its wall seconds, CPU seconds and
        output (None if it raised). Traced ops also get their per-layer
        figures, read after the op's clock stopped."""
        tr, c = self.tracer, self.counters
        tr.enabled, tr.op = traced, op_id
        if traced:
            jobs0, gc0, cg0 = c.jobs_started(), c.gc_s(), c.codegen_compiles()
        self.attempted += 1
        cpu0 = c.cpu_s()
        t0 = time.perf_counter()
        try:
            out = self.wl.op()
        except Exception:
            traceback.print_exc()
            out = None
        wall = time.perf_counter() - t0
        cpu = c.cpu_s() - cpu0
        tr.enabled = False
        if traced:
            jobs1 = c.jobs_started()
            spans = tr.op_spans(op_id)
            top = [s for s in spans if s["parent"] is None]
            fig = {
                "trace.op_wall_s": wall,
                "trace.layer_share": sum(s["end"] - s["start"] for s in top) / wall,
                "spark.jobs": jobs1 - jobs0,
                "spark.gc_s": c.gc_s() - gc0,
                "spark.codegen_compiles": c.codegen_compiles() - cg0,
                "spark.plan_s": sum(s["end"] - s["start"] for s in spans if s["name"] == "spark.plan"),
                "utils.persisted_rdds_after_op": c.persisted_rdds(),
            }
            fig.update({f"spark.{k}": v for k, v in c.stage_totals(jobs0, jobs1).items()})
            fig.update(self.wl.layer_metrics(op_id, spans))
            self.per_op[op_id] = fig
        return wall, cpu, out

    def verify(self, op_id: int, out) -> None:
        t0 = time.perf_counter()
        ok = out is not None
        if ok:
            try:
                ok = self.wl.check(out)
            except Exception:
                traceback.print_exc()
                ok = False
        if not ok:
            self.failed += 1
            print(f"op {op_id}: output check failed", file=sys.stderr)
        self.check_s += time.perf_counter() - t0

    def run(self, setup_s: float) -> dict:
        args, wl = self.args, self.wl
        trace = bool(args.trace)
        cold_s, _, cold_out = self.one_op(0, traced=trace)
        outputs = [cold_out]
        del cold_out
        walls, cpus = [], []
        # the traced run runs the same ops as the untraced one, so their
        # walls compare position by position: the difference is the
        # tracing overhead
        for op_id in range(1, 1 + timed_ops(args.workload, args.seconds)):
            wall, cpu, out = self.one_op(op_id, traced=trace)
            outputs.append(out)
            del out
            walls.append(wall)
            cpus.append(cpu)
        # checks run after the last op, so their Spark work never
        # shares the JVM's warm-up with the ops being timed
        t0 = time.perf_counter()
        wl.prepare_check()
        prepare_s = time.perf_counter() - t0
        for op_id, out in enumerate(outputs):
            self.verify(op_id, out)
        del outputs
        print(
            f"{args.workload}: setup {setup_s:.2f} s, cold op {cold_s:.2f} s, "
            f"check set-up {prepare_s:.2f} s, checks {self.check_s:.2f} s, "
            f"{len(walls)} timed ops: " + ", ".join(f"{w:.2f}" for w in walls)
        )
        result = {"correct": self.failed == 0, "attempted": self.attempted, "failed": self.failed}
        if trace:
            result["metrics"] = self.layer_metrics()
            path = os.path.join(HERE, ".cache", f"trace-{args.workload}-{args.seed}.json")
            with open(path, "w") as f:
                json.dump({"spans": self.tracer.spans, "per_op": self.per_op}, f)
            return result
        result["metrics"] = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "cold_op_s": {"value": cold_s, "unit": "s"},
            "op_p50_s": {"value": statistics.median(walls), "unit": "s"},
            "rows_per_s": {"value": wl.units_per_op() / statistics.median(walls), "unit": "1/s"},
            "cpu_s_per_op": {"value": statistics.median(cpus), "unit": "s"},
            "peak_rss_mb": {"value": self.counters.peak_rss_mb(), "unit": "MB"},
            "ok_ratio": {"value": 1 - self.failed / self.attempted, "unit": "1"},
        }
        return result

    def layer_metrics(self) -> dict:
        from metrics import COLD_LAYER, PER_LAYER

        warm = [fig for op, fig in self.per_op.items() if op > 0]
        out = {}
        varying = []
        for name, unit in PER_LAYER.items():
            out[name] = {"value": statistics.median(fig.get(name, 0) for fig in warm), "unit": unit}
            # the cold op counts too: a count that differs there does not
            # repeat exactly from one fresh process to the next
            seen = {fig.get(name, 0) for fig in self.per_op.values()}
            if unit == "count" and len(seen) > 1:
                varying.append(f"{name} {sorted(seen)}")
        cold = self.per_op.get(0, {})
        for name in COLD_LAYER:
            out[f"cold.{name}"] = {"value": cold.get(name, 0), "unit": PER_LAYER[name]}
        print(
            f"{self.args.workload}: top-level layer spans cover {out['trace.layer_share']['value']:.1%} "
            f"of op wall; traced op wall {out['trace.op_wall_s']['value']:.2f} s "
            "(compare op_p50_s of an untraced run for the tracing overhead)"
        )
        print(f"{self.args.workload}: counts that differ between ops: {'; '.join(varying) or 'none'}")
        return out


if __name__ == "__main__":
    sys.exit(main())
