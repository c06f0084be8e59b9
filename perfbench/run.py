"""Benchmark of the tsforge_spark rollup engine.

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Run from the root of a checkout.  One process drives Spark at
``local[<cores>]`` and does everything: it generates the workload's inputs
from ``--seed``, sets up, runs untimed warm units, repeats the timed unit
until ``--seconds`` have passed, checks the outputs and prints one JSON
object as its last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the ``end_to_end`` metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its ``per_layer`` metrics,
taken from spans around calls into each layer (units alternate traced and
untraced, which also gives the tracing overhead).  Each timed unit is
stamped with host steal and guest shares in the line printed before the
result and in ``.perfbench_work/``.

``--smoke`` runs every workload once per trace mode at a tiny scale and
checks that every metric is present with its unit and nothing failed.
"""

from __future__ import annotations

import argparse
import faulthandler
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
RUN_LIMIT_S = 170
HEAP = "2g"  # the JVM heap, small on a shared host and the same everywhere


# input turns of a workload: the benchmark, and the smoke mode's tiny run
TURNS = {"full": 50_000, "smoke": 20_000}


def p90(values: list[float]) -> float:
    """90th percentile, interpolated between the two nearest samples (a
    run has a dozen or so, where a nearest-rank pick jumps)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[8]


class Bench:
    def __init__(self, args, spec: dict):
        from probes import ProcessTree, RssSampler
        from spans import Tracer

        self.args = args
        self.spec = spec
        self.seed = args.seed
        self.turns = TURNS[args.scale]
        self.cores = len(os.sched_getaffinity(0))
        self.work = os.path.join(WORK, args.workload)
        self.tree = ProcessTree()
        self.sampler = RssSampler(self.tree)
        self.tracer = Tracer(bool(args.trace), self.tree)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.units: list[dict] = []
        self.spark = None

    # ---- outcome accounting ----
    def log(self, msg: str) -> None:
        print(f"perfbench: {msg}", file=sys.stderr, flush=True)

    def count_op(self, ok: bool, problem: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(problem)
            self.log(f"FAILED {problem}")

    def fail_if(self, what: str, problems: list[str]) -> None:
        self.count_op(not problems, f"{what}: {'; '.join(problems)}")

    # ---- session ----
    def start_session(self) -> None:
        from tsforge_spark.session import get_spark, warm_start

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            master=f"local[{self.cores}]",
            extra_confs={
                # a fixed-size heap: with a growing one, peak RSS follows
                # the collector's sizing choices more than the work done
                "spark.driver.memory": HEAP,
                "spark.driver.extraJavaOptions": f"-Xms{HEAP} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.hadoop.hadoop.tmp.dir": tmp,
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t0
        self.tracer.attach(self.spark)
        self.tracer.record("session.start_s", self.session_s)
        self.warm_start_s = warm_start(self.spark)
        self.tracer.record("session.warm_start_s", self.warm_start_s)

    def stop_session(self) -> None:
        """Stop Spark, the JVM it launched and every process below it,
        and wait until each has ended."""
        from pyspark import SparkContext

        # taken first: once the JVM is gone, its Python workers are no
        # longer our descendants, but they are still ours to wait for
        started = [p for p in self.tree.pids() if p != self.tree.root]
        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        grace = time.time() + 10
        while True:
            started += [p for p in self.tree.pids() if p != self.tree.root and p not in started]
            alive = [p for p in started if os.path.exists(f"/proc/{p}")]
            if not alive:
                return
            # after a grace period, ask; ten seconds later, insist
            if time.time() > grace:
                sig = signal.SIGKILL if time.time() > grace + 10 else signal.SIGTERM
                for pid in alive:
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
            time.sleep(0.2)

    # ---- timing ----
    @contextmanager
    def timed(self):
        """Wall time, process-tree CPU and host stamps of one unit."""
        from probes import host_stamp, host_ticks

        rec: dict = {}
        host0, (cpu0, _) = host_ticks(), self.tree.sample()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            cpu1, rec["rss_mb"] = self.tree.sample()
            rec["cpu_s"] = cpu1 - cpu0
            rec.update(host_stamp(host0, host_ticks()))

    def run_unit(self, w) -> dict:
        w.prepare()
        ok = True
        with self.timed() as rec:
            try:
                w.unit()
            except Exception:  # noqa: BLE001 — a failed unit is counted, the run goes on
                self.log(traceback.format_exc())
                ok = False
        self.count_op(ok, "unit raised")
        rec["ok"] = ok
        return rec

    def warm_up(self, w) -> None:
        """Untimed units before measuring (JIT, codegen and worker
        start-up land here), up to the workload's ``WARM_UNITS``
        counting any its set-up ran; their time counts in ``setup_s``."""
        with self.tracer.paused():
            for _ in range(w.WARM_UNITS - w.warm_units_done):
                wall = self.run_unit(w)["wall_s"]
                w.setup_parts["warm_units"] = w.setup_parts.get("warm_units", 0.0) + wall

    def measure(self, w) -> None:
        """Repeat the unit until ``--seconds`` have passed.  Traced runs
        alternate untraced and traced units, at least two of each."""
        tracing = self.tracer.enabled
        self.sampler.reset()
        t_end = time.perf_counter() + self.args.seconds
        while time.perf_counter() < t_end or len(self.units) < (4 if tracing else 1):
            traced = tracing and len(self.units) % 2 == 1
            with self.tracer.paused(not traced), self.tracer.span("perfbench.unit"):
                rec = self.run_unit(w)
            rec["traced"] = traced
            rec["bytes"] = w.output_bytes()
            self.units.append(rec)
        self.peak_rss_mb = self.sampler.peak_mb

    # ---- metrics ----
    def end_to_end(self, w) -> dict:
        units = [u for u in self.units if u["ok"]] or self.units
        wall = statistics.median(u["wall_s"] for u in units)
        window_ms = 1e3 * sum(u["wall_s"] for u in self.units)
        lat = [x if math.isfinite(x) else window_ms for x in w.latencies_ms] or [window_ms]
        return {
            "setup_s": self.session_s + self.warm_start_s + sum(w.setup_parts.values()),
            "wall_s": wall,
            "cpu_s": statistics.median(u["cpu_s"] for u in units),
            "turns_per_s": w.turns_per_unit / wall,
            "bytes_per_turn": statistics.median(u["bytes"] for u in units) / w.stored_turns,
            "latency_p50_ms": statistics.median(lat),
            "latency_p90_ms": p90(lat),
            "peak_rss_mb": self.peak_rss_mb,
        }

    def per_layer(self) -> dict:
        m = self.tracer.layer_metrics()

        def med(key: str, units: list[dict]) -> float:
            return statistics.median(u[key] for u in units) if units else 0.0

        traced = [u for u in self.units if u["traced"]]
        plain = [u for u in self.units if not u["traced"]]
        m["host.steal_pct"] = med("steal_pct", self.units)
        m["host.guest_pct"] = med("guest_pct", self.units)
        m["perfbench.trace_overhead_pct"] = (
            100.0 * (med("wall_s", traced) / med("wall_s", plain) - 1.0) if traced and plain else 0.0
        )
        return m

    def result(self, w) -> dict:
        kind = "per_layer" if self.tracer.enabled else "end_to_end"
        measured = self.per_layer() if self.tracer.enabled else self.end_to_end(w)
        metrics = {}
        for spec in self.spec[kind]:
            # a layer the workload never calls reads 0
            metrics[spec["name"]] = {"value": float(measured.pop(spec["name"], 0.0)), "unit": spec["unit"]}
        if kind == "end_to_end" and any(v["value"] == 0.0 for v in metrics.values()):
            self.count_op(False, "an end-to-end metric was not measured")
        for name in measured:
            self.log(f"measured {name} is not listed in BENCHMARK.json")
        return {
            "correct": not self.problems,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }

    def run(self) -> dict:
        from workloads import WORKLOADS

        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        with self.sampler:
            try:
                self.start_session()
                w = WORKLOADS[self.args.workload](self)
                w.setup()
                self.warm_up(w)
                w.latencies_ms.clear()
                self.measure(w)
                with self.tracer.paused():
                    w.check()
                if self.tracer.enabled:
                    w.layers()
                out = self.result(w)
            finally:
                self.stop_session()
        detail = {
            "workload": self.args.workload, "seed": self.seed, "trace": self.args.trace,
            "cores": self.cores, "setup": dict(w.setup_parts, session=self.session_s,
                                               warm_start=self.warm_start_s),
            "input_bytes": w.input_bytes,
            "units": self.units, "latencies_ms": w.latencies_ms, "problems": self.problems,
            "spans": self.tracer.spans,
        }
        shutil.rmtree(self.work, ignore_errors=True)
        name = f"{self.args.workload}-seed{self.seed}-trace{self.args.trace}.json"
        with open(os.path.join(WORK, name), "w") as f:
            json.dump(detail, f, indent=1, default=str)
        print(json.dumps({"units": self.units, "quartiles": {
            k: statistics.quantiles([u[k] for u in self.units], n=4) if len(self.units) > 1 else []
            for k in ("wall_s", "cpu_s")}}))
        return out


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def import_engine() -> None:
    """The engine must come from this checkout, not from anywhere else on
    the path."""
    sys.path.insert(0, ROOT)
    import tsforge_spark

    here = os.path.dirname(os.path.abspath(tsforge_spark.__file__))
    if os.path.dirname(here) != ROOT:
        raise ImportError(f"tsforge_spark imported from {here}, not from {ROOT}")


def smoke() -> int:
    """Every workload once per trace mode at the smoke scale: each metric
    of BENCHMARK.json present with its unit, nothing failed."""
    spec = load_spec()
    bad = 0
    for wl in spec["workloads"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl["name"], "--seed", "1",
                   "--seconds", "1", "--trace", str(trace), "--scale", "smoke"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            errors = []
            try:
                res = json.loads(proc.stdout.strip().splitlines()[-1])
            except (IndexError, json.JSONDecodeError):
                res, errors = {}, [f"exit {proc.returncode}, no result:\n{proc.stderr[-2000:]}"]
            if res:
                if proc.returncode != 0 or not res["correct"] or res["failed"] != 0:
                    errors.append(f"exit {proc.returncode}, correct {res['correct']}, failed {res['failed']}")
                want = {m["name"]: m["unit"] for m in spec[kind]}
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                if got != want:
                    errors.append(f"metrics differ from BENCHMARK.json: {sorted(set(got) ^ set(want))}")
            status = "ok" if not errors else "FAIL " + " | ".join(errors)
            print(f"{wl['name']:8s} trace={trace}: {status}", flush=True)
            bad += bool(errors)
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(TURNS), default="full")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()

    try:
        spec = load_spec()
        import_engine()
    except (OSError, ImportError, ValueError) as e:
        print(f"perfbench: cannot run here: {e}", file=sys.stderr)
        return 2
    if args.smoke:
        return smoke()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # keep every temporary file of this process and its children inside
    # the checkout
    os.makedirs(os.path.join(WORK, args.workload, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, args.workload, "tmp")
    faulthandler.dump_traceback_later(RUN_LIMIT_S, exit=True)
    out = Bench(args, spec).run()
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
