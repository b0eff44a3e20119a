"""Benchmark of the GHTorrent import and the query engine.

    python3 perfbench/run.py --workload etl_fresh --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout, as one process on
``local[nproc]`` with one closed-loop client: an op starts when the
previous one has finished.  Set-up (Spark session, inputs built from
``--seed``, DuckDB oracle counts, warm-up) is timed as ``setup_s``; then
whole passes of ops run until ``--seconds`` have passed (and at least
the workload's minimum number of passes).  A cold workload
(``etl_fresh``) has no warm-up and measures exactly one op, the first of
the session.  Every op's output is checked; a wrong output or an
exception counts as a failed op and never stops the run.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` interleaves
untraced and traced passes and prints the per-layer metrics of the
traced passes, plus ``trace.overhead_s``: traced minus untraced median
op latency.  A cold workload traces its one measured op, then imports
once untraced and once traced, warm, for the overhead alone.  The last
line of stdout is one JSON object; lines before it
are a readable report.  Spans of the traced ops are written to
``.perfbench_out/``.  All scratch data lives under ``.perfbench_work/``
and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


#: The driver heap, fixed in size.  The program's default (8g, grown on
#: demand) lets G1 size the heap by its GC-time heuristics: the peak
#: memory of ten runs of etl_fresh on a 4-vCPU machine then spread over
#: 2.8-4.3 GB.  2 GiB holds both workloads with no spill.
DRIVER_MEM = "2g"


def _environment(work: Path) -> dict[str, str]:
    """Process environment and Spark settings that keep every file the
    run writes inside ``work``."""
    for d in ("tmp", "local", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    # no hsperfdata files under the system temp dir, from the launcher JVM
    # or the driver JVM
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    os.environ.update(
        SPARK_GRAFT_CPUS=str(_cpus()),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=str(work / "local"),
        SPARK_LAUNCHER_OPTS=jvm_opts,
        TMPDIR=str(work / "tmp"),
        PYSPARK_PYTHON=sys.executable,
    )
    return {
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} {jvm_opts}",
    }


#: per-layer ratios, not additive over the ops of a pass
RATIOS = (
    "sources.decode_share",
    "sources.new_doc_ratio",
    "pipelines.survivor_ratio",
    "snapshots.write_amplification",
    "snapshots.bytes_stored_per_input_byte",
    "snapshots.prepare_commit_share",
)


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it.  A tail is never below the median: with fewer
    than twenty samples it is the maximum."""
    s = sorted(samples)
    if len(s) < 20:
        return s[-1], 100.0
    k = len(s) - 10
    return s[k - 1], 100.0 * k / len(s)


class Op:
    __slots__ = ("key", "seconds", "ok", "records", "traced", "layers", "pass_no")

    def __init__(self, key, pass_no: int, traced: bool) -> None:
        self.key, self.pass_no, self.traced = key, pass_no, traced
        self.seconds, self.ok, self.records, self.layers = 0.0, False, 0, {}


class Bench:
    def __init__(self, args: argparse.Namespace, spec: dict, work: Path) -> None:
        self.args, self.spec, self.work = args, spec, work
        self.ops: list[Op] = []
        self.setup_layers: dict[str, float] = {}

    # ---- set-up ---------------------------------------------------------
    def setup(self, t_start: float) -> None:
        import probes
        from workloads import WORKLOADS

        from ght2dm_spark.session import get_spark

        conf = _environment(self.work)
        self.tracer = probes.Tracer()
        self.wl = WORKLOADS[self.args.workload](self.work, self.args.seed, self.tracer)
        # the inputs need no Spark: build them while the JVM starts
        with ThreadPoolExecutor(1) as pool:
            prepared = pool.submit(self.wl.prepare)
            t = time.perf_counter()
            self.spark = get_spark(app_name=f"perfbench-{self.args.workload}", extra_conf=conf)
            self.setup_layers["session.get_spark_s"] = time.perf_counter() - t
            print(f"# set-up session: {self.setup_layers['session.get_spark_s']:.2f} s", file=sys.stderr)
            prepared.result()
        self.rss = probes.RssSampler(self.spark.sparkContext._gateway.proc.pid).__enter__()
        self.counters = probes.SparkCounters(self.spark)
        self.wl.spark = self.spark
        self.wl.setup()
        self.setup_s = time.perf_counter() - t_start

    # ---- measurement ----------------------------------------------------
    def _schedule(self):
        """Whether each pass is traced, until the run has measured enough."""
        trace = bool(self.args.trace)
        if self.wl.cold:
            # the cold op, traced or not; a traced run then imports twice
            # more, warm, for the tracing overhead
            yield from (True, False, True) if trace else (False,)
            return
        done = {False: 0, True: 0}
        t0 = time.perf_counter()
        p = 0
        while True:
            # untraced, traced, traced, untraced, ...: a warm-up trend
            # weighs on both sides of the tracing overhead alike
            traced = trace and p % 4 in (1, 2)
            enough = time.perf_counter() - t0 >= self.args.seconds
            if enough and all(done[k] >= self.wl.min_passes for k in ({False, True} if trace else {False})):
                return
            yield traced
            done[traced] += 1
            p += 1

    def measure(self) -> None:
        passes = self.wl.passes()
        for p, traced in enumerate(self._schedule()):
            keys = next(passes)
            if traced:
                self._traced_pass(keys, p)
            else:
                for key in keys:
                    self._op(key, p, traced=False)

    def _op(self, key, pass_no: int, traced: bool) -> Op:
        op = Op(key, pass_no, traced)
        group = f"op-{len(self.ops)}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, f"{self.wl.name} {key}")
        self.tracer.op = group
        result, failed, span = None, False, None
        t = time.perf_counter()
        try:
            with self.tracer.span("op", key=str(key)) as span:
                result = self.wl.run(key)
        except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
            traceback.print_exc()
            failed = True
        op.seconds = time.perf_counter() - t
        if traced:
            self.counters.drain()
            op.layers = self.counters.read(group)
            op.layers.update(self.catalyst.take())
        # the output check and probes run their own jobs, outside the op's
        # group, and their calls into the program are no spans of the op
        sc.setJobGroup(f"{group}-check", f"{self.wl.name} {key} check")
        self.tracer.enabled = False
        try:
            op.ok = not failed and self.wl.check(key, result)
        except Exception:  # noqa: BLE001
            traceback.print_exc()
        finally:
            self.tracer.enabled = traced
        op.records = self.wl.records(key)
        if traced:
            op.layers.update(self._op_layers(op, group))
            span.attrs.update(op.layers)
        self.wl.after(key)
        sc.setJobGroup("", "")
        self.tracer.op = None
        self.ops.append(op)
        print(f"# {'traced ' if traced else ''}op {key}: {op.seconds:.3f} s "
              f"{'ok' if op.ok else 'FAILED'}", file=sys.stderr)
        return op

    def _traced_pass(self, keys, pass_no: int) -> None:
        import probes

        self.catalyst = probes.CatalystPhases(self.spark)
        self.tracer.install()
        self.tracer.enabled = True
        try:
            for key in keys:
                self.counters.drain()
                self.catalyst.take()
                self.tracer.decode_calls.clear()
                self._op(key, pass_no, traced=True)
        finally:
            self.tracer.enabled = False
            self.tracer.uninstall()
            self.catalyst.close()

    # ---- per-layer view of one traced op --------------------------------
    def _op_layers(self, op: Op, group: str) -> dict[str, float]:
        import probes

        spans = self.tracer.op_spans(group)
        out = {}
        by_name = defaultdict(float)
        for s in spans:
            by_name[s.name] += s.end - s.start
        for name in ("prepare_commit", "commit", "vacuum", "read_snapshot"):
            out[f"snapshots.{name}_s"] = by_name[f"snapshots.{name}"]
        out["queries.build_s"] = by_name["queries.build"]
        out["queries.exec_s"] = by_name["queries.exec"]
        written = [s.attrs for s in spans if s.name == "snapshots.prepare_commit"]
        out["snapshots.prepare_commit_share"] = out["snapshots.prepare_commit_s"] / op.seconds
        out["snapshots.files_written"] = sum(a.get("files", 0) for a in written)
        out["snapshots.bytes_written"] = sum(a.get("bytes", 0) for a in written)
        out["catalyst.analysis_ms"] = op.layers.get("catalyst.analysis_ms", 0.0) + sum(
            s.attrs.get("analysis_ms", 0.0) for s in spans)
        for entity, secs in probes.entity_times(spans).items():
            out[f"pipelines.import_{entity}_s"] = secs
        if self.tracer.decode_calls:
            out.update(self._decode_probe(op))
        out.update(self.wl.layers(op.key, out))
        return out

    def _decode_probe(self, op: Op) -> dict[str, float]:
        """Decode the op's input again on its own, into a noop sink: the
        time and counts of the ``sources`` layer for this op."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        read = self.tracer.original("ght2dm_spark.sources.bson", "read_bson_dumps")
        secs = docs = rejects = 0.0
        for args, kwargs in self.tracer.decode_calls:
            obs = Observation()
            t = time.perf_counter()
            read(*args, **kwargs).observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.count("_corrupt").alias("bad"),
            ).write.format("noop").mode("overwrite").save()
            secs += time.perf_counter() - t
            docs += obs.get["n"]
            rejects += obs.get["bad"]
        return {
            "sources.decode_s": secs,
            "sources.decode_share": secs / op.seconds,
            "sources.docs_decoded": docs,
            "sources.rejects": rejects,
            "sources.new_doc_ratio": op.records / docs if docs else 0.0,
        }

    # ---- results --------------------------------------------------------
    def end_to_end(self) -> dict[str, float]:
        ops = [o for o in self.ops if not o.traced]
        secs = [o.seconds for o in ops]
        busy = sum(secs)
        return {
            # every query of the mix weighs alike, as in TPC-H's power
            # metric; a median would stay put when a query other than
            # the middle one changes, and jump between neighbours
            "op_geomean_s": statistics.geometric_mean(secs),
            "ops_per_s": len(ops) / busy,
            "input_docs_per_s": sum(o.records for o in ops) / busy,
            "peak_rss_mb": self.rss.peak_bytes / 2**20,
            "setup_s": self.setup_s,
        }

    def per_layer(self) -> dict[str, float]:
        """Per-layer values of each traced pass (one import, or one pass
        over the query mix): counts and times summed over the pass's ops,
        ratios recomputed from those sums; then the median over passes."""
        from workloads import QUERY_MIX, query_family

        traced = [o for o in self.ops if o.traced]
        plain = [o for o in self.ops if not o.traced]
        by_pass: dict[int, list[Op]] = defaultdict(list)
        for o in traced:
            by_pass[o.pass_no].append(o)
        if self.wl.cold:
            # the layers of the measured, cold op; the warm ones after it
            # only give the tracing overhead
            by_pass = {0: by_pass[0]}
            traced = [o for o in traced if o.pass_no != 0]
        totals = []
        for ops in by_pass.values():
            tot: dict[str, float] = defaultdict(float)
            for o in ops:
                for k, v in o.layers.items():
                    tot[k] += v
                if o.key in QUERY_MIX:
                    tot[f"family.{query_family(o.key)}.exec_s"] += o.layers["queries.exec_s"]
            for k in RATIOS:
                tot[k] = statistics.median(o.layers.get(k, 0.0) for o in ops)
            tot["spark.core_util"] = tot["spark.executor_run_s"] / (
                sum(o.seconds for o in ops) * self.counters.cores)
            totals.append(tot)
        out = {m["name"]: 0.0 for m in self.spec["per_layer"]}
        out.update(self.setup_layers)
        out["io.load_table_s"] = self.wl.info.get("io.load_table_s", 0.0)
        for k in {k for t in totals for k in t}:
            out[k] = statistics.median(t.get(k, 0.0) for t in totals)
        out["trace.overhead_s"] = (
            statistics.median(o.seconds for o in traced) - statistics.median(o.seconds for o in plain)
        )
        out["error_rate"] = self.failed / len(self.ops)
        return out

    @property
    def failed(self) -> int:
        return sum(not o.ok for o in self.ops)

    def close(self) -> None:
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        gw = spark.sparkContext._gateway
        proc = getattr(gw, "proc", None)
        spark.stop()
        if getattr(self, "rss", None):
            self.rss.__exit__(None, None, None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:  # never leave the JVM behind
                proc.kill()
                proc.wait(timeout=30)


def main() -> int:
    t_start = time.perf_counter()
    args = _args()
    if not (ROOT / "ght2dm_spark" / "__init__.py").is_file():
        print("perfbench: run from the root of a spark-graft checkout", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    bench = Bench(args, spec, work)
    try:
        bench.setup(t_start)
        bench.measure()
        if args.trace:
            metrics = bench.per_layer()
            bench.tracer.dump(ROOT / ".perfbench_out" / f"spans-{args.workload}-seed{args.seed}.jsonl")
            specs = spec["per_layer"]
        else:
            metrics = bench.end_to_end()
            specs = spec["end_to_end"]
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    units = {m["name"]: m["unit"] for m in specs}
    n, failed = len(bench.ops), bench.failed
    print(f"workload {args.workload}  seed {args.seed}  local[{_cpus()}]  1 closed-loop client  "
          f"ops {n}  failed {failed}  error_rate {failed / n:.4f}")
    if not args.trace:
        secs = [o.seconds for o in bench.ops]
        value, pct = tail(secs)
        print(f"op median {statistics.median(secs):.6f} s, tail (p{pct:.1f} of {n} ops) {value:.6f} s "
              f"(reported only here: not steady from run to run)")
    for name, value in metrics.items():
        print(f"{name:40s} {value:16.6f} {units.get(name, '')}")
    result = {
        "correct": failed == 0,
        "attempted": n,
        "failed": failed,
        "metrics": {m: {"value": metrics[m], "unit": units[m]} for m in units},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
