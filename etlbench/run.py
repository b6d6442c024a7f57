"""Run one workload of the benchmark and print its result.

    python3 etlbench/run.py --workload relational --seed 1 --seconds 8 --trace 0

One Spark process on ``local[nproc]``, one closed-loop client. After
set-up (session start, the workload's layout builds, a warm-up pass
whose outputs are checked) the client runs passes over the workload's
op list until ``--seconds`` have passed. The last line of standard
output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, measured untraced.
``--trace 1`` alternates untraced and traced passes and reports the
per-layer metrics of the traced ones. Spans are written to
``etlbench/.run/trace/`` at exit. See README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import inspect  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(HERE, ".run")
# Layout caches are keyed by the data directory's basename; this prefix
# keeps the benchmark's keys apart from every other user's.
DATA_PREFIX = "etlbench_"
DRIVER_MEM = "3g"


def declared_metrics(trace: int) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them for this
    mode: the end-to-end metrics untraced, the per-layer ones traced."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Bench:
    def __init__(self, args, workload) -> None:
        from etlbench.spans import Tracer

        self.args = args
        self.workload = workload
        self.tracer = Tracer()
        self.spark = None
        self.probe = None
        self.checker = None
        self.detail: dict = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.check_s = 0.0
        self.layer: dict[str, float] = {}
        self.pass_index = -1
        self.op_counts: dict[str, float] = defaultdict(float)
        self.merges = []  # merge ops applied, in order
        self.landed = {}  # extract slot -> the op that wrote it last
        self.n_orders = 0

    # ------------------------------------------------------------ set-up

    def link_data(self) -> str:
        """A data directory of the benchmark's own: links to the test
        tables under a distinct basename. The engine names the test-data
        root in one place, the default dataset of ``catalog.flagship``;
        the benchmark reads it from there rather than repeat it."""
        from openetl_spark import catalog

        default = inspect.signature(catalog.flagship).parameters["sf_dir"].default
        src = os.path.join(os.path.dirname(os.path.normpath(default)), self.workload.dataset)
        if not os.path.isdir(src):
            raise FileNotFoundError(f"test data {src} not found")
        dst = os.path.join(RUN_DIR, "data", DATA_PREFIX + self.workload.dataset)
        shutil.rmtree(dst, ignore_errors=True)
        os.makedirs(dst)
        for path in glob.glob(os.path.join(src, "*.parquet")):
            os.symlink(path, os.path.join(dst, os.path.basename(path)))
        return dst

    def reset_state(self) -> None:
        """Same on-disk start for every run: drop this benchmark's layout
        keys and pipeline outputs; nothing else under spark-warehouse."""
        for path in glob.glob(os.path.join(ROOT, "spark-warehouse", "*", DATA_PREFIX + "*")):
            shutil.rmtree(path, ignore_errors=True)
        for sub in ("etl", "tmp"):
            shutil.rmtree(os.path.join(RUN_DIR, sub), ignore_errors=True)
            os.makedirs(os.path.join(RUN_DIR, sub))

    def start_session(self) -> None:
        from openetl_spark.session import get_spark

        tmp = os.path.join(RUN_DIR, "tmp")
        # The whole heap is committed and touched at start: when the JVM
        # grows it on demand, its resident size and pass times follow
        # the timing of its resizing decisions and spread widely from
        # run to run, and first touches of heap pages land in the passes.
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        }
        if self.args.trace:
            from etlbench.sparkprobe import RETAINED_EXECUTIONS

            conf["spark.sql.ui.retainedExecutions"] = str(RETAINED_EXECUTIONS)
        t = time.perf_counter()
        self.spark = get_spark("etlbench", conf)
        self.layer["session.start_s"] = time.perf_counter() - t

    def build_layouts(self) -> None:
        """The persisted layouts the workload's queries read, built from
        scratch: the co-purchase graph and its 4-round LPA seed labels
        (``_lpa_layout`` builds the graph layout first)."""
        t = time.perf_counter()
        if "louvain_multilevel" in self.workload.queries or "kcore_parts" in self.workload.queries:
            from openetl_spark.queries.analytics_r07 import _lpa_layout

            _lpa_layout(self.spark, self.sf_dir, rounds=4)
        self.layer["queries.layout_build_s"] = time.perf_counter() - t

    def setup_pipelines(self) -> None:
        """Base snapshot of the versioned orders table."""
        from openetl_spark import Orchestrator, Pipeline
        from openetl_spark.spec import Connector
        from etlbench.workloads import orders_connector

        self.n_orders = self.checker.con.sql("SELECT max(o_orderkey) + 1 FROM orders").fetchone()[0]
        Orchestrator(spark=self.spark).run_pipeline(Pipeline(
            id="base", source=orders_connector(self.sf_dir),
            target=Connector("versioned", self.table_path),
        ))

    @property
    def table_path(self) -> str:
        return os.path.join(RUN_DIR, "etl", "orders_v")

    def land_path(self, slot: int) -> str:
        return os.path.join(RUN_DIR, "etl", "land", f"slot{slot}")

    # --------------------------------------------------------------- ops

    def _plan(self, df) -> None:
        """Catalyst optimisation and physical planning of ``df``, timed
        on its own when tracing; the action plans again, untimed."""
        if self.tracer.active:
            with self.tracer.span("catalyst.plan"):
                df._jdf.queryExecution().executedPlan()

    def execute(self, op, collect: bool):
        from openetl_spark import Orchestrator, Pipeline
        from openetl_spark.sinks import versioned
        from openetl_spark.spec import Connector
        from etlbench import workloads as W

        span, sf = self.tracer.span, self.sf_dir
        if op.kind == "query":
            from openetl_spark import catalog

            with span("queries.construct"):
                df = catalog.QUERIES[op.label](self.spark, sf)
            self._phase("exec")
            self._plan(df)
            with span("exec.action"):
                if collect:
                    return df.toPandas()
                df.write.format("noop").mode("overwrite").save()
            return None

        self._phase("exec")
        orch = Orchestrator(spark=self.spark)
        if op.kind == "compact":
            with span("sinks.compact"):
                versioned.compact(self.spark, self.table_path)
            return None
        if op.kind == "slice":
            with span("pipeline.run"):
                res = orch.run_pipeline(Pipeline(id=op.label, source=W.slice_connector(op, sf)))
            self._plan(res.df)
            with span("exec.action"):
                return res.collect()
        if op.kind == "extract_load":
            source = W.extract_connector(op, sf)
            target = Connector("parquet", self.land_path(op.params["slot"]), config={"mode": "overwrite"})
        else:  # merge
            source = W.orders_connector(sf, op)
            target = Connector("versioned", self.table_path, config={"key_cols": ["o_orderkey"]})
        with span("pipeline.run"):
            orch.run_pipeline(Pipeline(
                id=op.label, source=source, target=target, onbeforesend=self._plan,
            ))
        if op.kind == "merge":
            self.merges.append(op)
        else:
            self.landed[op.params["slot"]] = op
        return None

    def _phase(self, name: str) -> None:
        if self.tracer.active:
            self.probe.phase(name)

    def run_op(self, op, check: bool) -> None:
        self.attempted += 1
        op_id = f"p{self.pass_index}.{op.label}"
        try:
            with self.tracer.span("op", op=op_id):
                result = self._execute_counted(op_id, op, collect=check)
            self.spark.catalog.clearCache()
            if check:
                t = time.perf_counter()
                err = self.check_op(op, result)
                self.check_s += time.perf_counter() - t
                if err:
                    self.fail(op_id, f"check: {err}")
        except Exception:  # noqa: BLE001 - an op failure is counted, the run goes on
            self.fail(op_id, traceback.format_exc())
            try:
                self.spark.catalog.clearCache()
            except Exception:  # noqa: BLE001 - a dead session fails the next ops too
                pass

    def _execute_counted(self, op_id: str, op, collect: bool):
        """``execute``, with the op's Spark counters added to the pass
        totals when tracing."""
        if not self.tracer.active:
            return self.execute(op, collect)
        self.probe.begin_op(op_id)
        result = None
        try:
            result = self.execute(op, collect)
            return result
        finally:
            self._count(op, self.probe.end_op(), result)

    def fail(self, op_id: str, why: str) -> None:
        self.failed += 1
        self.errors.append(f"{op_id}: {why.strip().splitlines()[-1]}")
        log(f"{op_id} failed: {why}")

    def _count(self, op, counts: dict, result) -> None:
        c = self.op_counts
        for k, v in counts.items():
            c[k] += v
        if op.kind in ("query", "compact"):
            return  # the source ratio covers pipeline reads only
        c["rows_out"] += counts["write_rows"] + (len(result) if op.kind == "slice" and result else 0)
        c["pipeline_scan_rows"] += counts["scan_rows"]
        if op.kind == "merge":
            c["merge_write_rows"] += counts["write_rows"]
            c["merge_update_rows"] += self.checker.con.sql(
                f"SELECT count(*) FROM orders WHERE o_orderkey BETWEEN "
                f"{op.params['lo']} AND {op.params['hi']}"
            ).fetchone()[0]

    # ------------------------------------------------------------ checks

    def check_op(self, op, result) -> str | None:
        from openetl_spark import catalog
        from etlbench import workloads as W

        if op.kind == "query":
            return self.checker.check(catalog.ORACLE[op.label], result)
        con = self.checker.con
        if op.kind == "slice":
            expected = con.sql(W.slice_sql(op)).fetchall()
            got = [tuple(r) for r in result]
            return None if got == expected else f"{len(got)} rows differ from the DuckDB slice"
        if op.kind == "extract_load":
            return self.check_landed(op)
        return None  # merges and compacts are checked through the snapshot

    def check_landed(self, op) -> str | None:
        from etlbench import workloads as W
        from etlbench.checks import relation_mismatch

        path = os.path.join(self.land_path(op.params["slot"]), "*.parquet")
        return relation_mismatch(self.checker.con, _parquet_sql(path), W.extract_sql(op))

    def check_snapshot(self) -> str | None:
        from openetl_spark.sinks.versioned import latest_version
        from etlbench import workloads as W
        from etlbench.checks import relation_mismatch

        path = os.path.join(self.table_path, f"v={latest_version(self.table_path)}", "*.parquet")
        return relation_mismatch(self.checker.con, _parquet_sql(path), W.snapshot_sql(self.merges))

    def check_state(self, label: str, slots: bool) -> None:
        """Pipeline state checks, timed as checking: the versioned
        snapshot, and with ``slots`` every landed extract."""
        t = time.perf_counter()
        checks = [(f"{label}.snapshot", self.check_snapshot)]
        if slots:
            checks += [(f"{label}.{op.label}", lambda op=op: self.check_landed(op))
                       for op in self.landed.values()]
        for name, fn in checks:
            try:
                err = fn()
            except Exception:  # noqa: BLE001 - a failed check is a failed op
                err = traceback.format_exc()
            if err:
                self.fail(name, f"check: {err}")
        self.check_s += time.perf_counter() - t

    # ------------------------------------------------------------ passes

    def run_pass(self, check: bool = False) -> float:
        from etlbench.workloads import pass_ops

        ops = pass_ops(self.workload, self.args.seed, self.pass_index, self.n_orders)
        t = time.perf_counter()
        for op in ops:
            t_op = time.perf_counter()
            self.run_op(op, check)
            log(f"p{self.pass_index} {op.label}: {time.perf_counter() - t_op:.3f} s")
        wall = time.perf_counter() - t
        log(f"pass {self.pass_index}{' (traced)' if self.tracer.active else ''}: {wall:.3f} s")
        return wall


def log(msg: str) -> None:
    print(f"[etlbench] {msg}", file=sys.stderr, flush=True)


def _parquet_sql(glob_path: str) -> str:
    # The engine's directories are named like Hive partitions (v=3);
    # they are not columns of the data.
    return f"SELECT * FROM read_parquet('{glob_path}', hive_partitioning = false)"


def _install_spans(tracer):
    """Spans around every operator function, the connector compiler and
    the sinks' ``write``, patched in every namespace that holds them."""
    import importlib

    from openetl_spark.plans import compiler
    from openetl_spark.sinks.versioned import VersionedSink
    from openetl_spark.sources.files import FileSink
    from etlbench.spans import Patcher, module_functions, traced

    patcher = Patcher("openetl_spark")
    replacements = {}
    for name in operator_modules():
        mod = importlib.import_module(f"openetl_spark.operators.{name}")
        for fn in module_functions(mod).values():
            replacements[id(fn)] = (fn, traced(tracer, f"operators.{name}", fn))
    cc = compiler.compile_connector
    replacements[id(cc)] = (cc, traced(tracer, "plans.compile", cc))
    patcher.patch_functions(replacements)
    for cls in (FileSink, VersionedSink):
        patcher.patch_attr(cls, "write", traced(tracer, "sinks.write", cls.write))
    return patcher


def layer_metrics(spans, wall: float, counts: dict) -> dict[str, float]:
    """Per-layer totals of one traced pass."""
    from etlbench.spans import self_times

    st = self_times(spans)
    dur = defaultdict(float)
    for s in spans:
        dur[s.name] += s.dur
    out = {
        "queries.construct_s": dur["queries.construct"],
        "queries.construct_jobs": counts.get("construct_jobs", 0),
        "catalyst.plan_s": dur["catalyst.plan"],
        "exec.run_s": dur["exec.action"] + dur["sinks.write"] + dur["sinks.compact"],
        "plans.compile_s": dur["plans.compile"],
        "pipeline.run_s": dur["pipeline.run"],
        "sinks.write_s": dur["sinks.write"] + dur["sinks.compact"],
    }
    for k in ("jobs", "stages", "tasks", "tasks_failed", "shuffle_bytes", "scan_rows"):
        out[f"exec.{k}"] = counts.get(k, 0)
    out["cache.entries_left"] = counts.get("cache_entries", 0)
    out["sinks.files_written"] = counts.get("files_written", 0)
    out["sources.rows_scanned_per_row_out"] = (
        counts["pipeline_scan_rows"] / counts["rows_out"] if counts.get("rows_out") else 0.0
    )
    out["sinks.write_amplification"] = (
        counts["merge_write_rows"] / counts["merge_update_rows"]
        if counts.get("merge_update_rows") else 0.0
    )
    for mod in operator_modules():
        name = f"operators.{mod}"
        out[f"{name}.self_s"] = sum(st[s.id] for s in spans if s.name == name)
        out[f"{name}.calls"] = sum(1 for s in spans if s.name == name)
    attributed = sum(s.dur - st[s.id] for s in spans if s.name == "op")
    out["trace.unattributed_frac"] = (wall - attributed) / wall
    return out


def operator_modules() -> list[str]:
    import pkgutil

    import openetl_spark.operators as ops_pkg

    return sorted(info.name for info in pkgutil.iter_modules(ops_pkg.__path__))


def measure(bench: Bench) -> dict[str, float]:
    """Set-up, warm-up and timed passes; returns the metrics asked for."""
    from etlbench.checks import OracleCache, load_oracle_utils
    from etlbench.stats import tail
    from etlbench.sysmon import PeakMemory, cpu_times

    wl = bench.workload
    bench.reset_state()
    bench.sf_dir = bench.link_data()
    t = time.perf_counter()
    bench.checker = OracleCache(
        load_oracle_utils(ROOT), bench.sf_dir,
        os.path.join(RUN_DIR, "oracle", f"{wl.dataset}.json"),
    )
    bench.check_s += time.perf_counter() - t
    bench.start_session()
    log(f"session started in {bench.layer['session.start_s']:.3f} s")
    if bench.args.trace:
        from etlbench.sparkprobe import SparkProbe

        bench.probe = SparkProbe(bench.spark)
    bench.build_layouts()
    log(f"layouts built in {bench.layer['queries.layout_build_s']:.3f} s")
    if not wl.queries:
        bench.setup_pipelines()

    bench.pass_index = -1
    bench.run_pass(check=True)
    if not wl.queries:
        bench.check_state("warmup", slots=False)
    t_timed = time.perf_counter()
    setup_s = t_timed - T_START - bench.check_s

    seconds, tracing = bench.args.seconds, bench.args.trace
    untraced: list[float] = []
    traced: list[tuple[float, dict]] = []

    def more() -> bool:
        # Untraced: at least one pass. Traced: untraced, traced, untraced
        # at least, so that the tracing overhead is not confounded with
        # the warming of later passes. After that a pass starts only if a
        # pass of median length still fits in the run's time.
        if not untraced or (tracing and (not traced or len(untraced) < 2)):
            return True
        walls = untraced + [w for w, _ in traced]
        return time.perf_counter() - t_timed + statistics.median(walls) <= seconds
    mem = PeakMemory(os.getpid(), jvm_heap(bench.spark))
    steal0 = cpu_times()
    if not tracing:
        mem.start()
    while more():
        bench.pass_index += 1
        if not (tracing and len(traced) < len(untraced)):
            untraced.append(bench.run_pass())
            continue
        bench.op_counts = defaultdict(float)
        first_span = len(bench.tracer.spans)
        patcher = _install_spans(bench.tracer)
        bench.tracer.active = True
        try:
            wall = bench.run_pass()
        finally:
            bench.tracer.active = False
            patcher.restore()
        counts = dict(bench.op_counts)
        layers = layer_metrics(bench.tracer.spans[first_span:], wall, counts)
        layers["cache.persistent_rdds"] = bench.probe.persistent_rdds()
        traced.append((wall, layers))
    mem.stop()
    steal1 = cpu_times()

    if not wl.queries:
        bench.check_state("final", slots=True)

    bench.detail = {"passes": len(untraced), "traced_passes": len(traced)}
    if not tracing:
        tail_s, label = tail(untraced)
        bench.detail["pass_tail"] = f"{label} of n={len(untraced)}"
        bench.detail["heap_in_use_peak_mb"] = mem.heap_peak / 2**20
        bench.detail["outside_heap_peak_mb"] = mem.outside_heap_peak / 2**20
        return {
            "setup_s": setup_s,
            "pass_s": statistics.median(untraced),
            "pass_tail_s": tail_s,
            "peak_rss_mb": mem.peak / 2**20,
        }
    out = {k: statistics.median([layers[k] for _, layers in traced]) for k in traced[0][1]}
    out["session.start_s"] = bench.layer["session.start_s"]
    out["queries.layout_build_s"] = bench.layer["queries.layout_build_s"]
    out["trace.overhead_frac"] = (
        statistics.median([w for w, _ in traced]) / statistics.median(untraced) - 1.0)
    d_steal, d_total = steal1[0] - steal0[0], steal1[1] - steal0[1]
    out["host.steal_frac"] = d_steal / d_total if d_total else 0.0
    return out


def jvm_heap(spark):
    """A reader of the driver JVM's heap: ``(committed, in_use)`` bytes.
    ``in_use`` leaves out eden, the young generation's allocation space,
    which fills with garbage between collections; the survivor and old
    spaces change only at collections, except for objects too large for
    eden, which go straight to the old space."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    heap = mf.getMemoryMXBean()
    pools = [p for p in mf.getMemoryPoolMXBeans()
             if str(p.getType()) == "Heap memory" and "Eden" not in p.getName()]

    def read() -> tuple[int, int]:
        return heap.getHeapMemoryUsage().getCommitted(), sum(p.getUsage().getUsed() for p in pools)

    return read


def shutdown(spark) -> None:
    """Stop Spark, then the JVM and the Python workers below it, and
    wait until each has exited."""
    from pyspark import SparkContext

    from etlbench.sysmon import descendants

    gateway = SparkContext._gateway
    children = [p for p in descendants(os.getpid()) if p != os.getpid()]
    if spark is not None:
        spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
                proc.kill()
                proc.wait()
    deadline = time.time() + 15
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in children):
        time.sleep(0.1)
    for p in children:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "openetl_spark")):
        print(f"openetl_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[0] = ROOT  # the package, not this directory, is importable
    from etlbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.makedirs(RUN_DIR, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(RUN_DIR, "tmp")

    units = declared_metrics(args.trace)
    bench = Bench(args, WORKLOADS[args.workload])
    try:
        metrics = measure(bench)
    except Exception:  # noqa: BLE001 - set-up failed: no result
        traceback.print_exc()
        return 1
    finally:
        try:
            t = time.perf_counter()
            shutdown(bench.spark)
            log(f"shut down in {time.perf_counter() - t:.3f} s")
        finally:
            if bench.checker is not None:
                bench.checker.close()
            os.makedirs(os.path.join(RUN_DIR, "trace"), exist_ok=True)
            if bench.tracer.spans:
                bench.tracer.dump(os.path.join(
                    RUN_DIR, "trace", f"{args.workload}-{args.seed}.jsonl"))
    attempted = max(bench.attempted, 1)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, **bench.detail,
        "fail_frac": bench.failed / attempted, "check_s": bench.check_s,
        "errors": bench.errors[:10],
    }))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
