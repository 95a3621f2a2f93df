#!/usr/bin/env python3
"""Landing-to-snapshot benchmark of the ortholog engine.

    python3 perfbench/run.py --workload species_bulk --seed 1 --seconds 15 --trace 0

One run = one fresh Python process with one Spark session at local[nproc]:

1. generate the workload's inputs from ``--seed`` (tables, gzip landing
   files) and compute the expected canonical digest with the registry's
   DuckDB oracle; seed the state store (DuckDB-written snapshots);
2. start Spark and run one cold operation: ``setup_s`` is session start plus
   this operation, what every CLI invocation pays. Its output is the
   verification run: its digest must equal the oracle's;
3. repeat the operation for ``--seconds`` (at least once) with tracing off,
   checking every output digest. ``run_s`` is the median of these.

``--trace 1`` turns Spark's event log on for this run's session and, after
steps 2-3 (which give ``run_s`` in this process), runs the flow once inside
a span, then replays each layer's public functions on materialized inputs
into a noop sink, one span each. The event log gives the per-span counters;
``trace.overhead_s`` is the traced flow span minus ``run_s``. The span
records are printed to stderr, as one JSON line, when the run ends.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. A human-readable summary goes to stderr.
"""

from __future__ import annotations

import argparse
import contextlib
import datetime
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Input sizes per workload (``--scale`` multiplies the row counts).
WORKLOADS: dict[str, dict] = {
    # first load of rat into a store holding only the registry world
    "species_bulk": {"flow": "species", "blocks": 2, "customers": 1500,
                     "parts": 2000, "orders": 8000},
    # re-run on the previous run's output, next to other species' rows
    "species_weekly": {"flow": "species", "blocks": 1, "customers": 1500,
                       "parts": 2000, "orders": 15000, "mouse_rows": 6000,
                       "rerun": True},
    # Alliance upsert into the registry's AGR world
    "agr_upsert": {"flow": "agr", "blocks": 1, "customers": 1500, "parts": 2000,
                   "orders": 15000},
    # corpus cleaning: language gate, quality floor, exact + near dedup
    "corpus_prep": {"flow": "corpus", "docs": 2000},
}


def _scaled(spec: dict, scale: float) -> dict:
    out = dict(spec)
    for k in ("orders", "docs", "mouse_rows"):
        if out.get(k):
            out[k] = max(1, int(out[k] * scale))
    return out


@contextlib.contextmanager
def _stdout_to_stderr():
    """Route fd 1 to stderr, so the JVM and Python workers (which inherit
    the fd at launch) never write to the result stream."""
    sys.stdout.flush()
    saved = os.dup(1)
    os.dup2(2, 1)
    try:
        yield
    finally:
        sys.stdout.flush()
        os.dup2(saved, 1)
        os.close(saved)


def _start_spark(work: str, cores: int, event_log: str | None = None):
    from ortholog_pipeline_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    with _stdout_to_stderr():
        spark = get_spark(
            app_name="ortholog-pipeline-run",
            master=f"local[{cores}]",
            shuffle_partitions=cores,
            extra_conf=conf,
        )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM (it exits when its stdin
    closes; its Python workers exit with it) and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _jvm_hwm_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


class Workload:
    """Inputs, expected digests, the operation and its check for one run."""

    def __init__(self, name: str, seed: int, scale: float, work: str):
        from perfbench import gen, world

        self.work = work
        self.spec = _scaled(WORKLOADS[name], scale)
        self.flow = self.spec["flow"]
        self.landing = os.path.join(work, "in", "landing")
        self.counts = gen.generate(os.path.join(work, "in"), self.flow, seed, self.spec)
        con = world.connect(os.path.join(work, "in", "tables"), work)
        if self.flow == "species":
            exp = world.oracle(con, "flow_species_load")
        elif self.flow == "agr":
            exp = world.oracle(con, "flow_agr_load")
        else:
            exp = world.corpus_oracle(con)
        self.schema, self.expected = exp.schema, world.digest(exp)
        self.proto = os.path.join(work, "proto")
        t = time.perf_counter()
        if self.flow != "corpus":
            world.seed_store(con, self.flow, self.proto, self.spec.get("mouse_rows", 0))
        self.seed_s = time.perf_counter() - t
        con.close()
        self.other_expected = None
        if self.spec.get("mouse_rows"):
            self.other_expected = world.digest(
                world.species_canonical(self.proto, self.schema, keep=_mouse_rows)
            )
        self._n = 0
        self.store = None
        self.run_ts = datetime.datetime.now()

    def target(self) -> str:
        """Where the next operation writes: a fresh clone of the seeded store
        (first loads), the persistent store (re-runs) or a new corpus dir."""
        from perfbench import flows

        self._n += 1
        if self.flow == "corpus":
            return os.path.join(self.work, f"corpus_out{self._n}")
        if self.spec.get("rerun") and self.store is not None:
            return self.store
        self.store = flows.clone(self.proto, os.path.join(self.work, f"store{self._n}"))
        return self.store

    def run(self, spark, target: str):
        from perfbench import flows

        op = {"species": flows.species_load, "agr": flows.agr_load,
              "corpus": flows.corpus_prep}[self.flow]
        return op(spark, target, self.landing)

    def check(self, target: str, res) -> str | None:
        """None when the output is correct, else the reason it is not."""
        from perfbench import world

        if self.flow == "corpus":
            got = world.digest(world.corpus_canonical(target, self.schema))
        elif self.flow == "agr":
            got = world.digest(world.agr_canonical(
                target, self.schema,
                (res.n_inserted, res.n_updated, res.n_stale_deleted)))
        else:
            keep = _not_mouse_rows if self.other_expected else None
            got = world.digest(world.species_canonical(target, self.schema, keep=keep))
        if got != self.expected:
            return f"digest {got} != oracle {self.expected}"
        if self.other_expected:
            other = world.digest(
                world.species_canonical(target, self.schema, keep=_mouse_rows))
            if other != self.other_expected:
                return (f"other-species rows changed: {other[0]} rows left of "
                        f"{self.other_expected[0]} seeded")
        return None


def _mouse_rows(t):
    """Rows that involve a mouse gene (rgd ids 3,000,000-3,999,999)."""
    import pyarrow.compute as pc

    def mouse(col):
        c = t.column(col)
        return pc.and_(pc.greater_equal(c, 3_000_000), pc.less(c, 4_000_000))

    return pc.fill_null(pc.or_(mouse("id_a"), mouse("id_b")), False)


def _not_mouse_rows(t):
    import pyarrow.compute as pc

    return pc.invert(_mouse_rows(t))


def _timed_ops(spark, wl: Workload, seconds: float, log) -> dict:
    """Cold verification op, then ops for ``seconds``. Returns samples."""
    from perfbench import flows

    out = {"times": [], "write_bytes": [], "attempted": 0, "failed": 0,
           "reasons": []}

    def one() -> tuple[float, str | None]:
        target = wl.target()
        before = flows.inodes(target) if os.path.isdir(target) else set()
        t = time.perf_counter()
        try:
            res = wl.run(spark, target)
            elapsed = time.perf_counter() - t
            out["write_bytes"].append(flows.new_files(target, before)[0])
            reason = wl.check(target, res)
        except Exception as err:  # noqa: BLE001 — a raising op is a failed op
            elapsed = time.perf_counter() - t
            traceback.print_exc()
            reason = f"{type(err).__name__}: {err}"[:300]
        spark.catalog.clearCache()
        return elapsed, reason

    out["cold_s"], reason = one()
    out["attempted"] += 1
    out["verified"] = reason is None
    if reason:
        out["failed"] += 1
        out["reasons"].append("verification: " + reason)
    log(f"cold op {out['cold_s']:.2f}s verified={out['verified']}")
    out["write_bytes"].clear()
    deadline = time.perf_counter() + seconds
    while True:
        elapsed, reason = one()
        out["attempted"] += 1
        out["times"].append(elapsed)
        if reason:
            out["failed"] += 1
            out["reasons"].append(reason)
        log(f"op {len(out['times'])}: {elapsed:.3f}s {'ok' if not reason else 'FAIL ' + reason}")
        if time.perf_counter() >= deadline:
            return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="row-count multiplier (tests use small scales)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "ortholog_pipeline_spark")):
        print(f"ortholog_pipeline_spark not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Python UDF workers are forked by the JVM: they import the package
    # through PYTHONPATH, not through this process's sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM spark-submit starts keeps its temp files (and no hsperfdata
    # file) inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))
    print(json.dumps(result), flush=True)
    return 0


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run(args, work: str) -> dict:
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    t0 = time.perf_counter()
    wl = Workload(args.workload, args.seed, args.scale, work)
    _log(f"{args.workload}: inputs {wl.counts}, expected {wl.expected[0]} rows, "
         f"prepare {time.perf_counter() - t0:.2f}s (seed store {wl.seed_s:.2f}s)")

    event_log = os.path.join(work, "eventlog") if args.trace else None
    t0 = time.perf_counter()
    spark = _start_spark(work, cores, event_log)
    start_s = time.perf_counter() - t0
    _log(f"session start {start_s:.2f}s")
    try:
        ops = _timed_ops(spark, wl, args.seconds, _log)
        peak_rss = _jvm_hwm_mb(spark)
        if args.trace:
            from perfbench import replay, trace

            rec = trace.SpanRecorder(spark.sparkContext)
            counts, reason = replay.traced(spark, wl, rec, work)
            ops["attempted"] += 1
            if reason:
                ops["failed"] += 1
                ops["reasons"].append("traced flow: " + reason)
    finally:
        _stop_spark(spark)
    run_s = statistics.median(ops["times"])
    correct = ops["failed"] == 0
    for r in ops["reasons"][:3]:
        _log("failure: " + r)

    if args.trace:
        _log("spans " + json.dumps(rec.spans))
        metrics = replay.metrics(counts, rec, event_log, cores, start_s=start_s,
                                 peak_rss=peak_rss, seed_s=wl.seed_s, run_s=run_s,
                                 lines=wl.counts["lines"])
    else:
        metrics = {
            "run_s": {"value": run_s, "unit": "s"},
            "rows_per_s": {"value": wl.counts["lines"] / run_s, "unit": "rows/s"},
            "setup_s": {"value": start_s + ops["cold_s"], "unit": "s"},
            "write_mb": {"value": statistics.median(ops["write_bytes"] or [0]) / 1e6,
                         "unit": "MB"},
        }
    n = len(ops["times"])
    _log(f"{args.workload} seed={args.seed}: samples={n} "
         f"times={[round(t, 3) for t in ops['times']]} "
         f"fail_ratio={ops['failed'] / ops['attempted']:.3f} "
         f"({ops['failed']}/{ops['attempted']})")
    for k, m in metrics.items():
        _log(f"  {k} = {m['value']:.6g} {m['unit']}")
    return {"correct": correct, "attempted": ops["attempted"],
            "failed": ops["failed"], "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
