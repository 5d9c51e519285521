"""One benchmark run of one workload, in this process.

Started by ``run.py``, which owns the scratch directories, the
environment and the process group. Prints human-readable lines and, last,
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``.

Timeline of a run (one client, closed loop: each call starts after the
previous one returned):

1. inputs: the seeded tables for the workload's scale and for the lake
   probe (generated once per seed, not timed);
2. set-up, once and cold: Spark session start (which launches the JVM),
   registry import, view registration;
3. passes: the first, cold pass, then the workload's warm-up passes,
   then measured passes for ``--seconds`` (at least three). Each query
   runs as build (``spark_fn``) -> analyze (``df.schema``) -> plan
   (``executedPlan``) -> exec (no-op write) -> ``release_persisted``;
4. verify (untimed): ``harness.run_pair`` against the DuckDB oracle for
   each pair of the workload;
5. traced runs only: the lake probe, the same on every workload. A seeded
   LakeCatalog operation mix, a VersionedTable commit / append / read /
   optimize / vacuum cycle and one streaming query (which builds the
   replay directory it reads), each checked; it supplies the lake,
   versioned and streaming metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
import traceback

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import lakeio  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402

RELATIONAL = ["s01_parquet_scan", "p03_filter_boolean", "j01_inner_equi", "j11_asof",
              "g02_groupby_agg", "g07_grouping_sets", "w07_running_total",
              "o04_topk_per_group", "u01_union_all", "f23_json_extract",
              "st01_tumbling_batch", "l01_dedup_exact"]
ITERATIVE = ["gr10_hits"]

# name -> (scale factor, registry pairs in the order the seed shuffles,
# warm-up passes). The JIT keeps compiling through the first warm passes:
# relational pass times level off after about five passes; iterative ones
# fall steeply for about eight, then slowly for ten more. A fixed number
# of warm-up passes puts every run's measured passes at the same point of
# that curve; more of them would not fit the run's time budget.
WORKLOADS = {
    "relational_sf001": (0.01, RELATIONAL, 5),
    "iterative_sf001": (0.01, ITERATIVE, 8),
}
MIN_MEASURED = 3
# the lake probe runs on its own fixed-scale inputs, the same on every workload
PROBE_SF = 0.01
PROBE_CATALOG_OPS = 200
PROBE_APPENDS = 3


_PAGE = os.sysconf("SC_PAGE_SIZE")


def tree_rss() -> int:
    """Resident bytes of this process and all its descendants: the Python
    driver, the JVM and Spark's Python workers."""
    rss: dict[int, int] = {}
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        rss[int(d)] = int(fields[21]) * _PAGE
        children.setdefault(int(fields[1]), []).append(int(d))
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo += children.get(pid, [])
        total += rss.get(pid, 0)
    return total


class RssSampler:
    """Peak resident set size of this process tree, sampled in a thread."""

    def __init__(self, period_s: float = 0.25):
        self.peak = 0
        self._period = period_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss())
            self._stop.wait(self._period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss())


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the host since boot, from /proc/stat.
    The stolen share of a pass is printed beside its time: on a shared
    virtual machine it explains slow readings."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


class Run:
    def __init__(self, args):
        self.args = args
        self.sf, self.pairs, self.warmup = WORKLOADS[args.workload]
        self.rng = np.random.default_rng(args.seed)
        self.tracer = spans.Tracer(bool(args.trace))
        self.spark = None
        self.failures: list[str] = []
        self.attempted = 0
        self.work = args.work
        self.evlog = os.path.join(args.work, "eventlog")

    # -- set-up ------------------------------------------------------------
    def _conf(self) -> dict:
        conf = {"spark.ui.showConsoleProgress": "false"}
        if self.args.trace:
            os.makedirs(self.evlog, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + self.evlog,
                         "spark.eventLog.compress": "false"})
        return conf

    def setup(self) -> dict:
        """The run's one, cold set-up; returns the seconds of each part and
        their total."""
        from pydatalake_gen2_spark.registry import ensure_views, load_all
        from pydatalake_gen2_spark.session import get_spark

        tr, out = self.tracer, {}
        with tr.span("setup"):
            t0 = time.perf_counter()
            with tr.span("session.start"):
                self.spark = get_spark("perfbench", extra_conf=self._conf())
            out["session"] = time.perf_counter() - t0
            tr.bind(self.spark.sparkContext)
            t0 = time.perf_counter()
            with tr.span("registry.load"):
                load_all()
            out["registry"] = time.perf_counter() - t0
            t0 = time.perf_counter()
            with tr.span("tables.register_views"):
                ensure_views(self.spark, self.sf_dir)
            out["views"] = time.perf_counter() - t0
        out["total"] = sum(out.values())
        return out

    # -- one query ----------------------------------------------------------
    def query(self, name: str, sf_dir: str) -> dict | None:
        """Build, analyze, plan and execute one pair; None if it raised."""
        from pydatalake_gen2_spark.operators.util import release_persisted
        from pydatalake_gen2_spark.registry import REGISTRY

        tr, rec = self.tracer, {"name": name}
        self.attempted += 1
        try:
            with tr.span("query", q=name) as qs:
                t0 = time.perf_counter()
                with tr.span("build"):
                    df = REGISTRY[name].spark_fn(self.spark, sf_dir)
                with tr.span("analyze"):
                    df.schema
                with tr.span("plan"):
                    df._jdf.queryExecution().executedPlan()
                with tr.span("exec"):
                    df.write.format("noop").mode("overwrite").save()
                rec["s"] = time.perf_counter() - t0
                with tr.span("release"):
                    rec["tracked"] = release_persisted()
                rec["span"] = qs
        except Exception as e:  # noqa: BLE001 - a failed query is a result
            self.failures.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            traceback.print_exc(file=sys.stderr)
            return None
        if self.args.trace:
            rec["storage"] = self.storage_used()
        return rec

    def storage_used(self) -> int:
        """Executor storage memory in use, summed over executors."""
        it = self.spark.sparkContext._jsc.sc().getExecutorMemoryStatus().iterator()
        used = 0
        while it.hasNext():
            mx_rem = it.next()._2()
            used += mx_rem._1() - mx_rem._2()
        return used

    def one_pass(self, order: list[str]) -> dict:
        """Every query of the workload once, in the seeded order."""
        gc0 = self.gc_seconds() if self.args.trace else 0.0
        with self.tracer.span("pass") as ps:
            st0, tot0 = cpu_ticks()
            t0 = time.perf_counter()
            queries = [self.query(q, self.sf_dir) for q in order]
            dt = time.perf_counter() - t0
            st1, tot1 = cpu_ticks()
        gc1 = self.gc_seconds() if self.args.trace else 0.0
        return {"s": dt, "queries": queries, "span": ps, "gc_s": gc1 - gc0,
                "steal": (st1 - st0) / max(1, tot1 - tot0)}

    def gc_seconds(self) -> float:
        """Collection time of the JVM so far. In local mode the executors
        run inside the driver JVM, so this covers task and driver GC."""
        beans = self.spark._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000.0

    # -- verify --------------------------------------------------------------
    def verify(self) -> dict:
        """Run every pair of the workload against the DuckDB oracle."""
        from pydatalake_gen2_spark.harness import duck_connect, run_pair

        con = duck_connect(self.sf_dir)
        res = {}
        for name in self.pairs:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                status = run_pair(self.spark, con, self.sf_dir, name)
            except Exception as e:  # noqa: BLE001 - a failed check is a result
                status = {"status": "ERROR", "detail": f"{type(e).__name__}: {e}"[:300]}
            res[name] = f"{status['status']} in {time.perf_counter() - t0:.2f}s"
            if status["status"] != "match":
                self.failures.append(f"verify {name}: {status['status']} "
                                     f"{status.get('detail', '')}")
        con.close()
        return res

    # -- lake probe ------------------------------------------------------------
    def probe(self) -> dict:
        """Catalog mix, versioned cycle and one stream on the probe inputs,
        each checked. Returns their figures."""
        from pyspark.sql import functions as F

        from pydatalake_gen2_spark.harness import canon_rows
        from pydatalake_gen2_spark.registry import REGISTRY
        from pydatalake_gen2_spark.tables import load_table

        tr, out = self.tracer, lakeio.Outcome()
        root = f"file://{self.work}/lake"
        # equal event-id ranges: the seed varies the rows, not their number
        step = gen.row_counts(PROBE_SF)["events"] // (2 * (PROBE_APPENDS + 1))
        batches = [(i * step, (i + 1) * step) for i in range(PROBE_APPENDS + 1)]
        with tr.span("lake"):
            lakeio.catalog_mix(self.spark, root + "/cat", self.rng, PROBE_CATALOG_OPS,
                               tr, out)
        with tr.span("versioned"):
            cycle = lakeio.versioned_cycle(self.spark, self.probe_dir, root + "/vt",
                                           batches, tr, out)
        self.attempted += out.attempted
        self.failures += out.failures

        # micro-batch progress is read from a listener: the stream's own
        # query object never leaves the registry pair
        listener = lakeio.ProgressListener()
        self.spark.streams.addListener(listener)
        rec = self.query("st01_tumbling_stream", self.probe_dir)
        listener.drain()
        progress = listener.progress
        if rec is not None:
            self.attempted += 1
            st = self.spark.table("st01_out")
            got = canon_rows(st.columns, [tuple(r) for r in st.collect()])
            bt = REGISTRY["st01_tumbling_batch"].spark_fn(self.spark, self.probe_dir)
            want = canon_rows(bt.columns, [tuple(r) for r in bt.collect()])
            if got != want or not progress:
                self.failures.append("probe stream: st01_tumbling_stream differs from "
                                     f"its batch twin ({len(progress)} batches)")

        plain = os.path.join(self.work, "lake", "plain")
        (load_table(self.spark, self.probe_dir, "events")
         .filter((F.col("event_id") >= batches[0][0]) & (F.col("event_id") < batches[-1][1]))
         .coalesce(1).write.mode("overwrite").parquet("file://" + plain))
        return {"catalog": out.lat_ms, "cycle": cycle, "progress": progress,
                "plain_bytes": lakeio.tree_bytes(plain)}

    # -- the run ----------------------------------------------------------------
    def main(self) -> dict:
        args = self.args
        self.sf_dir = gen.ensure(self.sf, args.seed,
                                 os.path.join(args.data, f"sf{self.sf}-seed{args.seed}"))
        self.probe_dir = gen.ensure(PROBE_SF, args.seed,
                                    os.path.join(args.data, f"sf{PROBE_SF}-seed{args.seed}"))
        order = list(self.pairs)
        self.rng.shuffle(order)
        phases = {}

        t0 = time.perf_counter()
        with RssSampler() as rss, self.tracer.span("workload"):
            setup = self.setup()
            phases["setup"] = time.perf_counter() - t0
            t_start = time.perf_counter()
            passes = [self.one_pass(order) for _ in range(1 + self.warmup)]
            t_window = time.perf_counter()
            measured = []
            while (len(measured) < MIN_MEASURED
                   or t_window + args.seconds - time.perf_counter() >= measured[-1]["s"]):
                measured.append(self.one_pass(order))
            passes += measured
            phases["passes"] = time.perf_counter() - t_start
        t0 = time.perf_counter()
        verify = self.verify()
        phases["verify"] = time.perf_counter() - t0
        probe = None
        if args.trace:
            t0 = time.perf_counter()
            with self.tracer.span("probe"):
                probe = self.probe()
            phases["probe"] = time.perf_counter() - t0
        self.spark.stop()

        per_q: dict[str, list[float]] = {}
        for p in measured:
            for r in p["queries"]:
                if r is not None:
                    per_q.setdefault(r["name"], []).append(r["s"])
        m = {
            "setup_s": setup["total"],
            "first_pass_s": passes[0]["s"],
            "pass_s": stats.median([p["s"] for p in measured]),
            "query_geomean_s": stats.geomean([stats.median(v) for v in per_q.values()]),
            "peak_rss_mb": rss.peak / 2**20,
        }
        info = {
            "workload": args.workload, "seed": args.seed, "sf": self.sf,
            "passes": len(passes), "phases_s": phases,
            "verify": verify,
            "pass_s_each": [round(p["s"], 3) for p in passes],
            "query_median_s": {k: round(stats.median(v), 3) for k, v in per_q.items()},
            "host_steal_share": [round(p["steal"], 3) for p in passes],
            "fail_frac": len(self.failures) / self.attempted,
        }
        if args.trace:
            m.update(self.layer_metrics(setup, measured, probe))
            m["trace.pass_s"] = m["pass_s"]
            self.tracer.dump(os.path.join(args.out, "spans.json"))
        return {"metrics": m, "info": info}

    def layer_metrics(self, setup, measured, probe) -> dict:
        """Per-layer metrics: medians over measured passes of per-pass sums,
        from the spans and the event log; lake layers from the probe."""
        groups = spans.read_event_logs(self.evlog)
        tr, med = self.tracer, stats.median

        def phase(p, name):
            return [c for r in p["queries"] if r for c in tr.children(r["span"])
                    if c.name == name]

        def per_pass(fn):
            return med([fn(p) for p in measured])

        def total(name, fn):
            return per_pass(lambda p: sum(fn(s) for s in phase(p, name)))

        def ev(key):
            return lambda s: groups.get(f"pb{s.id}", {}).get(key, 0)

        m = {
            "session.start_s": setup["session"],
            "registry.load_s": setup["registry"],
            "tables.register_views_s": setup["views"],
            "queries.build_s": total("build", lambda s: s.dur),
            "queries.build_jobs": total("build", lambda s: len(s.jobs)),
            "queries.build_tasks": total("build", lambda s: s.tasks),
            "catalyst.analyze_s": total("analyze", lambda s: s.dur),
            "catalyst.plan_s": total("plan", lambda s: s.dur),
            "exec.run_s": total("exec", lambda s: s.dur),
            "exec.jobs": total("exec", lambda s: len(s.jobs)),
            "exec.stages": total("exec", lambda s: len(ev("stages")(s) or ())),
            "exec.scheduler_gap_s": total("exec", lambda s: max(
                0.0, s.dur - spans.busy_time(ev("stage_ivs")(s) or []))),
        }
        m["exec.gc_s"] = per_pass(lambda p: p["gc_s"])
        for key in ("tasks", "task_s", "cpu_s", "shuffle_read_bytes",
                    "shuffle_write_bytes"):
            m[f"exec.{key}"] = total("exec", ev(key))
        m["operators.tracked_frames"] = per_pass(
            lambda p: sum(r["tracked"] for r in p["queries"] if r))
        m["operators.storage_bytes_after_release"] = per_pass(
            lambda p: max([r["storage"] for r in p["queries"] if r] or [0]))
        cat = [x for v in probe["catalog"].values() for x in v]
        m["lake.catalog_op_p50_ms"] = med(cat)
        m["lake.catalog_op_p95_ms"] = stats.percentile(cat, 95)
        for op in lakeio.CATALOG_OPS:
            m[f"lake.{op}_ms"] = med(probe["catalog"][op])
        cyc, prog = probe["cycle"], probe["progress"]
        m.update({
            "versioned.ingest_rows_per_s": cyc["rows"] / (sum(cyc["append_ms"]) / 1000.0),
            "versioned.stored_bytes_per_user_byte": cyc["bytes"] / probe["plain_bytes"],
            "streaming.batch_p50_ms": med([b["triggerExecution"] for b in prog]),
            "versioned.commit_ms": cyc["commit_ms"],
            "versioned.append_commit_ms": med(cyc["append_ms"]),
            "versioned.read_resolve_ms": med(cyc["read_ms"]),
            "versioned.optimize_s": cyc["optimize_s"],
            "versioned.vacuum_s": cyc["vacuum_s"],
            "versioned.files_written": cyc["files"],
            "versioned.bytes_on_disk": cyc["bytes"],
            "streaming.batches": len(prog),
            "streaming.input_rows": sum(b["rows"] for b in prog),
        })
        for key, name in (("addBatch", "add_batch_ms"), ("queryPlanning", "query_planning_ms"),
                          ("walCommit", "wal_commit_ms"), ("commitOffsets", "commit_offsets_ms"),
                          ("latestOffset", "latest_offset_ms"), ("getBatch", "get_batch_ms")):
            m[f"streaming.{name}"] = med([b.get(key, 0) for b in prog])
        return m


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    run = Run(args)
    res = run.main()
    for k, v in sorted(res["info"].items()):
        print(f"info {k} = {v}")
    for f in run.failures:
        print(f"FAILED {f}")
    spec = stats.load_spec()
    key = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[key]}
    metrics = {}
    for name, unit in units.items():
        value = float(res["metrics"][name])
        print(f"metric {name} = {value:.6g} {unit}")
        metrics[name] = {"value": value, "unit": unit}
    print(json.dumps({"correct": not run.failures, "attempted": run.attempted,
                      "failed": len(run.failures), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
