"""Lake-layer drivers: a seeded LakeCatalog operation mix, a VersionedTable
commit/read/maintenance cycle, and a listener for micro-batch progress.

Every operation is timed from outside with ``time.perf_counter`` and its
postcondition is checked untimed right after it; a failed check is
recorded, never raised.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from pydatalake_gen2_spark.sources.lake import LakeCatalog
from pydatalake_gen2_spark.sources.versioned import VersionedTable
from pydatalake_gen2_spark.tables import load_table

CATALOG_OPS = ("upload_bytes", "create_bytes_atomic", "list_paths", "get_properties",
               "set_properties", "rename_path", "read_bytes", "delete_path")
_WRITES = ("upload_bytes", "create_bytes_atomic")


class Outcome:
    """Per-operation latencies and failed postconditions of one segment."""

    def __init__(self):
        self.lat_ms: dict[str, list[float]] = {}
        self.attempted = 0
        self.failures: list[str] = []

    def record(self, op: str, ms: float, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        self.lat_ms.setdefault(op, []).append(ms)
        if not ok:
            self.failures.append(f"{op}: {detail}")


def _timed(tracer, name, fn, *args, jobs=True):
    with tracer.span(name, jobs=jobs):
        t0 = time.perf_counter()
        out = fn(*args)
        return out, (time.perf_counter() - t0) * 1000.0


def catalog_mix(spark, root: str, rng, n_ops: int, tracer, out: Outcome) -> None:
    """``n_ops`` seeded catalog operations over a few directories, payloads
    of 0.5-16 KiB. A model of the expected contents checks each result."""
    cat = LakeCatalog(spark, root)

    def timed(name, fn, *args):
        return _timed(tracer, name, fn, *args, jobs=False)

    model: dict[str, bytes] = {}
    dirs = [f"d{i}" for i in range(4)]
    for d in dirs:
        cat.create_path(d, resource="directory")
    serial = 0
    for _ in range(n_ops):
        op = CATALOG_OPS[int(rng.integers(0, len(CATALOG_OPS)))]
        if not model and op not in _WRITES:
            op = "upload_bytes"
        if op in _WRITES:
            # a third of the atomic creates target an existing path: those
            # must lose (return False) and leave the old bytes in place
            if op == "create_bytes_atomic" and model and rng.random() < 0.3:
                path = list(model)[int(rng.integers(0, len(model)))]
            else:
                serial += 1
                path = f"{dirs[int(rng.integers(0, len(dirs)))]}/f{serial:05d}.bin"
            data = rng.bytes(int(rng.integers(1, 33)) * 512)
            res, ms = timed(f"lake.{op}", getattr(cat, op), path, data)
            if op == "upload_bytes":
                ok = res == len(data)
                model[path] = data
            else:
                ok = res == (path not in model)
                model.setdefault(path, data)
            out.record(op, ms, ok, path)
            continue
        path = list(model)[int(rng.integers(0, len(model)))]
        if op == "list_paths":
            d = path.split("/")[0]
            res, ms = timed("lake.list_paths", cat.list_paths, d)
            want = sorted(p for p in model if p.startswith(d + "/"))
            got = sorted(f"{d}/{p.name}" for p in res)
            out.record(op, ms, got == want, f"{d}: {len(got)} != {len(want)}")
        elif op == "get_properties":
            res, ms = timed("lake.get_properties", cat.get_properties, path)
            out.record(op, ms, res.length == len(model[path]) and not res.is_dir, path)
        elif op == "set_properties":
            props = {"owner": f"u{int(rng.integers(0, 100))}", "tag": str(serial)}
            _, ms = timed("lake.set_properties", cat.set_properties, path, props)
            out.record(op, ms, cat.get_user_properties(path) == props, path)
        elif op == "rename_path":
            serial += 1
            dst = f"{dirs[int(rng.integers(0, len(dirs)))]}/r{serial:05d}.bin"
            res, ms = timed("lake.rename_path", cat.rename_path, path, dst)
            model[dst] = model.pop(path)
            out.record(op, ms, res and cat.exists(dst) and not cat.exists(path), path)
        elif op == "read_bytes":
            res, ms = timed("lake.read_bytes", cat.read_bytes, path)
            out.record(op, ms, res == model[path], path)
        elif op == "delete_path":
            res, ms = timed("lake.delete_path", cat.delete_path, path)
            del model[path]
            out.record(op, ms, res and not cat.exists(path), path)


def tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def versioned_cycle(spark, sf_dir: str, root: str, batches: list[tuple[int, int]],
                    tracer, out: Outcome) -> dict:
    """Commit the first event-id range, append the rest, read latest and
    version 1, then optimize, expire old versions and vacuum. Returns the
    cycle's figures (rows, files, bytes on disk, phase times)."""
    ev = load_table(spark, sf_dir, "events")

    def batch(lo_hi):
        return ev.filter((F.col("event_id") >= lo_hi[0]) & (F.col("event_id") < lo_hi[1]))

    vt = VersionedTable(spark, root)
    local = root.removeprefix("file://")
    sizes = [hi - lo for lo, hi in batches]
    _, ms_commit = _timed(tracer, "versioned.commit", vt.commit, batch(batches[0]))
    out.record("commit", ms_commit, vt.current_version() == 1, "first version")
    append_ms = []
    for b in batches[1:]:
        v, ms = _timed(tracer, "versioned.append_commit", vt.append_commit, batch(b))
        append_ms.append(ms)
        out.record("append_commit", ms, v == len(append_ms) + 1, f"version {v}")
    latest, ms_latest = _timed(tracer, "versioned.read_resolve", vt.read)
    first, ms_first = _timed(tracer, "versioned.read_resolve", vt.read, 1)
    n_latest, n_first = latest.count(), first.count()
    out.record("read_latest", ms_latest, n_latest == sum(sizes), f"{n_latest} rows")
    out.record("read_version", ms_first, n_first == sizes[0], f"{n_first} rows")
    _, ms_opt = _timed(tracer, "versioned.optimize", vt.optimize)
    vt.expire(keep_last=1)
    _, ms_vac = _timed(tracer, "versioned.vacuum", vt.vacuum_orphans, False, 0.0)
    n_final = vt.read().count()
    out.record("optimize", ms_opt, n_final == sum(sizes), f"{n_final} rows")
    files = sum(1 for _, _, fs in os.walk(local) for f in fs if f.endswith(".parquet"))
    return {
        "rows": sum(sizes[1:]), "append_ms": append_ms, "commit_ms": ms_commit,
        "read_ms": [ms_latest, ms_first], "optimize_s": ms_opt / 1000.0,
        "vacuum_s": ms_vac / 1000.0, "files": files, "bytes": tree_bytes(local),
    }


class ProgressListener(StreamingQueryListener):
    """Collects every micro-batch progress report and counts query starts
    and ends, so a caller can wait until a finished stream has reported."""

    def __init__(self):
        self.progress: list[dict] = []
        self.started = 0
        self.terminated = 0

    def onQueryStarted(self, event):
        self.started += 1

    def onQueryProgress(self, event):
        p = event.progress
        self.progress.append({"rows": p.numInputRows, **dict(p.durationMs)})

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated += 1

    def drain(self, timeout_s: float = 10.0) -> None:
        """Wait until every started query has reported its end."""
        t_end = time.monotonic() + timeout_s
        while self.terminated < self.started and time.monotonic() < t_end:
            time.sleep(0.01)
