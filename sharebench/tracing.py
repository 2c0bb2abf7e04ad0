"""The traced run: spans around the program's public layer functions.

Wrappers are installed on the classes and modules of ``server``,
``catalog``, ``table``, ``plans.log``, ``cdf``, ``rest``, ``client`` and
``deltaformat`` and removed again by :meth:`Tracer.restore`. Spans are
kept in memory and summarized at the end. Every op gets its own Spark job
group (server threads join the group of the op they serve), so jobs,
stages and tasks are attributed per op through the status tracker.

Measured cycles alternate between traced and untraced; the difference of
their end-to-end latencies is ``trace.overhead_pct``.
"""

from __future__ import annotations

import contextvars
import functools
import itertools
import statistics
import sys
import threading
import time

_CURRENT = contextvars.ContextVar("sharebench_span", default=None)

# (owner module, owner class or None, attribute, span name)
TARGETS = [
    ("delta_sharing_spark.server", "SharingServer", "table_version",
     "server.table_version"),
    ("delta_sharing_spark.server", "SharingServer", "table_metadata",
     "server.table_metadata"),
    ("delta_sharing_spark.server", "SharingServer", "table_query",
     "server.table_query"),
    ("delta_sharing_spark.server", "SharingServer", "table_changes",
     "server.table_changes"),
    ("delta_sharing_spark.catalog", "ShareCatalog", "load_table",
     "catalog.load_table"),
    ("delta_sharing_spark.table", "SharedTable", "__init__",
     "catalog.table_built"),
    ("delta_sharing_spark.table", "SharedTable", "query_actions",
     "table.query_actions"),
    ("delta_sharing_spark.table", "SharedTable", "pruned_files",
     "table.prune"),
    ("delta_sharing_spark.table", "SharedTable", "to_df", "table.to_df"),
    ("delta_sharing_spark.plans.log", "TableLog", "snapshot", "log.snapshot"),
    ("delta_sharing_spark.plans.log", "TableLog", "read_commit",
     "log.read_commit"),
    ("delta_sharing_spark.plans.log", "TableLog", "files_df", "log.files_df"),
    ("delta_sharing_spark.plans.log", "TableLog", "adds_for_paths",
     "log.adds_for_paths"),
    ("delta_sharing_spark.plans.log", "TableLog", "read_adds",
     "log.read_adds"),
    ("delta_sharing_spark.plans.log", "TableLog", "write_checkpoint",
     "log.checkpoint"),
    ("delta_sharing_spark.plans.log", "TableLog", "create", "log.create"),
    ("delta_sharing_spark.plans.log", "TableLog", "append", "log.append"),
    ("delta_sharing_spark.plans.log", "TableLog", "delete", "log.delete"),
    ("delta_sharing_spark.plans.log", "TableLog", "update", "log.update"),
    ("delta_sharing_spark.cdf", None, "table_changes_actions",
     "cdf.changes_actions"),
    ("delta_sharing_spark.cdf", None, "table_changes", "cdf.table_changes"),
    ("delta_sharing_spark.rest", "DataSharingRestClient", "_request",
     "rest.request"),
    ("delta_sharing_spark.retry", None, "run_with_backoff", "rest.backoff"),
    ("delta_sharing_spark.client", None, "load_as_spark",
     "client.load_as_spark"),
    ("delta_sharing_spark.client", None, "load_as_pandas",
     "client.load_as_pandas"),
    ("delta_sharing_spark.client", None, "load_table_changes_as_spark",
     "client.load_table_changes_as_spark"),
    ("delta_sharing_spark.deltaformat", None, "profile_lines_to_spark",
     "client.lines_to_spark"),
    ("delta_sharing_spark.deltaformat", None, "delta_lines_to_spark",
     "client.lines_to_spark"),
]

UNITS = {
    "server.request_ms": "ms", "server.self_ms": "ms",
    "server.bytes_per_request": "B",
    "catalog.load_table_ms": "ms", "catalog.tables_built_per_request": "count",
    "log.snapshot_ms": "ms", "log.snapshot_calls_per_request": "count",
    "log.commits_read_per_request": "count", "log.files_df_ms": "ms",
    "log.adds_for_paths_ms": "ms", "log.read_adds_ms": "ms",
    "log.append_ms": "ms", "log.delete_ms": "ms", "log.update_ms": "ms",
    "log.checkpoint_ms": "ms", "log.checkpoints_written": "count",
    "table.query_actions_ms": "ms", "table.prune_ms": "ms",
    "table.prune_files_total": "count", "table.prune_files_kept": "count",
    "table.prune_keep_ratio": "ratio", "table.prune_spark_share": "ratio",
    "cdf.changes_actions_ms": "ms",
    "rest.request_ms": "ms", "rest.retries": "count",
    "client.plan_ms": "ms", "spark.driver_ms": "ms",
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count", "spark.job_ms": "ms",
    "spark.exchanges_per_op": "count",
    "ops.ivf_pq_ms": "ms", "ops.pq_adc_ms": "ms", "ops.minhash_lsh_ms": "ms",
    "ops.simhash_ms": "ms",
    "stream.latest_offset_ms": "ms", "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms", "stream.batches": "count",
    "stream.range_rpcs_per_batch": "count",
    "trace.overhead_pct": "%", "trace.coverage": "ratio",
    "host.probe_ms": "ms", "host.probe_spread": "ratio",
    "host.loadavg": "procs", "fail_ratio": "ratio",
}

SERVER_SPANS = ("server.table_version", "server.table_metadata",
                "server.table_query", "server.table_changes")


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping (start, end) pairs."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: tuple, children) -> float:
    """A span's duration minus the union of its children's intervals,
    each clipped to the span (children may overlap across threads)."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children
               if ce > s and cs < e]
    return (e - s) - union_length(clipped)


def _med(xs, default=0.0):
    return statistics.median(xs) if xs else default


class Span:
    __slots__ = ("name", "t0", "t1", "sid", "parent", "op", "attrs")

    def __init__(self, name, t0, t1, sid, parent, op, attrs):
        self.name, self.t0, self.t1 = name, t0, t1
        self.sid, self.parent, self.op, self.attrs = sid, parent, op, attrs


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.ops: list[dict] = []
        self.enabled = False
        self.recording = False
        self._op = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._patches: list[tuple] = []
        self.stream_progress: list = []
        self._install()

    # ------------------------------------------------------------ install

    def _install(self) -> None:
        import importlib

        for mod_name, cls_name, attr, span_name in TARGETS:
            mod = importlib.import_module(mod_name)
            owner = getattr(mod, cls_name) if cls_name else mod
            orig = owner.__dict__[attr] if cls_name else getattr(mod, attr)
            wrapped = self._wrap(orig, span_name)
            self._patches.append((owner, attr, orig))
            setattr(owner, attr, wrapped)
            if cls_name is None:
                # modules that imported the function by name
                for m in list(sys.modules.values()):
                    if (m is not None and m is not mod
                            and getattr(m, "__name__", "").startswith(
                                "delta_sharing_spark")
                            and getattr(m, attr, None) is orig):
                        self._patches.append((m, attr, orig))
                        setattr(m, attr, wrapped)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def _wrap(self, fn, name: str):
        tracer = self
        is_server = name in SERVER_SPANS

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            op = tracer._op
            if is_server and op is not None:
                tracer.sc.setJobGroup(f"sharebench-op-{op}", name, False)
            parent = _CURRENT.get()
            sid = next(tracer._ids)
            token = _CURRENT.set(sid)
            attrs = None
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
                if name == "table.prune":
                    snap = args[1] if len(args) > 1 else kwargs["snapshot"]
                    attrs = {"kept": len(out),
                             "total": getattr(snap, "num_files_hint", None)}
                elif name == "rest.request":
                    attrs = {"bytes": len(out[2])}
                elif is_server:
                    req = {**(kwargs.get("params") or {}),
                           **(kwargs.get("body") or {})}
                    attrs = {"range": "startingVersion" in req}
                return out
            finally:
                t1 = time.perf_counter()
                _CURRENT.reset(token)
                with tracer._lock:
                    tracer.spans.append(
                        Span(name, t0, t1, sid, parent, op, attrs))

        if name == "rest.backoff":
            @functools.wraps(fn)
            def counting(func, *args, **kwargs):
                calls = [0]

                def once():
                    calls[0] += 1
                    return func()
                try:
                    return wrapper(once, *args, **kwargs)
                finally:
                    if tracer.enabled:
                        with tracer._lock:
                            tracer.spans.append(Span(
                                "rest.attempts", 0.0, 0.0, 0, None,
                                tracer._op, {"retries": calls[0] - 1}))
            return counting
        return wrapper

    def span(self, name: str):
        """A benchmark-side span around a call into a layer."""
        return _BenchSpan(self, name)

    # -------------------------------------------------------------- ops

    def begin_op(self, kind: str) -> None:
        self._op = len(self.ops)
        self.sc.setJobGroup(f"sharebench-op-{self._op}", kind, False)

    def end_op(self, kind: str, t0: float, dt_ms: float) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        if self.recording:
            # read the status store now, before old jobs are evicted
            self.ops.append({"kind": kind, "t0": t0, "t1": t0 + dt_ms / 1e3,
                             "traced": self.enabled, "op": self._op,
                             "spark": self._spark_stats(self._op)
                             if self.enabled else None})
        else:
            self.ops.append(None)
        self._op = None

    def start(self) -> None:
        """Begin recording, after warm-up."""
        self.recording = True

    def set_cycle(self, n: int) -> None:
        self.enabled = self.recording and n % 2 == 0

    # ------------------------------------------------------------ spark

    def _spark_stats(self, op: int) -> dict:
        """Jobs, completed stages and tasks of one op's job group, from
        the status store. A completed stage that wrote shuffle output is
        the map side of one executed Exchange."""
        from py4j.protocol import Py4JJavaError

        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jobs = st.getJobIdsForGroup(f"sharebench-op-{op}")
        stages = tasks = exchanges = 0
        intervals = []
        for jid in jobs:
            info = st.getJobInfo(jid)
            try:
                for sid in (info.stageIds if info is not None else ()):
                    sd = store.lastStageAttempt(sid)
                    if str(sd.status()) != "COMPLETE":
                        continue  # skipped: its shuffle output was reused
                    stages += 1
                    tasks += sd.numCompleteTasks()
                    exchanges += sd.shuffleWriteBytes() > 0
                jd = store.job(jid)
            except Py4JJavaError:  # evicted from the status store
                continue
            sub, comp = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and comp.isDefined():
                intervals.append((sub.get().getTime() / 1e3,
                                  comp.get().getTime() / 1e3))
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
                "exchanges": exchanges, "intervals": intervals}

    # ----------------------------------------------------------- report

    def report(self) -> dict:
        ops = [o for o in self.ops if o is not None and o["traced"]]
        spans = list(self.spans)
        by_name: dict[str, list[Span]] = {}
        for s in spans:
            by_name.setdefault(s.name, []).append(s)
        children: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)

        def ms(name):
            return [(s.t1 - s.t0) * 1e3 for s in by_name.get(name, [])]

        server = [s for n in SERVER_SPANS for s in by_name.get(n, [])]
        n_req = max(len(server), 1)
        rest = by_name.get("rest.request", [])
        prune = by_name.get("table.prune", [])
        kept = [s.attrs["kept"] for s in prune if s.attrs]
        total = [s.attrs["total"] for s in prune
                 if s.attrs and s.attrs["total"] is not None]
        out = {
            "server.request_ms": _med([(s.t1 - s.t0) * 1e3 for s in server]),
            "server.self_ms": _med([
                self_time((s.t0, s.t1), [(c.t0, c.t1) for c in
                                         children.get(s.sid, [])]) * 1e3
                for s in server]),
            "server.bytes_per_request": statistics.fmean(
                [s.attrs["bytes"] for s in rest if s.attrs] or [0]),
            "catalog.load_table_ms": _med(ms("catalog.load_table")),
            "catalog.tables_built_per_request":
                len(by_name.get("catalog.table_built", [])) / n_req,
            "log.snapshot_ms": _med(ms("log.snapshot")),
            "log.snapshot_calls_per_request":
                len(by_name.get("log.snapshot", [])) / n_req,
            "log.commits_read_per_request":
                len(by_name.get("log.read_commit", [])) / n_req,
            "log.files_df_ms": _med(ms("log.files_df")),
            "log.adds_for_paths_ms": _med(ms("log.adds_for_paths")),
            "log.read_adds_ms": _med(ms("log.read_adds")),
            "table.query_actions_ms": _med(ms("table.query_actions")),
            "table.prune_ms": _med(ms("table.prune")),
            "table.prune_files_total": _med(total),
            "table.prune_files_kept": _med(kept),
            "table.prune_keep_ratio": (sum(kept) / sum(total)
                                       if total and sum(total) else 0.0),
            "table.prune_spark_share": (
                sum(1 for s in prune if self._ran_job(s, ops))
                / len(prune) if prune else 0.0),
            "cdf.changes_actions_ms": _med(ms("cdf.changes_actions")),
            "rest.request_ms": _med(ms("rest.request")),
            "rest.retries": sum(s.attrs["retries"] for s in
                                by_name.get("rest.attempts", [])),
            "client.plan_ms": _med(
                ms("client.load_as_spark") + ms("client.plan")
                + ms("client.load_table_changes_as_spark")),
        }
        # Spark attribution per traced op
        stats = [o["spark"] for o in ops]
        offset = time.time() - time.perf_counter()
        driver, job_ms = [], []
        for o, st in zip(ops, stats):
            wall = o["t1"] - o["t0"]
            iv = [(max(a - offset, o["t0"]), min(b - offset, o["t1"]))
                  for a, b in st["intervals"]]
            iv = [(a, b) for a, b in iv if b > a]
            job_ms += [(b - a) * 1e3 for a, b in st["intervals"]]
            driver.append((wall - union_length(iv)) * 1e3)
        n_ops = max(len(ops), 1)
        out.update({
            "spark.driver_ms": _med(driver),
            "spark.jobs_per_op": sum(s["jobs"] for s in stats) / n_ops,
            "spark.stages_per_op": sum(s["stages"] for s in stats) / n_ops,
            "spark.tasks_per_op": sum(s["tasks"] for s in stats) / n_ops,
            "spark.job_ms": _med(job_ms),
            "spark.exchanges_per_op":
                sum(s["exchanges"] for s in stats) / n_ops,
        })
        # operators: wall time of the op kinds that run them
        walls: dict[str, list[float]] = {}
        for o in ops:
            walls.setdefault(o["kind"], []).append((o["t1"] - o["t0"]) * 1e3)
        for kind in ("ivf_pq", "pq_adc", "minhash_lsh", "simhash"):
            out[f"ops.{kind}_ms"] = _med(walls.get(kind, []))
        # overhead: traced vs untraced cycles, mean over kinds of the
        # ratio of their medians
        untraced: dict[str, list[float]] = {}
        for o in self.ops:
            if o is not None and not o["traced"]:
                untraced.setdefault(o["kind"], []).append(
                    (o["t1"] - o["t0"]) * 1e3)
        shared = [k for k in walls if k in untraced]
        out["trace.overhead_pct"] = statistics.fmean(
            (_med(walls[k]) / _med(untraced[k]) - 1.0) * 100.0
            for k in shared) if shared else 0.0
        covered = wall = 0.0
        for o in ops:
            iv = [(max(s.t0, o["t0"]), min(s.t1, o["t1"])) for s in spans
                  if s.op == o["op"] and s.t1 > s.t0]
            covered += union_length([(a, b) for a, b in iv if b > a])
            wall += o["t1"] - o["t0"]
        out["trace.coverage"] = covered / wall if wall else 0.0
        out.update({
            "log.append_ms": _med(ms("log.append")),
            "log.delete_ms": _med(ms("log.delete")),
            "log.update_ms": _med(ms("log.update")),
            "log.checkpoint_ms": _med(ms("log.checkpoint")),
            "log.checkpoints_written": len(by_name.get("log.checkpoint", [])),
        })
        out.update(self._stream_metrics(ops, server))
        return out

    @staticmethod
    def _ran_job(span: Span, ops: list) -> bool:
        """Whether a Spark job of the span's op ran inside the span."""
        offset = time.time() - time.perf_counter()
        for o in ops:
            if o["op"] == span.op:
                return any(a - offset < span.t1 and b - offset > span.t0
                           for a, b in o["spark"]["intervals"])
        return False

    def _stream_metrics(self, ops: list, server: list) -> dict:
        def field(p, key):
            return p[key] if isinstance(p, dict) else getattr(p, key)

        prog = self.stream_progress
        durs = [field(p, "durationMs") for p in prog]
        batches = sum(1 for p in prog if field(p, "numInputRows") > 0)
        stream_ops = {o["op"] for o in ops if o["kind"] == "stream_drain"}
        ranges = sum(1 for s in server if s.op in stream_ops
                     and s.attrs and s.attrs["range"])
        return {
            "stream.latest_offset_ms": _med(
                [d["latestOffset"] for d in durs if "latestOffset" in d]),
            "stream.add_batch_ms": _med(
                [d["addBatch"] for d in durs if "addBatch" in d]),
            "stream.wal_commit_ms": _med(
                [d["walCommit"] for d in durs if "walCommit" in d]),
            "stream.batches": batches,
            "stream.range_rpcs_per_batch": ranges / max(batches, 1),
        }


class _BenchSpan:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        t = self.tracer
        if t.enabled:
            with t._lock:
                t.spans.append(Span(self.name, self.t0, time.perf_counter(),
                                    next(t._ids), _CURRENT.get(), t._op,
                                    None))
        return False
