"""metadata_serve: REST requests to an in-process SharingServer on
loopback. No data file is opened, so this isolates the metadata plane:
server routing, catalog resolution, snapshot replay, file pruning, CDF
action listing and paging.

Two tables:

- ``lineitem_small``: ~100 files over 12 versions, partitioned, CDF on.
  Requests take the driver-loop prune path. Class ``light``.
- ``manifest_large``: a checkpointed manifest just above the driver-prune
  threshold (10,000 files), so requests take the Spark-job prune path.
  Class ``heavy``.
"""

from __future__ import annotations

import json
import os
import random
import time

import fixtures
from common import Op, check

SHARE, SCHEMA = "bench", "plane"
LARGE_FILES = 11_000
SMALL_REPS = 12  # light ops (seeded literals) per kind per cycle
SETUP_REPS = 3   # set-ups per run; setup_s takes their median
# Spark task slots. The Spark-job prune path runs a Python worker beside
# each task, and the in-process server and client share the driver
# process: with two slots, runnable threads stay within 4 CPUs. Against
# four slots, in five runs of each alternated, the large kinds ran 12%
# faster and spread 0.05 instead of 0.11, and the small kinds 8% faster.
CPUS = 2


def _col(name, vt):
    return {"op": "column", "name": name, "valueType": vt}


def _lit(value, vt):
    return {"op": "literal", "value": str(value), "valueType": vt}


def range_pred(pcol: str, pval: str, lo: int, hi: int) -> str:
    return json.dumps({"op": "and", "children": [
        {"op": "equal", "children": [_col(pcol, "string"),
                                     _lit(pval, "string")]},
        {"op": "greaterThanOrEqual", "children": [_col("id", "long"),
                                                  _lit(lo, "long")]},
        {"op": "lessThanOrEqual", "children": [_col("id", "long"),
                                               _lit(hi, "long")]}]})


def file_ids(lines) -> list[str]:
    return [ln["file"]["id"] for ln in lines if "file" in ln]


def action_keys(lines) -> set:
    out = set()
    for ln in lines:
        for k in ("add", "remove", "cdf"):
            if k in ln:
                out.add((k, ln[k]["id"], ln[k]["version"]))
    return out


def next_token(lines) -> "str | None":
    for ln in lines:
        if "endStreamAction" in ln:
            return ln["endStreamAction"].get("nextPageToken") or None
    return None


class Fixture:
    """Both tables, the catalog and the server for one set-up."""

    def __init__(self, spark, root: str, seed: int):
        from delta_sharing_spark.catalog import ShareCatalog
        from delta_sharing_spark.rest import DataSharingRestClient
        from delta_sharing_spark.server import SharingServer

        self.small = fixtures.build_lineitem_small(
            os.path.join(root, "small"), seed)
        self.large = fixtures.build_manifest_large(
            spark, os.path.join(root, "large"), LARGE_FILES)
        cat = ShareCatalog(spark)
        cat.add_table(SHARE, SCHEMA, "lineitem_small", self.small.root,
                      cdf_enabled=True)
        cat.add_table(SHARE, SCHEMA, "manifest_large",
                      os.path.join(root, "large"))
        self.server = SharingServer(cat)
        self.client = DataSharingRestClient(self.server.serve_background())

    def close(self) -> None:
        self.server.shutdown()
        self.server.httpd.server_close()


def build_ops(fx: Fixture, seed: int) -> dict:
    """Seeded op instances per kind, each checking its exact answer."""
    rng = random.Random(seed * 7919 + 1)
    c, small, large = fx.client, fx.small, fx.large
    latest = small.version
    active = {v: h["active"] for v, h in enumerate(small.history)}
    sfiles = {f["path"]: f for h in small.history for f in h["adds"]}

    def version():
        check(c.query_table_version(SHARE, SCHEMA, "lineitem_small")
              == latest, "version")

    def metadata(table, pcols, n_files):
        lines = c.query_table_metadata(SHARE, SCHEMA, table)
        meta = next(ln["metaData"] for ln in lines if "metaData" in ln)
        check(meta["partitionColumns"] == pcols, "partition columns")
        check(meta.get("numFiles", n_files) == n_files, "numFiles")

    def query(version=None, timestamp=None, expect=None):
        _h, lines = c.list_files_in_table(
            SHARE, SCHEMA, "lineitem_small", version=version,
            timestamp=timestamp)
        ids = file_ids(lines)
        check(len(ids) == len(expect) and set(ids) == expect,
              f"query files v={version} ts={timestamp}")

    def query_pred(table, pred, expect):
        _h, lines = c.list_files_in_table(SHARE, SCHEMA, table,
                                          json_predicate_hints=pred)
        ids = file_ids(lines)
        check(len(ids) == len(expect) and set(ids) == expect,
              f"kept files of {pred}")

    def query_paged(max_files):
        seen, token = [], None
        while True:
            _h, lines = c.list_files_in_table(
                SHARE, SCHEMA, "lineitem_small", max_files=max_files,
                page_token=token)
            ids = file_ids(lines)
            check(len(ids) <= max_files, "page size")
            seen += ids
            token = next_token(lines)
            if token is None:
                break
        check(len(seen) == len(active[latest])
              and set(seen) == active[latest], "paged walk continuity")

    def changes(a, b):
        lines = c.list_table_changes(SHARE, SCHEMA, "lineitem_small",
                                     starting_version=a, ending_version=b)
        want = set()
        for v in range(a, b + 1):
            h = small.history[v]
            if h["cdcs"]:
                want |= {("cdf", x["path"], v) for x in h["cdcs"]}
            else:
                want |= {("add", x["path"], v) for x in h["adds"]}
                want |= {("remove", x["path"], v) for x in h["removes"]}
        check(action_keys(lines) == want, f"changes {a}..{b}")

    def range_query(a, b):
        _h, lines = c.list_files_in_table(
            SHARE, SCHEMA, "lineitem_small", starting_version=a,
            ending_version=b)
        want = set()
        for v in range(a, b + 1):
            h = small.history[v]
            want |= {("add", x["path"], v) for x in h["adds"]}
            want |= {("remove", x["path"], v) for x in h["removes"]}
        check(action_keys(lines) == want, f"range {a}..{b}")

    def page(max_files, expect_first, expect_second):
        _h, lines = c.list_files_in_table(SHARE, SCHEMA, "manifest_large",
                                          max_files=max_files)
        first = file_ids(lines)
        token = next_token(lines)
        check(first == expect_first and token is not None, "first page")
        _h, lines = c.list_files_in_table(SHARE, SCHEMA, "manifest_large",
                                          max_files=max_files,
                                          page_token=token)
        check(file_ids(lines) == expect_second, "second page")

    # what sets an op's cost (range width, page size, span length,
    # version) takes the same values for every seed, and the seed picks
    # where they fall: seeds change which files an op touches, not how
    # much work a cycle holds, so runs with different seeds compare
    def sizes(lo, hi):
        return [lo + (hi - lo) * i // (SMALL_REPS - 1)
                for i in range(SMALL_REPS)]

    def small_pred_literal(width):
        mode = rng.choice(fixtures.MODES)
        ids = [r["id"] for p in active[latest] for r in sfiles[p]["rows"]]
        lo = rng.randrange(min(ids), max(ids) - width)
        hi = lo + width
        keep = {p for p in active[latest]
                if sfiles[p]["partitionValues"]["mode"] == mode
                and sfiles[p]["stats"]["maxValues"]["id"] >= lo
                and sfiles[p]["stats"]["minValues"]["id"] <= hi}
        return range_pred("mode", mode, lo, hi), keep

    def large_pred_literal():
        cat = rng.randrange(fixtures.LARGE_CATS)
        lo = rng.randrange(0, (LARGE_FILES - 1000)
                           * fixtures.LARGE_ROWS_PER_FILE)
        hi = lo + 1_000_000
        rows = fixtures.LARGE_ROWS_PER_FILE
        keep = {p for p, (i, ct) in large["files"].items()
                if ct == f"c{cat:02d}" and i * rows + rows - 1 >= lo
                and i * rows <= hi}
        return range_pred("cat", f"c{cat:02d}", lo, hi), keep

    large_sorted = sorted(large["files"])

    def large_page_literal():
        m = rng.randrange(90, 110)
        return m, large_sorted[:m], large_sorted[m:2 * m]

    def span(length):
        a = rng.randrange(1, latest - length + 1)
        return a, a + length

    tt = []
    for i, v in enumerate(sizes(0, latest - 1)):
        if i % 2 == 0:
            tt.append((v, None, active[v]))
        else:
            ts = fixtures.TS0 + v * fixtures.TS_STEP + fixtures.TS_STEP // 2
            iso = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(ts / 1000))
            tt.append((None, iso, active[v]))

    n_large = len(large["files"])
    light = {
        "version": [()] * SMALL_REPS,
        "metadata": [("lineitem_small", ["mode"], len(active[latest]))]
        * SMALL_REPS,
        "query": [(None, None, active[latest])] * SMALL_REPS,
        "query_pred": [("lineitem_small", *small_pred_literal(w))
                       for w in sizes(100, 1500)],
        "query_paged": [(m,) for m in sizes(20, 40)],
        "changes": [span(n) for n in sizes(1, latest - 1)],
        "range": [span(n) for n in sizes(1, latest - 1)],
        "time_travel": tt,
    }
    fns = {"version": version, "metadata": metadata, "query": query,
           "query_pred": query_pred, "query_paged": query_paged,
           "changes": changes, "range": range_query, "time_travel": query}
    ops = {k: [Op(k, "light", fns[k], a) for a in args]
           for k, args in light.items()}
    # heavy kinds run once per cycle, on one seeded literal each
    ops["large_metadata"] = [Op("large_metadata", "heavy", metadata,
                                ("manifest_large", ["cat"], n_large))]
    ops["large_query_pred"] = [Op("large_query_pred", "heavy", query_pred,
                                  ("manifest_large", *large_pred_literal()))]
    ops["large_page"] = [Op("large_page", "heavy", page,
                            large_page_literal())]
    return ops



def run(spark, workdir: str, seed: int, seconds: float, probe, tracer):
    from common import (Runner, log, mean_of_kind_medians, median, mem_mb,
                        seeded_cycle)

    setups, fx = [], None
    for r in range(SETUP_REPS):
        if fx is not None:
            fx.close()
        t0 = time.perf_counter()
        fx = Fixture(spark, os.path.join(workdir, f"setup{r}"), seed)
        setups.append(time.perf_counter() - t0)
    try:
        ops = build_ops(fx, seed)
        # the two-request page walk on the large manifest costs ~3 s warm
        # and ~11 s cold: run once in traced runs, for its layer numbers
        page = ops.pop("large_page")
        cycle = seeded_cycle(
            ops, {k: len(v) for k, v in ops.items()}, seed)
        runner = Runner(cycle, probe, tracer)
        warm = Runner(seeded_cycle(ops, {}, seed), probe, tracer)
        t0 = time.perf_counter()
        warm.warm_up()
        warm_s = time.perf_counter() - t0
        mem = mem_mb(spark)
        log(f"setup reps {[round(x, 2) for x in setups]} warm-up "
            f"{warm_s:.1f}s")
        if tracer is not None:
            tracer.start()
        samples = runner.measure(seconds)
        runners = (warm, runner)
        if tracer is not None:
            extra = Runner(page, probe, tracer)
            tracer.set_cycle(0)
            extra.run_once()
            runners += (extra,)
    finally:
        fx.close()
    light = {k: v for k, v in samples.items() if not k.startswith("large_")}
    heavy = {k: v for k, v in samples.items() if k.startswith("large_")}
    return {
        "setup_s": median(setups) + warm_s,
        "mem_mb": mem,
        "light_ms": mean_of_kind_medians(light),
        "heavy_ms": mean_of_kind_medians(heavy),
        "runners": runners,
        "samples": samples,
        "names": {"light_ms": "small_ms", "heavy_ms": "large_ms"},
    }
