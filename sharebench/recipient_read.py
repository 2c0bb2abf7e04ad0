"""recipient_read: a recipient reads shared tables over REST.

This is the data plane plus the LLM-data operators. Its metadata work is
one or two cheap RPCs per op, so a metadata-plane gain should barely move
it.

- ``light`` (scan) kinds read ``orders`` (5 versions, CDF on, with a
  DELETE and an UPDATE in its history) through the client. Full reads
  aggregate a content checksum over every column of every row, which
  reads as much as a ``noop`` sink and gives an answer that can be
  checked.
- ``heavy`` (prep) kinds run operators on the shared ``corpus`` loaded
  over REST and compare the result with the same operator run on a direct
  parquet read of the same files.
"""

from __future__ import annotations

import json
import os
import random
import time

import fixtures
from common import Op, check

SHARE, SCHEMA = "bench", "recipient"
SETUP_REPS = 3
# Spark task slots. Against two slots, in two sets of runs alternated
# with four, two slots ran scan and prep kinds 10-25% slower in one set
# and as fast in the other, and were no steadier in either.
CPUS = 4
DIM, PQ_M, PQ_K = 16, 4, 8


def expected_checksum(rows) -> tuple:
    return (len(rows), sum(r["id"] for r in rows),
            sum(r["qty"] * (r["id"] % 1000) for r in rows),
            sum(r["price_cents"] for r in rows),
            sum(fixtures.row_crc(r["mode"], r["note"]) for r in rows))


def spark_checksum(df) -> tuple:
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)), F.sum("id"),
        F.sum(F.col("qty") * (F.col("id") % 1000)), F.sum("price_cents"),
        F.sum(F.crc32(F.concat_ws("|", "mode", "note").cast("binary"))),
    ).first()
    return tuple(0 if v is None else int(v) for v in row)


class Fixture:
    def __init__(self, spark, root: str, seed: int):
        from delta_sharing_spark.catalog import ShareCatalog
        from delta_sharing_spark.server import SharingServer

        self.orders = fixtures.build_orders(os.path.join(root, "orders"),
                                            seed)
        self.corpus = fixtures.build_corpus(os.path.join(root, "corpus"),
                                            seed, dim=DIM)
        cat = ShareCatalog(spark)
        cat.add_table(SHARE, SCHEMA, "orders", self.orders.root,
                      cdf_enabled=True)
        cat.add_table(SHARE, SCHEMA, "corpus", self.corpus.root)
        self.server = SharingServer(cat, bearer_token="bench-token")
        endpoint = self.server.serve_background()
        self.profile = os.path.join(root, "profile.share")
        with open(self.profile, "w") as fh:
            json.dump({"shareCredentialsVersion": 1, "endpoint": endpoint,
                       "bearerToken": "bench-token"}, fh)

    def add_table(self, name: str, path: str) -> None:
        self.server.catalog.add_table(SHARE, SCHEMA, name, path,
                                      cdf_enabled=True)

    def url(self, table: str) -> str:
        return f"{self.profile}#{SHARE}.{SCHEMA}.{table}"

    def close(self) -> None:
        self.server.shutdown()
        self.server.httpd.server_close()


class Prep:
    """The operator calls of the prep kinds. Set-up runs them once on a
    direct parquet read of the corpus files: the expected answers."""

    def __init__(self, spark, fx: Fixture):
        from delta_sharing_spark.operators import similarity

        self.spark = spark
        paths = [os.path.join(fx.corpus.root, p) for p in fx.corpus.files]
        self.direct = spark.read.parquet(*paths)
        rows = sorted(fx.corpus.rows(), key=lambda r: r["vec_id"])[:8]
        self.queries = spark.createDataFrame(
            [(r["vec_id"], r["embedding"]) for r in rows],
            "vec_id long, embedding array<double>").localCheckpoint()
        # codebooks fitted once, as an index is: the prep kind times
        # encoding and search, not fitting (0.8 s more per op here)
        self.books = similarity.pq_fit(
            self.direct, m=PQ_M, k=PQ_K, iters=1, dim=DIM).localCheckpoint()
        self.expect = {k: fn(self.direct) for k, fn in self.kinds().items()}

    def kinds(self) -> dict:
        return {"minhash_lsh": self.minhash_lsh, "pq_adc": self.pq_adc}

    def extra_kinds(self) -> dict:
        """Operators too slow for the timed loop on ``local[4]`` (seconds
        per call): run once per traced run for their layer times."""
        return {"ivf_pq": self.ivf_pq, "simhash": self.simhash}

    @staticmethod
    def minhash_lsh(df):
        from delta_sharing_spark.operators import dedup

        sig = dedup.minhash_signatures(df, "vec_id", "text", num_hashes=8)
        pairs = dedup.minhash_lsh_candidates(sig, "vec_id", num_hashes=8,
                                             bands=4)
        return sorted(tuple(r) for r in pairs.collect())

    def pq_adc(self, df):
        from delta_sharing_spark.operators import similarity

        codes = similarity.pq_encode(df, self.books, m=PQ_M, dim=DIM)
        top = similarity.pq_adc_topk(self.queries, codes, self.books, k=5,
                                     m=PQ_M, dim=DIM)
        return sorted(tuple(r) for r in top.collect())

    def ivf_pq(self, df):
        from delta_sharing_spark.operators import similarity

        coarse, books, codes = similarity.ivf_pq_fit(
            df, k_coarse=4, m=PQ_M, k=PQ_K, coarse_iters=1, dim=DIM)
        top = similarity.ivf_pq_topk(self.queries, coarse, books, codes,
                                     k=5, nprobe=2, m=PQ_M, dim=DIM)
        return sorted(tuple(r) for r in top.collect())

    @staticmethod
    def simhash(df):
        from delta_sharing_spark.operators import dedup

        fp = dedup.simhash_fingerprints(df, "vec_id", "text")
        return sorted(tuple(r) for r in
                      dedup.simhash_near_pairs(fp, "vec_id").collect())


def build_ops(spark, fx: Fixture, prep: Prep, seed: int, tracer=None) -> dict:
    import contextlib

    import delta_sharing_spark.client as client

    def span(name):
        return contextlib.nullcontext() if tracer is None \
            else tracer.span(name)

    def checksum(df) -> tuple:
        with span("spark.action"):
            return spark_checksum(df)

    rng = random.Random(seed * 104729 + 3)
    orders, url = fx.orders, fx.url("orders")
    latest_rows = orders.rows()
    want_latest = expected_checksum(latest_rows)

    def deltashare():
        with span("client.plan"):
            return spark.read.format("deltashare").option("path", url).load()

    def full_scan():
        check(checksum(deltashare()) == want_latest, "deltashare scan")

    def matching(mode, lo, hi):
        from pyspark.sql import functions as F

        return (F.col("mode") == mode) & F.col("id").between(lo, hi)

    def filtered(mode, lo, hi, want):
        df = client.load_as_spark(url, spark=spark)
        check(checksum(df.filter(matching(mode, lo, hi))) == want,
              "filtered load_as_spark")

    def pushdown_scan(mode, lo, hi, want):
        check(checksum(deltashare().filter(matching(mode, lo, hi))) == want,
              "filtered deltashare scan")

    def load_latest():
        df = client.load_as_spark(url, spark=spark)
        check(checksum(df) == want_latest, "load_as_spark")

    def pandas_limit(n):
        pdf = client.load_as_pandas(url, limit=n, spark=spark)
        check(len(pdf) == n, "limit row count")
        rows = pdf[[f for f, _t in fixtures.ROW_FIELDS]].itertuples(
            index=False)
        check({tuple(r) for r in rows} <= latest_tuples,
              "limit rows are table rows")

    latest_tuples = {tuple(r[f] for f, _t in fixtures.ROW_FIELDS)
                     for r in latest_rows}

    def time_travel(v, want):
        df = client.load_as_spark(url, version=v, spark=spark)
        check(checksum(df) == want, f"version {v}")

    def changes(a, b, want):
        from pyspark.sql import functions as F

        df = client.load_table_changes_as_spark(
            url, starting_version=a, ending_version=b, spark=spark)
        with span("spark.action"):
            got = {r[0]: (r[1], r[2]) for r in df.groupBy(
                "_change_type").agg(F.count(F.lit(1)), F.sum("id")).collect()}
        check(got == want, f"changes {a}..{b}")

    def change_want(a, b):
        want: dict = {}
        for v in range(a, b + 1):
            h = orders.history[v]
            if h["cdcs"]:
                rows = [r for c in h["cdcs"] for r in c["rows"]]
            else:
                rows = ([dict(r, _change_type="insert")
                         for f in h["adds"] for r in f["rows"]]
                        + [dict(r, _change_type="delete")
                           for f in h["removes"] for r in f["rows"]])
            for r in rows:
                n, s = want.get(r["_change_type"], (0, 0))
                want[r["_change_type"]] = (n + 1, s + r["id"])
        return want

    def filter_literal():
        ids = [r["id"] for r in latest_rows]
        width = (max(ids) - min(ids)) // 4
        last_lo = max(ids) - width
        first = rng.choice([r for r in latest_rows if r["id"] <= last_lo])
        lo = first["id"]
        hi = lo + width
        return first["mode"], lo, hi, expected_checksum(
            [r for r in latest_rows
             if r["mode"] == first["mode"] and lo <= r["id"] <= hi])

    # the version read and the row limit set the cost of their kinds, so
    # they do not vary with the seed (see metadata_serve.build_ops)
    v_tt = orders.version - 2
    filter_args = filter_literal()
    light = {
        "load_as_spark": (load_latest, [()]),
        "filtered": (filtered, [filter_args]),
        "pandas_limit": (pandas_limit, [(500,)]),
        "time_travel": (time_travel, [(v_tt, expected_checksum(
            orders.rows(v_tt)))]),
        "changes": (changes, [(1, orders.version,
                               change_want(1, orders.version))]),
    }
    ops = {k: [Op(k, "light", fn, a) for a in args]
           for k, (fn, args) in light.items()}
    # the Python Data Source read costs 1.3 s warm and 7-9 s cold here:
    # it runs in traced runs only (see traced_extras), in full and with
    # the filter pushed into the server's file pruning
    ops["deltashare_scan"] = [Op("deltashare_scan", "extra", full_scan),
                              Op("pushdown_scan", "extra", pushdown_scan,
                                 filter_args)]
    corpus_url = fx.url("corpus")

    def prep_op(kind):
        def go():
            df = client.load_as_spark(corpus_url, spark=spark)
            with span("spark.action"):
                got = getattr(prep, kind)(df)
            check(got == prep.expect[kind],
                  f"{kind} equals the direct-read result")
        return go

    for k in prep.kinds():
        ops[k] = [Op(k, "heavy", prep_op(k))]
    return ops


def run(spark, workdir: str, seed: int, seconds: float, probe, tracer):
    from common import (Runner, log, mean_of_kind_medians, median, mem_mb,
                        seeded_cycle)
    from delta_sharing_spark.sources.datasource import SharedTableDataSource

    spark.dataSource.register(SharedTableDataSource)
    setups, fx = [], None
    for r in range(SETUP_REPS):
        if fx is not None:
            fx.close()
        t0 = time.perf_counter()
        fx = Fixture(spark, os.path.join(workdir, f"setup{r}"), seed)
        setups.append(time.perf_counter() - t0)
    try:
        t0 = time.perf_counter()
        prep = Prep(spark, fx)
        t1 = time.perf_counter()
        ops = build_ops(spark, fx, prep, seed, tracer)
        extras = ops.pop("deltashare_scan")
        runner = Runner(seeded_cycle(
            ops, {k: len(v) for k, v in ops.items()}, seed), probe, tracer)
        warm = Runner(seeded_cycle(ops, {}, seed), probe, tracer)
        warm.warm_up()
        warm_s = time.perf_counter() - t0
        mem = mem_mb(spark)
        log(f"setup reps {[round(x, 2) for x in setups]} reference "
            f"{t1 - t0:.1f}s warm-up {time.perf_counter() - t1:.1f}s")
        if tracer is not None:
            tracer.start()
        samples = runner.measure(seconds)
        if tracer is not None:
            extra = Runner(extras + traced_extras(
                spark, fx, prep, workdir, seed, tracer), probe, tracer)
            tracer.set_cycle(0)
            extra.run_once()
            runners = (warm, runner, extra)
        else:
            runners = (warm, runner)
    finally:
        fx.close()
    light = {k: v for k, v in samples.items() if ops[k][0].cls == "light"}
    heavy = {k: v for k, v in samples.items() if ops[k][0].cls == "heavy"}
    return {
        "setup_s": median(setups) + warm_s,
        "mem_mb": mem,
        "light_ms": mean_of_kind_medians(light),
        "heavy_ms": mean_of_kind_medians(heavy),
        "runners": runners,
        "samples": samples,
        "names": {"light_ms": "scan_ms", "heavy_ms": "prep_ms"},
    }


def traced_extras(spark, fx: Fixture, prep: Prep, workdir: str,
                  seed: int, tracer) -> list:
    """Ops run once in the traced run only, for their layer numbers: the
    two operators too slow for the timed loop on ``local[4]``, the
    program's write path (``ledger``: appends, a DELETE and an UPDATE with
    a checkpoint every 2 commits) and a streaming drain of that table over
    REST."""
    import delta_sharing_spark.client as client

    def operator(kind):
        def go():
            want = getattr(prep, kind)(prep.direct)
            df = client.load_as_spark(fx.url("corpus"), spark=spark)
            check(getattr(prep, kind)(df) == want,
                  f"{kind} equals the direct-read result")
        return go

    ledger = os.path.join(workdir, "ledger")
    appended: list = []

    def ledger_writes():
        appended.extend(write_ledger(spark, ledger, seed))
        fx.add_table("ledger", ledger)

    def stream_drain():
        got, tracer.stream_progress = drain_stream(
            spark, fx.url("ledger"), os.path.join(workdir, "stream-ckpt"))
        check(sorted(got) == sorted(appended),
              "every appended row arrives exactly once")

    return [Op(k, "extra", operator(k)) for k in prep.extra_kinds()] + [
        Op("ledger_writes", "extra", ledger_writes),
        Op("stream_drain", "extra", stream_drain)]


LEDGER_BATCHES = 6
LEDGER_ROWS = 200


def write_ledger(spark, root: str, seed: int) -> list:
    """Commit a fixed seeded sequence through the program: create, four
    appends, a DELETE, an UPDATE, one more append. Returns the rows the
    create and append commits added, as (batch, k, v)."""
    from delta_sharing_spark.plans.log import TableLog

    rng = random.Random(seed * 31 + 5)
    log = TableLog(spark, root)
    added = []

    def batch(b):
        rows = [(b, b * LEDGER_ROWS + i, rng.randrange(1000))
                for i in range(LEDGER_ROWS)]
        added.extend(rows)
        return spark.createDataFrame(rows, "batch long, k long, v long") \
            .coalesce(1)

    log.create(batch(0), name="ledger", configuration={
        "delta.enableChangeDataFeed": "true",
        "delta.checkpointInterval": "2"})
    for b in range(1, LEDGER_BATCHES - 1):
        log.append(batch(b))
    log.delete("k % 7 = 0")
    log.update({"v": "v + 1"}, "k % 5 = 1")
    log.append(batch(LEDGER_BATCHES - 1))
    return added


def drain_stream(spark, url: str, checkpoint: str) -> tuple:
    """A ``deltashare`` readStream over REST (250 ms trigger,
    ``skipChangeCommits``) into a ``foreachBatch`` sink, drained to the
    end. Returns every row the sink received and the query's progress
    reports."""
    got: list = []

    def sink(df, _batch_id):
        got.extend(tuple(r) for r in df.collect())

    q = (spark.readStream.format("deltashare").option("path", url)
         .option("startingVersion", "0")
         .option("skipChangeCommits", "true").load()
         .writeStream.foreachBatch(sink)
         .option("checkpointLocation", checkpoint)
         .trigger(processingTime="250 milliseconds").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return got, q.recentProgress
