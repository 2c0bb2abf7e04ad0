"""Seeded table fixtures, written directly in the table log format.

Commit JSON lines follow the Delta protocol (protocol / metaData / add /
remove / cdc / commitInfo). Writing them directly instead of through
Spark write jobs takes well under a second, and every file's rows, stats
and partition values are known here, so each answer the program gives can
be checked against an expectation computed without it. Only the log,
data and change-data directory names come from the program
(``TableLog(None, path)``)."""

from __future__ import annotations

import json
import os
import random
import zlib

import pyarrow as pa
import pyarrow.parquet as pq

TS0 = 1_700_000_000_000
TS_STEP = 60_000  # commit v is stamped TS0 + v * TS_STEP (ms)

MODES = ["AIR", "MAIL", "RAIL", "SHIP"]

# lineitem-like rows: integer-valued columns only, so a content checksum
# is exact in Spark SQL and in Python alike
ROW_FIELDS = [("id", "long"), ("qty", "long"), ("price_cents", "long"),
              ("mode", "string"), ("note", "string")]
_ARROW = {"long": pa.int64(), "string": pa.string(),
          "vector": pa.list_(pa.float64())}
_SCHEMA_TYPE = {"vector": {"type": "array", "elementType": "double",
                           "containsNull": True}}
_STATS_TYPES = ("long", "string")


def schema_string(fields) -> str:
    return json.dumps({"type": "struct", "fields": [
        {"name": n, "type": _SCHEMA_TYPE.get(t, t), "nullable": True,
         "metadata": {}} for n, t in fields]})


def row_crc(mode: str, note: str) -> int:
    return zlib.crc32(f"{mode}|{note}".encode())


class ForgedTable:
    """Appends commits to one table directory. ``files`` maps each active
    path to its add (path, partition values, size, stats, rows) after the
    latest commit; ``history[v]`` keeps version v's active paths and
    actions."""

    def __init__(self, root: str, name: str, fields, partition_cols=(),
                 configuration=None):
        from delta_sharing_spark.plans.log import TableLog

        log = TableLog(None, root)
        self.root = log.path
        self.log_dir = log.log_path
        self.data_rel = os.path.relpath(log.data_path, self.root)
        self.cdc_rel = os.path.relpath(log.cdc_path, self.root)
        for d in (self.log_dir, log.data_path, log.cdc_path):
            os.makedirs(d, exist_ok=True)
        self.name = name
        self.fields = list(fields)
        self.partition_cols = list(partition_cols)
        self.configuration = dict(configuration or {})
        self.version = -1
        self.files: dict[str, dict] = {}
        self.history: list[dict] = []  # per version: active path set + actions

    # ------------------------------------------------------------ files

    def _arrow(self, rows: list[dict], fields) -> pa.Table:
        return pa.table({n: pa.array([r[n] for r in rows], _ARROW[t])
                         for n, t in fields})

    def write_rows(self, rows: list[dict], tag: str) -> dict:
        """One data file (partition columns stay in the path)."""
        pv = {c: rows[0][c] for c in self.partition_cols}
        data_fields = [(n, t) for n, t in self.fields
                       if n not in self.partition_cols]
        sub = "/".join(f"{c}={pv[c]}" for c in self.partition_cols)
        rel = "/".join(p for p in (self.data_rel, sub, f"part-{tag}.parquet")
                       if p)
        full = os.path.join(self.root, rel)
        os.makedirs(os.path.dirname(full), exist_ok=True)
        pq.write_table(self._arrow(rows, data_fields), full)
        stats = {"numRecords": len(rows), "minValues": {}, "maxValues": {},
                 "nullCount": {}}
        for n, t in data_fields:
            if t not in _STATS_TYPES:
                continue
            vals = [r[n] for r in rows]
            stats["minValues"][n] = min(vals)
            stats["maxValues"][n] = max(vals)
            stats["nullCount"][n] = 0
        return {"path": rel, "partitionValues": pv,
                "size": os.path.getsize(full), "stats": stats,
                "rows": rows}

    def write_cdc(self, rows: list[dict], change_type: str, tag: str) -> dict:
        rel = f"{self.cdc_rel}/cdc-{tag}.parquet"
        full = os.path.join(self.root, rel)
        out = [dict(r, _change_type=change_type) for r in rows]
        pq.write_table(self._arrow(
            out, self.fields + [("_change_type", "string")]), full)
        return {"path": rel, "size": os.path.getsize(full), "rows": out}

    # ---------------------------------------------------------- commits

    def commit(self, adds=(), removes=(), cdcs=(),
               operation="WRITE") -> int:
        v = self.version + 1
        ts = TS0 + v * TS_STEP
        lines = []
        if v == 0:
            lines.append({"protocol": {"minReaderVersion": 1}})
            lines.append({"metaData": {
                "id": f"bench-{self.name}", "name": self.name,
                "format": {"provider": "parquet"},
                "schemaString": schema_string(self.fields),
                "partitionColumns": self.partition_cols,
                "configuration": self.configuration,
                "createdTime": ts}})
        for f in adds:
            lines.append({"add": {
                "path": f["path"], "partitionValues": f["partitionValues"],
                "size": f["size"], "stats": json.dumps(f["stats"]),
                "dataChange": True}})
        for f in removes:
            lines.append({"remove": {
                "path": f["path"], "partitionValues": f["partitionValues"],
                "size": f["size"], "dataChange": True}})
        for c in cdcs:
            lines.append({"cdc": {"path": c["path"], "partitionValues": {},
                                  "size": c["size"]}})
        lines.append({"commitInfo": {"version": v, "timestamp": ts,
                                     "operation": operation}})
        name = os.path.join(self.log_dir, f"{v:020d}.json")
        with open(name + ".tmp", "w") as fh:
            fh.write("".join(json.dumps(x) + "\n" for x in lines))
        os.rename(name + ".tmp", name)
        for f in removes:
            del self.files[f["path"]]
        for f in adds:
            self.files[f["path"]] = f
        self.version = v
        self.history.append({"active": set(self.files), "adds": list(adds),
                             "removes": list(removes), "cdcs": list(cdcs),
                             "ts": ts})
        return v

    def rows(self, version: "int | None" = None) -> list[dict]:
        """All live rows at ``version`` (latest by default)."""
        v = self.version if version is None else version
        return [r for p in sorted(self.history[v]["active"])
                for r in self._rows_of(p)]

    def _rows_of(self, path: str) -> list[dict]:
        for h in self.history:
            for f in h["adds"]:
                if f["path"] == path:
                    return f["rows"]
        raise KeyError(path)

    def rewrite(self, pred, update=None, operation="DELETE", tag="dml"):
        """DELETE (``update`` None) or UPDATE of the rows matching
        ``pred``: every touched file is removed and rewritten, and the
        change rows go to cdc files, as a copy-on-write DML commits."""
        adds, removes, pre, post = [], [], [], []
        for i, path in enumerate(sorted(self.files)):
            f = self.files[path]
            hit = [r for r in f["rows"] if pred(r)]
            if not hit:
                continue
            removes.append(f)
            if update is None:
                keep = [r for r in f["rows"] if not pred(r)]
                pre += hit
            else:
                keep = [update(r) if pred(r) else r for r in f["rows"]]
                pre += hit
                post += [update(r) for r in hit]
            if keep:
                adds.append(self.write_rows(keep, f"{tag}-{i:04d}"))
        cdcs = []
        if update is None:
            cdcs.append(self.write_cdc(pre, "delete", f"{tag}-del"))
        else:
            cdcs.append(self.write_cdc(pre, "update_preimage", f"{tag}-pre"))
            cdcs.append(self.write_cdc(post, "update_postimage",
                                       f"{tag}-post"))
        return self.commit(adds, removes, cdcs, operation=operation)


def make_rows(rng: random.Random, lo: int, n: int, mode: str) -> list[dict]:
    return [{"id": i, "qty": rng.randint(1, 50),
             "price_cents": rng.randint(100, 100_000), "mode": mode,
             "note": "n" * rng.randint(4, 24)}
            for i in range(lo, lo + n)]


# ------------------------------------------------------- metadata tables

def build_lineitem_small(root: str, seed: int,
                         rows_per_file: int = 40) -> ForgedTable:
    """About 100 files over 12 versions, partitioned by ``mode``, CDF on.
    Every file covers its own contiguous ``id`` range, so stats pruning
    on ``id`` is selective and its exact answer is known."""
    rng = random.Random(seed)
    t = ForgedTable(root, "lineitem_small", ROW_FIELDS, ["mode"],
                    {"delta.enableChangeDataFeed": "true"})
    next_id = 0

    def batch(v: int, per_mode: int) -> list[dict]:
        nonlocal next_id
        out = []
        for m in MODES:
            for j in range(per_mode):
                out.append(t.write_rows(
                    make_rows(rng, next_id, rows_per_file, m),
                    f"v{v:02d}-{m}-{j}"))
                next_id += rows_per_file
        return out

    t.commit(batch(0, 4), operation="CREATE TABLE")       # v0: 16 files
    for v in range(1, 10):                                 # v1..v9: +8 each
        t.commit(batch(v, 2))
    dead = rng.randrange(0, next_id)
    span = rows_per_file * 3
    t.rewrite(lambda r: dead <= r["id"] < dead + span and r["id"] % 3 == 0,
              operation="DELETE", tag="v10")               # v10
    t.commit(batch(11, 2))                                 # v11
    return t


LARGE_CATS = 16
LARGE_ROWS_PER_FILE = 1000


def build_manifest_large(spark, root: str, n_files: int,
                         tail_commits: int = 3) -> dict:
    """A synthetic manifest above the driver-prune threshold: commit 0
    carries ``n_files`` adds (no data files: the metadata plane never
    opens them), the program writes its checkpoint at version 0, then
    small tail commits follow. File i covers ids [i*1000, (i+1)*1000) in
    partition ``cat = c{i % 16}``. Returns the expected layout."""
    from delta_sharing_spark.plans.log import TableLog

    fields = [("id", "long"), ("v", "long"), ("cat", "string")]
    log = TableLog(spark, root)
    os.makedirs(log.log_path, exist_ok=True)
    data_rel = os.path.relpath(log.data_path, log.path)
    files = {}

    def add(i: int) -> str:
        cat = f"c{i % LARGE_CATS:02d}"
        path = f"{data_rel}/cat={cat}/part-{i:08d}.parquet"
        lo = i * LARGE_ROWS_PER_FILE
        stats = json.dumps({
            "numRecords": LARGE_ROWS_PER_FILE,
            "minValues": {"id": lo, "v": 0},
            "maxValues": {"id": lo + LARGE_ROWS_PER_FILE - 1, "v": 9},
            "nullCount": {"id": 0, "v": 0}})
        files[path] = (i, cat)
        return json.dumps({"add": {
            "path": path, "partitionValues": {"cat": cat}, "size": 4_000_000,
            "stats": stats, "dataChange": True}})

    lines = [json.dumps({"protocol": {"minReaderVersion": 1}}),
             json.dumps({"metaData": {
                 "id": "bench-manifest-large", "name": "manifest_large",
                 "format": {"provider": "parquet"},
                 "schemaString": schema_string(fields),
                 "partitionColumns": ["cat"], "configuration": {},
                 "createdTime": TS0}})]
    lines += [add(i) for i in range(n_files)]
    lines.append(json.dumps({"commitInfo": {
        "version": 0, "timestamp": TS0, "operation": "CREATE TABLE"}}))
    with open(os.path.join(log.log_path, f"{0:020d}.json"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    log.write_checkpoint(0)
    nxt = n_files
    for v in range(1, tail_commits + 1):
        ls = [add(nxt), add(nxt + 1)]
        nxt += 2
        gone = next(p for p, (i, _c) in files.items() if i == v * 7)
        cat = files.pop(gone)[1]
        ls.append(json.dumps({"remove": {
            "path": gone, "partitionValues": {"cat": cat}, "size": 4_000_000,
            "dataChange": True}}))
        ls.append(json.dumps({"commitInfo": {
            "version": v, "timestamp": TS0 + v * TS_STEP,
            "operation": "WRITE"}}))
        with open(os.path.join(log.log_path, f"{v:020d}.json"), "w") as fh:
            fh.write("\n".join(ls) + "\n")
    return {"files": files, "version": tail_commits}


# ---------------------------------------------------------- scan tables

def build_orders(root: str, seed: int, files: int = 4,
                 rows_per_file: int = 2000) -> ForgedTable:
    """Unpartitioned, CDF on: create, append, DELETE, UPDATE, append. The
    DELETE and UPDATE write cdc files, so the change feed over versions
    1..4 has insert, delete and update images."""
    rng = random.Random(seed)
    t = ForgedTable(root, "orders", ROW_FIELDS, [],
                    {"delta.enableChangeDataFeed": "true"})
    nid = 0

    def batch(v: int, n: int) -> list[dict]:
        nonlocal nid
        out = []
        for j in range(n):
            rows = make_rows(rng, nid, rows_per_file, MODES[j % 4])
            out.append(t.write_rows(rows, f"v{v}-{j:03d}"))
            nid += rows_per_file
        return out

    t.commit(batch(0, files), operation="CREATE TABLE")
    t.commit(batch(1, files // 2))
    k = rng.randint(11, 17)
    t.rewrite(lambda r: r["id"] % k == 0, operation="DELETE", tag="v2")
    m = rng.randint(19, 23)
    t.rewrite(lambda r: r["id"] % m == 1,
              update=lambda r: dict(r, qty=r["qty"] + 100),
              operation="UPDATE", tag="v3")
    t.commit(batch(4, files // 2))
    return t


def build_corpus(root: str, seed: int, n: int = 1000, dim: int = 16,
                 vocab: int = 200, words: int = 30) -> ForgedTable:
    """The shared LLM-data corpus: ``vec_id``, an embedding and a text."""
    rng = random.Random(seed)
    t = ForgedTable(root, "corpus", [("vec_id", "long"), ("embedding", "vector"),
                                     ("text", "string")])
    rows = []
    for i in range(n):
        rows.append({
            "vec_id": i,
            "embedding": [round(rng.gauss(0, 1), 3) for _ in range(dim)],
            "text": " ".join(f"w{rng.randrange(vocab)}"
                             for _ in range(words))})
    adds = [t.write_rows(rows[lo:lo + n // 4], f"c{j}")
            for j, lo in enumerate(range(0, n, n // 4))]
    t.commit(adds, operation="CREATE TABLE")
    return t
