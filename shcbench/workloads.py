"""The measured process of one benchmark run: one workload, one seed,
one SparkSession (``local[nproc]``) and one closed-loop client.

run.py starts this file in a fresh process for every run and reads the
result file it writes; it is not meant to be started by hand.

Workloads (README.md has the sizes, the op mix and why each exists):
- ``serve``: read-only gets, key-range scans and aggregate scans on a
  bulk-loaded, pre-split, single-generation table.
- ``pipeline``: operator-chain jobs over key-range slices of stored docs
  and embeddings, whose results are appended, tombstoned, read back and
  compacted in an LSM results table.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np
import pandas as pd
from pyspark import SparkContext
from pyspark.sql import functions as F
from pyspark.sql.datasource import GreaterThanOrEqual, In, LessThanOrEqual

import checks
from metrics import PER_LAYER
from shc_spark.catalog import parse_catalog
from shc_spark.coders import get_coder
from shc_spark.filters import translate_filters
from shc_spark.operators.dedup import minhash_lsh_pairs
from shc_spark.operators.similarity import cosine_topk, ivf_topk
from shc_spark.operators.text import quality_features
from shc_spark.session import get_spark
from shc_spark.sources import api
from tracing import Tracer, dir_bytes, proc_tree_cpu_s, reduce_event_log, steal_s, table_layout

CPUS = len(os.sched_getaffinity(0))
SETUP_REPS = 3

READ_OPS = ("get", "scan", "agg", "get_results", "scan_results")
GET_OPS = ("get", "get_results")
ROW_OPS = ("get", "scan", "get_results", "scan_results")  # ops that return stored rows


def catalog(ns: str, name: str, key: str, cols: dict) -> str:
    columns = {key: {"cf": "rowkey", "col": "key", "type": "bigint"}}
    columns.update({c: {"cf": "cf", "col": c, "type": t} for c, t in cols.items()})
    return json.dumps(
        {"table": {"namespace": ns, "name": name, "tableCoder": "OrderedType"},
         "rowkey": "key", "columns": columns}
    )


class Bench:
    """The closed-loop client: runs ops one at a time, times each from
    call to collected result, then checks the answer outside the timed
    region. A wrong answer or an exception counts as a failed op."""

    def __init__(self, spark, tracer: Tracer, traced: bool):
        self.spark = spark
        self.tracer = tracer
        self.traced = traced
        self.timing = False
        self.samples: list = []  # (op class, seconds, rows handled, op id)
        self.attempted = 0
        self.failures: list = []
        self.warm: list = []  # (op class, seconds) of warm-up ops
        self.layout: list = []  # traced: (op class, generations, files) before reads
        self.writes: list = []  # traced: (op class, disk bytes added, user bytes, bytes after)
        self.ts = 1  # cell timestamp of the next write; fixed per op sequence

    def next_ts(self) -> int:
        self.ts += 1
        return self.ts

    def op(self, cls: str, run, check, table_dir: str | None = None, user_bytes: int = 0):
        """``run()`` returns the op's result; ``check(result)`` returns
        (rows handled, error or None). ``table_dir`` is the table the op
        reads or writes, for the traced layout and byte counters."""
        self.attempted += 1
        oid = f"{'t' if self.timing else 'w'}{self.attempted}"
        traced = self.traced and self.timing
        before = None
        if traced and table_dir and os.path.exists(os.path.join(table_dir, "_regions.json")):
            if cls in READ_OPS:
                self.layout.append((cls, *table_layout(table_dir)))
            before = dir_bytes(table_dir)
        if traced:
            self.spark.sparkContext.setJobGroup(oid, cls)
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op." + cls):
                result = run()
        except Exception:
            traceback.print_exc()
            self.failures.append((cls, "raised " + traceback.format_exc().splitlines()[-1]))
            return None
        dt = time.perf_counter() - t0
        if traced:
            self.spark.sparkContext.setJobGroup("between-ops", "")
            if table_dir and cls not in READ_OPS:
                after = dir_bytes(table_dir)
                self.writes.append((cls, after - (before or 0), user_bytes, after))
        rows, err = check(result)
        if err:
            print(f"WRONG ANSWER {cls}: {err}", file=sys.stderr)
            self.failures.append((cls, err))
        if self.timing:
            self.samples.append((cls, dt, rows, oid))
        else:
            self.warm.append((cls, round(dt, 3)))
        return result

    def span(self, name: str):
        return self.tracer.span(name)


# -- serve ----------------------------------------------------------------

KV_COLS = ("k", "g", "v", "s")
KV_CAT = catalog("serve", "kv", "k", {"g": "int", "v": "double", "s": "string"})


class Serve:
    """Read-only mix on one bulk-loaded, pre-split, single-generation
    table: gets of 1-8 keys (half inside one key window, half spread over
    the table), narrow key-range scans, and aggregate scans. It does no
    writes, merges or operator work, so it isolates per-query cost and
    region pruning. The op count comes from the requested seconds, so the
    op sequence is fixed for a given seed."""

    ROWS = 20_000
    REGIONS = 8
    WINDOW = 200  # rows in the hot key window
    SCAN_ROWS = 150
    AGG_ROWS = 2000
    PATTERN = ("get_window", "scan", "get_spread", "agg")
    PATTERN_NOMINAL_S = 3.0
    # key-batch sizes of successive gets: every 8 gets cover 1-8 once,
    # whatever the seed. Gets alternate window and spread, so window gets
    # take 1, 7, 3, 5 and spread gets 8, 2, 6, 4; the miss of every
    # fourth get falls on a spread get.
    GET_SIZES = (1, 8, 7, 2, 3, 6, 5, 4)

    def __init__(self, bench: Bench, seed: int):
        self.b = bench
        self.seed = seed
        self.predicates: list = []

    def generate(self):
        rng = np.random.default_rng([self.seed, 1])
        k = 3 * np.arange(self.ROWS, dtype=np.int64) + 1
        g = rng.integers(0, 16, self.ROWS).astype(np.int32)
        v = rng.integers(0, 10**9, self.ROWS) / 1000.0
        s = [f"s{x:015x}" for x in rng.integers(0, 2**60, self.ROWS)]
        pdf = pd.DataFrame({"k": k, "g": g, "v": v, "s": s})
        rows = list(zip(k.tolist(), g.tolist(), v.tolist(), s))
        return pdf, rows

    def load(self, root: str):
        pdf, rows = self.generate()
        api.write_table(self.b.spark.createDataFrame(pdf), KV_CAT, root=root,
                        num_regions=self.REGIONS, timestamp=1)
        return checks.KvModel(rows)

    def table_dirs(self, root):
        return [os.path.join(root, "serve.kv")]

    def user_bytes(self, model) -> int:
        return sum(8 + 4 + 8 + len(r[3]) for r in model.rows.values())

    def _keys(self, rng, n: int, window: bool) -> list:
        m = self.GET_SIZES[n % len(self.GET_SIZES)]
        if window:
            idx = self.window + rng.integers(0, self.WINDOW, m)
        else:
            idx = rng.integers(0, self.ROWS, m)
        keys = (3 * idx + 1).tolist()
        if n % 4 == 3:
            keys[0] += 1  # a key between stored keys: a miss
        return keys

    def get(self, root, model, keys):
        self.predicates.append([("in", keys)])

        def run():
            with self.b.span("sources.api.bulk_get"):
                df = api.bulk_get(self.b.spark, KV_CAT, keys, root=root).select(*KV_COLS)
            with self.b.span("sources.api.bulk_get.collect"):
                return [tuple(r) for r in df.collect()]

        expected = model.get(keys)
        self.b.op("get", run, lambda res: (len(res), checks.check_rows(res, expected)),
                  os.path.join(root, "serve.kv"))

    def scan(self, root, model, lo, hi):
        self.predicates.append([("ge", lo), ("le", hi)])

        def run():
            with self.b.span("sources.api.read_table"):
                df = api.read_table(self.b.spark, KV_CAT, root=root)
                df = df.filter((F.col("k") >= lo) & (F.col("k") <= hi)).select(*KV_COLS)
            with self.b.span("sources.api.read_table.collect"):
                return [tuple(r) for r in df.collect()]

        expected = model.scan(lo, hi)
        self.b.op("scan", run, lambda res: (len(res), checks.check_rows(res, expected)),
                  os.path.join(root, "serve.kv"))

    def agg(self, root, model, lo, hi):
        def run():
            with self.b.span("sources.api.scan_aggregate"):
                df = api.scan_aggregate(self.b.spark, KV_CAT, ["g"], [("count", "*"), ("sum", "v")],
                                        root=root, key_ranges=[(lo, hi)])
                return {r["g"]: (r["count_all"], r["sum_v"]) for r in df.collect()}

        expected = model.agg(lo, hi, 1, 2)

        def check(res):
            return sum(c for c, _ in res.values()), checks.check_agg(res, expected)

        self.b.op("agg", run, check, os.path.join(root, "serve.kv"))

    def ops(self, root, model, rng):
        """The op stream: the class pattern is fixed, the keys and ranges
        come from the seeded ``rng``."""
        self.window = int(rng.integers(0, self.ROWS - self.WINDOW))
        gets = 0
        i = 0
        while True:
            cls = self.PATTERN[i % len(self.PATTERN)]
            i += 1
            if cls.startswith("get"):
                keys = self._keys(rng, gets, cls == "get_window")
                gets += 1
                yield lambda keys=keys: self.get(root, model, keys)
            elif cls == "scan":
                lo = 3 * int(rng.integers(0, self.ROWS - self.SCAN_ROWS)) + 1
                hi = lo + 3 * (self.SCAN_ROWS - 1)
                yield lambda lo=lo, hi=hi: self.scan(root, model, lo, hi)
            else:
                lo = 3 * int(rng.integers(0, self.ROWS - self.AGG_ROWS)) + 1
                hi = lo + 3 * (self.AGG_ROWS - 1)
                yield lambda lo=lo, hi=hi: self.agg(root, model, lo, hi)

    def warmup(self, root, model, rng):
        for op, _ in zip(self.ops(root, model, rng), self.PATTERN):
            op()

    def timed(self, root, model, rng, seconds: float):
        patterns = max(1, round(seconds / self.PATTERN_NOMINAL_S))
        for op, _ in zip(self.ops(root, model, rng), range(patterns * len(self.PATTERN))):
            op()

    def microbench_inputs(self):
        return KV_CAT, "k", (3 * np.arange(self.ROWS, dtype=np.int64) + 1)


# -- pipeline -------------------------------------------------------------

DOCS_CAT = catalog("pipe", "docs", "doc_id", {"text": "string", "embedding": "array<double>"})
QUALITY_COLS = ("doc_id", "q_chars", "q_tokens", "q_score")
QUALITY_CAT = catalog("pipe", "quality", "doc_id",
                      {"q_chars": "int", "q_tokens": "int", "q_score": "double"})


class Pipeline:
    """Operator-chain jobs over stored docs and embeddings. Each job
    takes one key-range slice and runs quality_features, writes the
    scores to the results table, runs minhash_lsh_pairs, tombstones the
    planted near-duplicates in the results table, runs cosine_topk and
    ivf_topk, and reads the results table back by get and by scan. The
    results table is compacted at the end of every job, so reads see it
    grow generations and shrink back. The job count comes from the
    requested seconds, never from measured speed, so the op sequence is
    fixed for a given seed."""

    DOCS = 2_000
    SLICE = 500
    DIM = 32
    REGIONS = 4
    JOB_NOMINAL_S = 6.0
    QUERY_STRIDE = 8  # every 8th vector is a query; the next one is its planted twin
    # op classes the warm-up job skips: run after the other classes they
    # took within 0.6 s of their warm latency even when cold, and leaving
    # them out keeps a run inside the benchmark's time budget
    WARM_SKIP = ("delete_dups", "ivf", "get_results", "scan_results", "compact")

    def __init__(self, bench: Bench, seed: int):
        self.b = bench
        self.seed = seed
        self.predicates: list = []
        self.texts, self.vecs, self.dup_pairs = self._data()
        self.done: list = []  # (lo, hi, tombstoned keys) of earlier timed jobs

    def _data(self):
        rng = np.random.default_rng([self.seed, 2])
        vocab = [f"w{x:x}" for x in rng.choice(2**24, 3000, replace=False)]
        texts = []
        dup_pairs = []
        for i in range(self.DOCS):
            if i % 10 == 3:
                words = texts[i - 1].split(" ")
                j = int(rng.integers(0, len(words)))
                words[j] = vocab[int(rng.integers(0, len(vocab)))] + "x"
                dup_pairs.append((i - 1, i))
            else:
                n = int(rng.integers(40, 80))
                words = [vocab[x] for x in rng.integers(0, len(vocab), n)]
            texts.append(" ".join(words))
        vecs = rng.normal(size=(self.DOCS, self.DIM))
        twins = np.arange(1, self.DOCS, self.QUERY_STRIDE)
        vecs[twins] = vecs[twins - 1] + rng.normal(scale=0.02, size=(len(twins), self.DIM))
        return texts, vecs, dup_pairs

    def load(self, root: str):
        texts, vecs, _ = self._data()
        ids = np.arange(self.DOCS, dtype=np.int64)
        pdf = pd.DataFrame({"doc_id": ids, "text": texts, "embedding": list(vecs)})
        df = self.b.spark.createDataFrame(pdf, "doc_id long, text string, embedding array<double>")
        api.write_table(df, DOCS_CAT, root=root, num_regions=self.REGIONS, timestamp=1)
        return checks.KvModel()

    def table_dirs(self, root):
        return [os.path.join(root, t) for t in ("pipe.docs", "pipe.quality")]

    def user_bytes(self, model) -> int:
        docs = sum(8 + len(t.encode()) + 8 * self.DIM for t in self.texts)
        return docs + len(model.rows) * (8 + 4 + 4 + 8)

    def _slice(self, root, lo, hi, extra=None):
        """The docs with keys in [lo, hi] (and ``extra``), as a fresh relation."""
        self.predicates.append([("ge", lo), ("le", hi)])
        with self.b.span("sources.api.read_table"):
            df = api.read_table(self.b.spark, DOCS_CAT, root=root)
            cond = (F.col("doc_id") >= lo) & (F.col("doc_id") <= hi)
            return df.filter(cond if extra is None else cond & extra)

    def job(self, root, model, lo: int, rng, size: int = SLICE, warm: bool = False):
        spark, b = self.b.spark, self.b
        hi = lo + size - 1
        qdir = os.path.join(root, "pipe.quality")
        slice_texts = {i: self.texts[i] for i in range(lo, hi + 1)}
        scored: list = []

        def op(cls, *args):
            if not (warm and cls in self.WARM_SKIP):
                b.op(cls, *args)

        def quality():
            docs = self._slice(root, lo, hi)
            with b.span("operators.text.quality_features"):
                q = quality_features(docs, "text").select(
                    "doc_id", F.col("q_chars").cast("int"), F.col("q_tokens").cast("int"), "q_score")
                return [tuple(r) for r in q.collect()]

        def check_quality(res):
            scored[:] = res
            return len(res), checks.check_quality(res, slice_texts)

        op("quality", quality, check_quality)

        ts = b.next_ts()

        def write():
            with b.span("sources.api.write_table"):
                df = spark.createDataFrame(scored, "doc_id long, q_chars int, q_tokens int, q_score double")
                api.write_table(df, QUALITY_CAT, root=root, num_regions=self.REGIONS,
                                mode="append", timestamp=ts)

        model.put(scored)
        op("write_results", write, lambda _: (len(scored), None), qdir, len(scored) * 24)

        def dedup():
            docs = self._slice(root, lo, hi)
            with b.span("operators.dedup.minhash_lsh_pairs"):
                return [tuple(r) for r in minhash_lsh_pairs(docs, "text", "doc_id").collect()]

        planted = [p for p in self.dup_pairs if lo <= p[0] and p[1] <= hi]
        op("dedup", dedup,
             lambda res: (size, checks.check_pairs(res, slice_texts, planted, 0.8, 0.95)))

        dups = [p[1] for p in planted]
        ts = b.next_ts()

        def delete():
            with b.span("sources.api.delete_rows"):
                api.delete_rows(spark, QUALITY_CAT, dups, root=root, timestamp=ts)

        model.delete(dups)
        op("delete_dups", delete, lambda _: (len(dups), None), qdir, len(dups) * 8)

        q_ids = [i for i in range(lo, hi + 1) if i % self.QUERY_STRIDE == 0]
        c_ids = list(range(lo, hi + 1))
        cos = checks.true_cosines(q_ids, self.vecs[q_ids], c_ids, self.vecs[c_ids])
        exact = checks.exact_topk(q_ids, self.vecs[q_ids], c_ids, self.vecs[c_ids], 5)
        twins = [(q, q + 1) for q in q_ids if q + 1 <= hi]

        def sim(name, fn):
            def run():
                queries = self._slice(root, lo, hi, F.col("doc_id") % self.QUERY_STRIDE == 0)
                corpus = self._slice(root, lo, hi)
                with b.span(name):
                    out = fn(queries, corpus)
                    return [(r["query_id"], r["neighbor_id"], r["cosine"]) for r in out.collect()]
            return run

        op("cosine", sim("operators.similarity.cosine_topk",
                           lambda q, c: cosine_topk(q, c, "embedding", "doc_id", k=5)),
             lambda res: (size, checks.check_topk_exact(res, exact, cos)))
        op("ivf", sim("operators.similarity.ivf_topk",
                        lambda q, c: ivf_topk(q, c, "embedding", "doc_id", k=5, dim=self.DIM,
                                              num_centroids=8, nprobe=2)),
             lambda res: (size, checks.check_topk_recall(res, twins, cos, 0.9)))

        # keys of this slice, two of its tombstones, and a key and a
        # tombstone of an earlier job's slice, which compaction rewrote
        keys = [int(x) for x in rng.integers(lo, hi + 1, 8)] + dups[:2]
        if self.done:
            e_lo, e_hi, e_dups = self.done[int(rng.integers(0, len(self.done)))]
            keys += [int(rng.integers(e_lo, e_hi + 1)), e_dups[int(rng.integers(0, len(e_dups)))]]
        else:
            keys += dups[2:4]

        def get():
            with b.span("sources.api.bulk_get"):
                df = api.bulk_get(spark, QUALITY_CAT, keys, root=root).select(*QUALITY_COLS)
            with b.span("sources.api.bulk_get.collect"):
                return [tuple(r) for r in df.collect()]

        expected_get = model.get(keys)
        op("get_results", get, lambda res: (len(res), checks.check_rows(res, expected_get)), qdir)

        s_lo = lo + int(rng.integers(0, size - 100))
        self.predicates.append([("ge", s_lo), ("le", s_lo + 99)])

        def scan():
            with b.span("sources.api.read_table"):
                df = api.read_table(spark, QUALITY_CAT, root=root)
                df = df.filter((F.col("doc_id") >= s_lo) & (F.col("doc_id") <= s_lo + 99))
                df = df.select(*QUALITY_COLS)
            with b.span("sources.api.read_table.collect"):
                return [tuple(r) for r in df.collect()]

        expected_scan = model.scan(s_lo, s_lo + 99)
        op("scan_results", scan, lambda res: (len(res), checks.check_rows(res, expected_scan)), qdir)

        def compact():
            with b.span("sources.api.compact_table"):
                api.compact_table(spark, QUALITY_CAT, root=root, num_regions=self.REGIONS)

        def check_compact(_):
            # compaction is invisible: the whole table reads back as the model
            df = api.read_table(spark, QUALITY_CAT, root=root).select(*QUALITY_COLS)
            rows = [tuple(r) for r in df.collect()]
            return len(rows), checks.check_rows(rows, model.scan(0, self.DOCS))

        op("compact", compact, check_compact, qdir)
        if not warm:
            self.done.append((lo, hi, dups))

    def _starts(self, rng, n: int) -> list:
        slices = self.DOCS // self.SLICE
        order: list = []
        while len(order) < n:
            order += rng.permutation(slices).tolist()
        return [s * self.SLICE for s in order[:n]]

    def warmup(self, root, model, rng):
        lo = self._starts(rng, 1)[0]
        self.job(root, model, lo, rng, size=self.SLICE // 4, warm=True)

    def timed(self, root, model, rng, seconds: float):
        for lo in self._starts(rng, max(1, round(seconds / self.JOB_NOMINAL_S))):
            self.job(root, model, lo, rng)

    def microbench_inputs(self):
        return DOCS_CAT, "doc_id", np.arange(self.DOCS, dtype=np.int64)


WORKLOADS = {"serve": Serve, "pipeline": Pipeline}


# -- per-layer reduction ---------------------------------------------------

def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _microbench(wl, spark) -> dict:
    """Driver-side costs of catalog parsing, rowkey-filter translation
    and rowkey encoding, timed in loops over this workload's own catalog,
    predicates and keys."""
    cat_json, key, keys = wl.microbench_inputs()
    n = 200
    t0 = time.perf_counter()
    for _ in range(n):
        cat = parse_catalog(cat_json)
    parse_s = (time.perf_counter() - t0) / n

    first = cat.rowkey_fields()[0]
    coder = get_coder(first.coder)

    def encode(v):
        return coder.to_bytes(v, first.dt)

    kinds = {"in": lambda v: In((key,), tuple(v)),
             "ge": lambda v: GreaterThanOrEqual((key,), v),
             "le": lambda v: LessThanOrEqual((key,), v)}
    preds = [[kinds[k](v) for k, v in p] for p in wl.predicates] or [[kinds["ge"](0)]]
    reps = max(1, 500 // len(preds))
    t0 = time.perf_counter()
    for _ in range(reps):
        for p in preds:
            for f in p:  # one filter at a time, as ShcReader.pushFilters does
                try:
                    translate_filters([f], first.col_name, encode)
                except Exception:
                    pass  # the reader leaves an untranslatable filter to Spark
    translate_s = (time.perf_counter() - t0) / (reps * len(preds))

    series = [pd.Series(keys)]
    walls = []
    for _ in range(5):
        t0 = time.perf_counter()
        api.encode_rowkey_batch(cat, series)
        walls.append(time.perf_counter() - t0)
    return {
        "catalog.parse_catalog_s": parse_s,
        "filters.translate_filters_s": translate_s,
        "coders.encode_rowkey_batch_rows_per_s": len(keys) / statistics.median(walls),
    }


def layer_metrics(b: Bench, wl, tracer: Tracer, groups: dict, extra: dict) -> tuple:
    """Per-layer metrics of a traced run, and notes on the ones this
    workload does not exercise (reported as 0)."""
    timed = {s[3]: s for s in b.samples}
    n_ops = max(1, len(timed))
    tot: dict = {}
    for oid, g in groups.items():
        if oid in timed:
            for k, v in g.items():
                tot[k] = tot.get(k, 0) + v

    def per_op(cls_set, field):
        xs = [groups[o][field] for o, s in timed.items() if s[0] in cls_set and o in groups]
        return sum(xs) / len(xs) if xs else 0.0

    read_rows = sum(s[2] for s in timed.values() if s[0] in ROW_OPS)
    read_scanned = sum(groups[o]["scan_rows"] for o, s in timed.items()
                       if s[0] in ROW_OPS and o in groups)
    writes = [w for w in b.writes if w[0] != "compact"]
    compacts = [w for w in b.writes if w[0] == "compact"]
    m = dict(extra)
    m.update({
        "sources.api.read_table_construct_s": _median(
            tracer.durations("sources.api.read_table") + tracer.durations("sources.api.bulk_get")),
        "sources.api.bulk_get_exec_s": _median(tracer.durations("sources.api.bulk_get.collect")),
        "sources.api.scan_aggregate_s": _median(tracer.durations("sources.api.scan_aggregate")),
        "sources.api.write_table_s": _median(tracer.durations("sources.api.write_table")),
        "sources.api.delete_rows_s": _median(tracer.durations("sources.api.delete_rows")),
        "sources.api.compact_table_s": _median(tracer.durations("sources.api.compact_table")),
        "shc_source.regions_opened_per_get": per_op(GET_OPS, "leaf_tasks"),
        "shc_source.regions_opened_per_scan": per_op(("scan", "agg", "scan_results"), "leaf_tasks"),
        "shc_source.rows_scanned_per_row_returned": read_scanned / read_rows if read_rows else 0.0,
        "shc_source.generations_live": _median([x[1] for x in b.layout]),
        "shc_source.region_files_live": _median([x[2] for x in b.layout]),
        "shc_source.bytes_written_per_user_byte":
            sum(w[1] for w in writes) / max(1, sum(w[2] for w in writes)) if writes else 0.0,
        "shc_source.bytes_rewritten_per_compact":
            statistics.mean(w[3] for w in compacts) if compacts else 0.0,
        "spark.jobs_per_op": tot.get("jobs", 0) / n_ops,
        "spark.stages_per_op": tot.get("stages", 0) / n_ops,
        "spark.tasks_per_op": tot.get("tasks", 0) / n_ops,
        "scheduler.task_launch_delay_s": tot.get("launch_delay_s", 0) / max(1, tot.get("tasks", 0)),
        "executor.run_s_per_op": tot.get("run_s", 0) / n_ops,
        "executor.cpu_s_per_op": tot.get("cpu_s", 0) / n_ops,
        "executor.gc_s_per_op": tot.get("gc_s", 0) / n_ops,
        "shuffle.bytes_written": tot.get("shuffle_bytes", 0) / n_ops,
        "shuffle.fetch_wait_s": tot.get("fetch_wait_s", 0) / n_ops,
        "spill.bytes": tot.get("spill_bytes", 0) / n_ops,
    })
    for name in ("pyworker.start_s", "pyworker.init_s", "pyworker.run_s",
                 "pyworker.bytes_sent", "pyworker.bytes_returned"):
        m[name] = tot.get(name, 0) / n_ops
    for name in ("operators.text.quality_features", "operators.dedup.minhash_lsh_pairs",
                 "operators.similarity.cosine_topk", "operators.similarity.ivf_topk"):
        m[name + "_s"] = _median(tracer.durations(name))
    notes = [f"{k} = 0: no such work in this run's timed ops" for k, v in m.items()
             if v == 0 and k in PER_LAYER]
    return m, notes


# -- one run ----------------------------------------------------------------

def run(args) -> dict:
    work = os.getcwd()
    traced = bool(args.trace)
    steal0 = steal_s()
    t_setup = time.perf_counter()
    spark = get_spark(f"shcbench-{args.workload}", cpus=CPUS)
    session_s = time.perf_counter() - t_setup

    tracer = Tracer(False)
    b = Bench(spark, tracer, traced)
    wl = WORKLOADS[args.workload](b, args.seed)

    roots, loads, models = [], [], []
    for rep in range(SETUP_REPS):
        root = os.path.join(work, "tables", f"rep{rep}")
        t0 = time.perf_counter()
        models.append(wl.load(root))
        loads.append(time.perf_counter() - t0)
        roots.append(root)
    setup_s = session_s + statistics.median(loads)
    for root in roots[1:-1]:
        shutil.rmtree(root)

    # warm every op class on the first copy; time on the last one
    t0 = time.perf_counter()
    wl.warmup(roots[0], models[0], np.random.default_rng([args.seed, 3]))
    shutil.rmtree(roots[0])
    wl.predicates.clear()
    phases = {"session": session_s, "loads": sum(loads), "warmup": time.perf_counter() - t0}

    tracer.enabled = traced
    b.timing = True
    pid = os.getpid()
    cpu0, steal_t0 = proc_tree_cpu_s(pid), steal_s()
    t0 = time.perf_counter()
    wl.timed(roots[-1], models[-1], np.random.default_rng([args.seed, 4]), args.seconds)
    phases["timed"] = time.perf_counter() - t0
    cpu_timed, steal_timed = proc_tree_cpu_s(pid) - cpu0, steal_s() - steal_t0
    tracer.enabled = False
    b.timing = False

    walls = [s[1] for s in b.samples]
    by_cls: dict = {}
    for cls, dt, _, _ in b.samples:
        by_cls.setdefault(cls, []).append(dt)
    stored = sum(dir_bytes(d) for d in wl.table_dirs(roots[-1]) if os.path.exists(d))
    e2e = {
        "setup_s": setup_s,
        # a median per op class, averaged over the classes: the plain
        # median of a mix of fast and slow classes jumps between them
        "op_p50_s": statistics.mean(map(_median, by_cls.values())) if by_cls else 0.0,
        "ops_per_s": len(walls) / sum(walls) if walls else 0.0,
        "bytes_stored_per_user_byte": stored / wl.user_bytes(models[-1]),
    }
    layers, notes, spans = {}, [], ""
    if traced:
        extra = _microbench(wl, spark)
        extra.update({
            "session.get_spark_s": session_s,
            "setup.load_s": statistics.median(loads),
            "proc.cpu_s_per_op": cpu_timed / max(1, len(walls)),
            "machine.steal_s": steal_timed,
        })
    t0 = time.perf_counter()
    spark.stop()
    _stop_jvm()
    phases["stop"] = time.perf_counter() - t0
    if traced:
        logs = os.listdir(os.path.join(work, "eventlog"))
        groups = reduce_event_log(os.path.join(work, "eventlog", logs[0]))
        layers, notes = layer_metrics(b, wl, tracer, groups, extra)
        spans = tracer.table()
    return {
        "correct": not b.failures,
        "attempted": b.attempted,
        "failed": len(b.failures),
        "failures": b.failures[:20],
        "e2e": e2e,
        "layers": layers,
        "notes": notes,
        "span_table": spans,
        "op_counts": {c: len(v) for c, v in by_cls.items()},
        "op_p50_by_class": {c: statistics.median(v) for c, v in by_cls.items()},
        "steal_s": steal_s() - steal0,
        "session_s": session_s,
        "load_s": loads,
        "phases_s": phases,
        "warmup_ops": b.warm,
    }


def _stop_jvm():
    """Shut the py4j gateway and wait for the JVM to exit, so that no
    process of this run outlives it."""
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    result = run(args)
    with open(args.out, "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main()
