"""The two workloads. Each is a closed loop with one client: the next
operation is issued only after the previous one returned.

A workload provides ``setup(rep)`` (one timed set-up, repeated by the
runner), ``warmup()`` (untimed: one pass over every op class, or the
stream's inputs and directories),
``cycle(idx, traced)`` (one fixed-mix cycle of timed ops; returns the
seconds it timed), ``verify()``
(outside the timed region) and its own per-layer figures.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from collections import Counter

import numpy as np

import datagen
from harness import (OpRecord, count_files, dir_bytes, drain_listener_bus,
                     job_group_counts, mean)
from oracle import Oracle, cube_sql, rows_frame

#: set-up is repeated this many times per run; setup_s is the median
SETUP_REPS = 3


class Workload:
    name = ""
    #: nominal seconds per cycle on a 4-core host; a run measures
    #: round(--seconds / cycle_s) cycles
    cycle_s = 1.0
    #: documents in the generated corpus
    n_docs = 200

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.data_dir = os.path.join(ctx.work_dir, "data")
        self.rng = np.random.default_rng([ctx.seed, 3])
        self.next_op = 0
        self.ops: list[OpRecord] = []

    @property
    def spark(self):
        return self.ctx.session.spark

    def rep_dir(self, rep: int) -> str:
        return os.path.join(self.data_dir, f"rep{rep}")

    def generate(self) -> None:
        """Seeded inputs, one identical copy per set-up repetition: the
        engine memoizes tables and cubes per (session, directory), so each
        repetition reads its own directory and builds from scratch."""
        base = self.rep_dir(0)
        datagen.write_star(base, self.ctx.seed, self.ctx.scale, self.n_docs)
        for rep in range(1, SETUP_REPS):
            shutil.copytree(base, self.rep_dir(rep))

    def setup(self, rep: int) -> None:
        """One set-up in the running session: the sources, then the
        workload's own state. The runner times it; the last repetition's
        state is the one the timed ops use."""
        from data_cube_spark.sources.star import load_tables

        self.sf_dir = self.rep_dir(rep)
        with self.ctx.tracer.span("sources.load"):
            self.tables = load_tables(self.spark, self.sf_dir)
        self.build_state(rep)

    def build_state(self, rep: int) -> None:
        pass


def plan_nodes(df) -> Counter:
    """Node class names of the physical plan an op runs. A cached
    relation's own plan hangs off its scan node rather than under it, so
    the scans, exchanges and joins that built the cache, which do not
    run again, are not counted."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()  # the initial plan, before any stage runs
    names, todo = Counter(), [plan]
    while todo:
        node = todo.pop()
        names[node.getClass().getSimpleName()] += 1
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return names


# ---------------------------------------------------------------------------
# cube_interactive
# ---------------------------------------------------------------------------

#: aggregate grains answered by the registered (d_year, d_month) summary,
#: and grains that read the cached fact
SUMMARY_GRAINS = (("orders.d_year",), ("orders.d_month",), ("orders.d_year", "orders.d_month"))
FACT_GRAINS = (("supplier.r_name",), ("part.p_brand",), ("orders.cr_name", "orders.d_year"))
ROLLUPS = (("supplier.r_name", "supplier.n_name"), ("orders.cr_name", "orders.cn_name"),
           ("orders.cr_name", "orders.c_mktsegment"))
PIVOTS = (("supplier.r_name", "revenue"), ("orders.cr_name", "sum_qty"),
          ("orders.c_mktsegment", "n_lines"))
YEARS = list(range(1995, 2002))
#: one op of each class per cycle, in a seeded order: the mix is fixed, so
#: the pooled median falls inside the same class on every seed
CUBE_CLASSES = ("key_dice", "attr_dice", "agg_summary", "agg_fact", "rollup", "to_array",
                "pivot")
NUM_MEASURES = ("sum_qty", "revenue", "sum_charge")


def _measures_out(F):
    return [*(F.col(m).cast("double").alias(m) for m in NUM_MEASURES), "n_lines"]


class CubeInteractive(Workload):
    """An analyst on a resident cube: the persisted star cube plus one
    registered summary; every op is collected to the driver."""

    name = "cube_interactive"
    cycle_s = 6.5

    def run_op(self, kind: str, build, traced: bool, record: bool = True):
        """``build()`` returns ``(df, run)``: the lazy frame whose plan the
        op executes and the call that executes it. Returns the result of
        ``run()`` (None on failure)."""
        from data_cube_spark import plans

        op_id = self.next_op
        self.next_op += 1
        sc = self.spark.sparkContext
        tr = self.ctx.tracer
        groups = (f"pb-{op_id}-build", f"pb-{op_id}-run")
        rec = OpRecord(op_id, kind, 0.0, traced)
        result = None
        try:
            t0 = time.perf_counter()
            sc.setJobGroup(groups[0], kind)
            with tr.span("model.build", op_id):
                df, run = build()
            if traced:
                with tr.span("plans.plan", op_id):
                    plans.plan_report(df)
                nodes = plan_nodes(df)
                rec.counts.update(
                    exchanges=nodes["ShuffleExchangeExec"],
                    broadcast_joins=(nodes["BroadcastHashJoinExec"]
                                     + nodes["BroadcastNestedLoopJoinExec"]),
                    inmemory_scans=nodes["InMemoryTableScanExec"],
                    scans=sum(n for k, n in nodes.items() if k.endswith("ScanExec")))
            sc.setJobGroup(groups[1], kind)
            with tr.span("export.collect", op_id):
                result = run()
            rec.latency_s = time.perf_counter() - t0
        except Exception:
            rec.ok = False
            rec.latency_s = time.perf_counter() - t0
            traceback.print_exc(file=sys.stderr)
        if traced:
            drain_listener_bus(self.spark)
            rec.counts["build_jobs"] = job_group_counts(self.spark, [groups[0]])["jobs"]
            rec.counts.update(job_group_counts(self.spark, list(groups)))
            rec.counts["rows"] = self.result_rows(result)
        if record:
            self.ops.append(rec)
        return rec, result

    @staticmethod
    def result_rows(result) -> int:
        if result is None:
            return 0
        if isinstance(result, tuple):  # to_array: (array, dimnames)
            return int(result[0].size)
        return len(result)

    def layer_metrics(self) -> dict:
        traced = [o for o in self.ops if o.traced and o.counts]
        ids = {o.op_id for o in self.ops}
        tr = self.ctx.tracer
        inmem = sum(o.counts["inmemory_scans"] for o in traced)
        scans = sum(o.counts["scans"] for o in traced)
        return {
            "model.build_s": mean(tr.durations("model.build", ids)),
            "model.build_jobs_per_op": mean([o.counts["build_jobs"] for o in traced]),
            "plans.plan_s": mean(tr.durations("plans.plan", ids)),
            "plans.exchanges_per_op": mean([o.counts["exchanges"] for o in traced]),
            "plans.broadcast_joins_per_op": mean([o.counts["broadcast_joins"] for o in traced]),
            "plans.inmemory_scan_ratio": inmem / scans if scans else 0.0,
            "export.collect_s": mean(tr.durations("export.collect", ids)),
            "export.rows_per_op": mean([o.counts["rows"] for o in traced]),
        }


    def build_state(self, rep: int) -> None:
        from data_cube_spark.sources.star import tpch_cube

        self.spark.catalog.clearCache()  # the previous repetition's cube
        with self.ctx.tracer.span("setup.cube"):
            dc = tpch_cube(self.spark, self.sf_dir).persist()
            dc.fact.df.count()
            for d in dc.dims.values():
                d.base.count()
            dc.with_summary(["orders.d_year", "orders.d_month"])
        self.dc = dc
        self.checks: list[tuple[OpRecord, tuple, object]] = []

    # op builders: each returns (spec, build) where build() -> (df, run)
    def _op(self, kind: str):
        from pyspark.sql import functions as F

        from data_cube_spark import C, Collapse
        from data_cube_spark.export import denormalize, pivot_format, to_array
        from data_cube_spark.groupingsets import rollup_cube

        dc, rng = self.dc, self.rng
        if kind == "key_dice":
            keys = sorted(int(k) for k in rng.choice(self.n_supp, 5, replace=False))
            spec = ("key_dice", keys)

            def build():
                df = dc.q(supplier=C(*keys), part=Collapse(), orders=Collapse()).fact.df
                return df, df.collect
        elif kind == "attr_dice":
            region = str(rng.choice(datagen.REGIONS))
            seg = str(rng.choice(datagen.SEGMENTS))
            spec = ("attr_dice", region, seg)

            def build():
                df = dc.q(supplier=C(r_name=[region]), orders=Collapse(c_mktsegment=[seg]),
                          part=Collapse()).fact.df
                return df, df.collect
        elif kind in ("agg_summary", "agg_fact"):
            grain = self._variant(kind, SUMMARY_GRAINS if kind == "agg_summary" else FACT_GRAINS)
            spec = ("aggregate", grain)

            def build():
                df = dc.aggregate(list(grain))
                return df, df.collect
        elif kind == "rollup":
            attrs = self._variant(kind, ROLLUPS)
            spec = ("rollup", attrs)

            def build():
                rc = rollup_cube(dc, list(attrs))
                names = [a.split(".")[-1] for a in attrs]
                df = denormalize(rc).select(
                    *names, *_measures_out(F),
                    F.col("grouping_level").cast("int").alias("grouping_level"))
                return df, df.collect
        elif kind == "to_array":
            region = str(rng.choice(datagen.REGIONS))
            spec = ("to_array", region)

            def build():
                sub = dc.q(supplier=C(r_name=[region]), part=Collapse(), orders=Collapse())
                return sub.fact.df, lambda: to_array(sub, "revenue")
        else:
            attr, measure = self._variant(kind, PIVOTS)
            spec = ("pivot", attr, measure)

            def build():
                row = attr.split(".")[-1]
                agg = dc.aggregate([attr, "orders.d_year"])
                df = pivot_format(agg, [row], "d_year", YEARS, measure=measure)
                return df, df.collect
        return spec, build

    def _variant(self, kind: str, variants: tuple):
        """Cycle through a class's variants in a seeded order, so any three
        consecutive cycles use each of three variants once."""
        order = self.variant_order.setdefault(
            kind, [int(i) for i in self.rng.permutation(len(variants))])
        return variants[order[self.cycle_no % len(variants)]]

    def _run_cycle(self, traced: bool, record: bool = True) -> None:
        for k in self.rng.permutation(len(CUBE_CLASSES)):
            kind = CUBE_CLASSES[int(k)]
            spec, build = self._op(kind)
            rec, result = self.run_op(kind, build, traced, record)
            self.checks.append((rec, spec, result))
        self.cycle_no += 1

    def warmup(self) -> None:
        self.n_supp = self.tables["supplier"].count()
        self.variant_order: dict[str, list[int]] = {}
        self.cycle_no = 0
        self._run_cycle(traced=False, record=False)

    def cycle(self, idx: int, traced: bool) -> float:
        t0 = time.perf_counter()
        self._run_cycle(traced)
        return time.perf_counter() - t0

    def attempted(self) -> int:
        return len(self.checks)  # the warm-up cycle's ops are checked too

    def verify(self) -> int:
        oracle = Oracle(self.sf_dir)
        bad = 0
        for rec, spec, result in self.checks:
            err = "op failed" if not rec.ok else self._check(oracle, spec, result)
            if err:
                rec.ok = False
                bad += 1
                print(f"check failed: {spec}: {err}", file=sys.stderr)
        return bad

    @staticmethod
    def _check(oracle: Oracle, spec: tuple, result) -> str | None:
        import pandas as pd

        kind = spec[0]
        if kind == "key_dice":
            return oracle.check(rows_frame(result), cube_sql(
                ["s_suppkey"], f"l_suppkey IN ({', '.join(map(str, spec[1]))})"))
        if kind == "attr_dice":
            return oracle.check(rows_frame(result), cube_sql(
                ["s_suppkey"], f"sr.r_name = '{spec[1]}' AND c.c_mktsegment = '{spec[2]}'"))
        if kind == "aggregate":
            return oracle.check(rows_frame(result), cube_sql([a.split(".")[-1] for a in spec[1]]))
        if kind == "rollup":
            return oracle.check(rows_frame(result), cube_sql(
                [a.split(".")[-1] for a in spec[1]], rollup=True))
        if kind == "to_array":
            arr, dimnames = result
            got = pd.DataFrame({"s_suppkey": dimnames["supplier"], "revenue": arr})
            return oracle.check(got, f"""
                SELECT s.s_suppkey,
                       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                            * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
                FROM supplier s JOIN nation sn ON s.s_nationkey = sn.n_nationkey
                JOIN region sr ON sn.n_regionkey = sr.r_regionkey
                LEFT JOIN lineitem ON l_suppkey = s.s_suppkey
                WHERE sr.r_name = '{spec[1]}' GROUP BY 1""")
        # pivot: long form from the oracle, widened over the fixed years
        row, measure = spec[1].split(".")[-1], spec[2]
        long = oracle.frame(cube_sql([row, "d_year"]))
        want = (long.pivot(index=row, columns="d_year", values=measure)
                .reindex(columns=YEARS).rename(columns=str).reset_index())
        got = rows_frame(result)
        for c in got.columns[1:]:
            got[c] = got[c].astype(float)
        want[[str(y) for y in YEARS]] = want[[str(y) for y in YEARS]].astype(float)
        return oracle.compare(got, want)

    def stored_mb(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / (1024.0 * 1024.0)



# ---------------------------------------------------------------------------
# dedup_stream
# ---------------------------------------------------------------------------

#: every round starts the stream afresh and ends with the compaction
#: sweep. Its first epochs are warm-up, not samples: the first epoch after
#: a start pays for starting the query, and the next one still ran 5-15%
#: slower than later ones. The sweep counts in ops_per_s; an untraced
#: run's only sweep is its first, so it runs cold on every run alike
WARMUP_EPOCHS = 2
EPOCHS_PER_ROUND = 5
DEDUP_THRESHOLD = 0.5
INDEX_BUCKETS = 8
#: a round takes about 35 s; a stuck stream must not outlive the run
STREAM_TIMEOUT_S = 150


class DedupStream(Workload):
    """Continuous corpus ingest: seeded batch files stream through the
    dual-index (fingerprint + MinHash) ingest, one file per epoch; each
    round of epochs is followed by the compaction sweep."""

    name = "dedup_stream"
    cycle_s = 35.0
    n_docs = 1000

    def build_state(self, rep: int) -> None:
        from data_cube_spark.operators import dedup

        docs = self.tables["documents"].select("doc_id", "text")
        self.tag = f"pb{rep}"
        self.idx_dir = os.path.join(self.ctx.work_dir, f"index{rep}")
        shutil.rmtree(self.idx_dir, ignore_errors=True)
        with self.ctx.tracer.span("setup.index_build"):
            dedup.write_fingerprint_index(docs, f"{self.tag}_f", n_buckets=INDEX_BUCKETS,
                                          path=os.path.join(self.idx_dir, "fp"))
            dedup.write_minhash_index(docs, f"{self.tag}_m", n_buckets=INDEX_BUCKETS,
                                      path=os.path.join(self.idx_dir, "mh"))
        self.docs_schema = docs.schema

    def warmup(self) -> None:
        # only the last set-up's indexes are live; drop the others' files
        for rep in range(SETUP_REPS - 1):
            shutil.rmtree(os.path.join(self.ctx.work_dir, f"index{rep}"), ignore_errors=True)
        corpus = [r.text for r in self.tables["documents"].orderBy("doc_id").collect()]
        self.gen = datagen.BatchGenerator(corpus, self.ctx.seed)
        stream_dir = os.path.join(self.ctx.work_dir, "stream")
        shutil.rmtree(stream_dir, ignore_errors=True)
        self.src = os.path.join(stream_dir, "src")
        self.ckpt = os.path.join(stream_dir, "checkpoint")
        self.target = os.path.join(stream_dir, "target")
        os.makedirs(self.src)
        self.mtime_ns = time.time_ns()
        self.progress: list[dict] = []
        self.compactions: list[dict] = []
        self.batch_ids: list[list[int]] = []
        self.op_batch: list[int] = []  # batch index of each timed epoch
        self.failed_batches: set[int] = set()

    def cycle(self, idx: int, traced: bool) -> float:
        """One round, one stream run: ``WARMUP_EPOCHS`` warm-up epochs, then
        ``EPOCHS_PER_ROUND`` timed epochs, one batch file each; then the
        compaction sweep. Returns the timed seconds: the timed epochs and
        the sweep."""
        from data_cube_spark.operators.index_maintenance import compact_all
        from data_cube_spark.streaming.cube_stream import streaming_dual_index_ingest

        first = len(self.batch_ids)
        epochs = WARMUP_EPOCHS + EPOCHS_PER_ROUND
        for _ in range(epochs):
            self.mtime_ns += 10_000_000
            self.batch_ids.append(self.gen.write_batch(self.src, self.mtime_ns))
        tr, sc = self.ctx.tracer, self.spark.sparkContext
        ok, progress, run_id, compact_s = True, [], None, 0.0
        try:
            with tr.span("streaming.round"):
                q = streaming_dual_index_ingest(
                    self.spark, self.src, self.docs_schema, self.ckpt, self.target,
                    f"{self.tag}_f", f"{self.tag}_m", threshold=DEDUP_THRESHOLD,
                    max_files_per_trigger=1).start()
                run_id = str(q.runId)
                if not q.awaitTermination(STREAM_TIMEOUT_S):
                    q.stop()
                    raise TimeoutError(f"stream round did not finish in {STREAM_TIMEOUT_S} s")
            progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
            files = count_files(self.idx_dir)
            sc.setJobGroup(f"pb-compact-{first}", "compact_all")
            t0 = time.perf_counter()
            with tr.span("index_maintenance.compact"):
                res = compact_all(self.spark, prefix=f"{self.tag}_")
            compact_s = time.perf_counter() - t0
            self.compactions.append({"seconds": compact_s, "files": files,
                                     "removed": sum(res["removed"].values())})
        except Exception:
            ok = False
            traceback.print_exc(file=sys.stderr)
        if len(progress) != epochs:
            ok = False
        if not ok:
            self.failed_batches.update(range(first, first + epochs))
        timed = progress[WARMUP_EPOCHS:]
        self.progress.extend(timed)
        counts = {}
        if traced and run_id is not None:
            drain_listener_bus(self.spark)
            total = job_group_counts(self.spark, [run_id])
            counts = {k: v / epochs for k, v in total.items()}
        for i in range(WARMUP_EPOCHS, epochs):
            lat = (progress[i]["durationMs"]["triggerExecution"] / 1000.0
                   if i < len(progress) else 0.0)
            self.ops.append(OpRecord(self.next_op, "epoch", lat, traced, ok, dict(counts)))
            self.op_batch.append(first + i)
            self.next_op += 1
        return sum(p["durationMs"]["triggerExecution"] for p in timed) / 1000.0 + compact_s

    def attempted(self) -> int:
        return len(self.batch_ids)  # every epoch, the warm-up epochs too

    def verify(self) -> int:
        """Every planted exact clone suppressed and every fresh doc kept;
        survivors unique and drawn from the input; compacted indexes free
        of duplicate rows.
        Returns the number of epochs whose batch broke a check."""
        spark = self.spark
        survivors = [r.doc_id for r in spark.read.parquet(self.target).select("doc_id").collect()]
        kept = set(survivors)
        labels = self.gen.labels
        self.outcome = {k: [0, 0] for k in (datagen.FRESH, datagen.CORPUS_CLONE,
                                            datagen.NEAR_DUP, datagen.BATCH_CLONE)}
        for b, ids in enumerate(self.batch_ids):
            for doc_id in ids:
                kind = labels[doc_id][0]
                suppressed = doc_id not in kept
                self.outcome[kind][0] += 1
                self.outcome[kind][1] += suppressed
                if kind in (datagen.CORPUS_CLONE, datagen.BATCH_CLONE) and not suppressed:
                    self.failed_batches.add(b)
                    print(f"check failed: exact clone {doc_id} kept", file=sys.stderr)
                # fresh docs share almost no shingles with anything ingested
                # before them, so a correct ingest keeps every one
                if kind == datagen.FRESH and suppressed:
                    self.failed_batches.add(b)
                    print(f"check failed: fresh doc {doc_id} suppressed", file=sys.stderr)
        global_errors = []
        if len(survivors) != len(kept):
            global_errors.append("duplicate survivor ids")
        if not kept <= set(labels):
            global_errors.append("survivors not drawn from the input")
        for t in (f"{self.tag}_f_fp", f"{self.tag}_m_sig", f"{self.tag}_m_bands"):
            tbl = spark.table(t)
            if tbl.count() != tbl.dropDuplicates().count():
                global_errors.append(f"duplicate rows in {t} after compaction")
        for e in global_errors:
            print(f"check failed: {e}", file=sys.stderr)
        if global_errors:
            self.failed_batches.update(range(len(self.batch_ids)))
        for op, b in zip(self.ops, self.op_batch):
            op.ok = op.ok and b not in self.failed_batches
        return len(self.failed_batches)

    def stored_mb(self) -> float:
        return (dir_bytes(self.idx_dir) + dir_bytes(self.target)) / (1024.0 * 1024.0)

    def layer_metrics(self) -> dict:
        def dur(key):
            return mean([sum(p["durationMs"].get(k, 0) for k in key) / 1000.0
                         for p in self.progress])

        def ratio(kind, suppressed=True):
            n, s = self.outcome[kind]
            return (s if suppressed else n - s) / n if n else 0.0

        exact_n = self.outcome[datagen.CORPUS_CLONE][0] + self.outcome[datagen.BATCH_CLONE][0]
        exact_s = self.outcome[datagen.CORPUS_CLONE][1] + self.outcome[datagen.BATCH_CLONE][1]
        return {
            "streaming.trigger_s": dur(("triggerExecution",)),
            "streaming.add_batch_s": dur(("addBatch",)),
            "streaming.planning_s": dur(("queryPlanning",)),
            "streaming.commit_s": dur(("walCommit", "commitOffsets")),
            "streaming.source_s": dur(("latestOffset", "getBatch")),
            "sources.index_files": mean([c["files"] for c in self.compactions]),
            "index_maintenance.compact_s": mean([c["seconds"] for c in self.compactions]),
            "index_maintenance.rows_removed": mean([c["removed"] for c in self.compactions]),
            "dedup.exact_recall": exact_s / exact_n if exact_n else 0.0,
            "dedup.near_recall": ratio(datagen.NEAR_DUP),
            "dedup.fresh_kept_ratio": ratio(datagen.FRESH, suppressed=False),
        }


WORKLOADS = {w.name: w for w in (CubeInteractive, DedupStream)}
