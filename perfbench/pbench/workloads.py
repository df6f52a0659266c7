"""The four workloads.

Each workload is driven by one closed-loop client: a single thread
issues an op only after the previous one returned. A workload
exposes

- ``setup(ctx)``: plant fixtures on the freshly written inputs (timed as
  part of ``setup_s``);
- ``run_pass(ctx) -> ops``: one timed pass;
- ``check_pass(ctx)``: correctness of that pass, outside the timed window.

Wrong results are appended to ``ctx.failures``; the runner turns them
into ``failed`` and a non-zero exit.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
from dataclasses import dataclass, field

import numpy as np

from pbench import oracle
from pbench.counters import StreamProgress
from pbench.trace import Tracer

#: ``bench.py``'s 20-query headline set, copied so that an edit there
#: cannot change this workload.
HEADLINE = (
    "persona_segmentation",
    "fingerprint_probe_map",
    "new_fingerprint_insert",
    "merge_full_sync",
    "update_fact_sentinel",
    "window_dedup_latest",
    "topk_per_group",
    "multi_grain_spend_ratio",
    "pricing_summary_window",
    "industry_spend_share",
    "dedup_minhash_lsh",
    "dedup_exact",
    "ann_bruteforce_topk",
    "text_quality_score",
    "sessionize_events",
    "rollup_spend_nation_month",
    "asof_join_last_purchase",
    "ann_lsh_topk",
    "corpus_prep_e2e",
    "json_props_extract",
)

PIPELINE_STAGES = (
    "s0_domain",
    "s1_fingerprint_map",
    "s2_patron_dims",
    "s3_restaurant_map",
    "s4_billing_groups",
    "s5_bi_reporting",
    "s6_publish_deltalog",
)

DML_WRITES = (
    "publish_incremental",
    "merge_cow_month",
    "merge_dim_churn",
    "merge_keyed_fact",
    "apply_changes_dim",
    "dv_delete",
    "optimize_compact",
)
#: pass order: 7 writes interleaved with 4 reads
DML_ORDER = (
    "publish_incremental", "snapshot_read", "merge_cow_month",
    "merge_dim_churn", "time_travel_read", "merge_keyed_fact",
    "apply_changes_dim", "cdc_range_read", "dv_delete",
    "optimize_compact", "ann_index_probe",
)

#: the stream-stream inner join: the lightest of the three stateful
#: stream paths of the sweep (2 micro-batches), so that a run fits the
#: benchmark's time budget
STREAMS = ("stream_stream_join",)


@dataclass
class Ctx:
    spark: object
    sf_dir: str
    work_dir: str
    rng: np.random.Generator
    tracer: Tracer
    failures: list[str] = field(default_factory=list)

    def fail(self, msg: str) -> None:
        self.failures.append(msg)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class AnalyticsHeadline:
    """The headline queries in a seed-permuted order each pass. Each
    query's result is collected into Python through Arrow
    (``toPandas``), which runs the whole plan including the final
    projection, and is hashed against its DuckDB oracle after the pass."""

    name = "analytics_headline"

    def __init__(self):
        self._want = None
        self._out = {}

    def setup(self, ctx: Ctx) -> None:
        pass

    def run_pass(self, ctx: Ctx) -> int:
        from etl_loading_scripts_spark.queries import REGISTRY

        tr = ctx.tracer
        for i in ctx.rng.permutation(len(HEADLINE)):
            name = HEADLINE[i]
            with tr.span(name, work_prefix="exec"):
                with tr.span(f"{name}.build", time_metric="queries.build_s",
                             jobs_metric="queries.build_jobs"):
                    df = REGISTRY[name].spark(ctx.spark, ctx.sf_dir)
                if tr.enabled:
                    with tr.span(f"{name}.plan", time_metric="plan.plan_s"):
                        df._jdf.queryExecution().executedPlan()
                with tr.span(f"{name}.action", time_metric="exec.action_s"):
                    self._out[name] = df.toPandas()
        return len(HEADLINE)

    def check_pass(self, ctx: Ctx) -> None:
        from etl_loading_scripts_spark.queries import REGISTRY

        if self._want is None:
            con = oracle.connect(ctx.sf_dir)
            self._want = {q: oracle.oracle_canon(con, REGISTRY[q].oracle) for q in HEADLINE}
            con.close()
        for name, pdf in self._out.items():
            got = oracle.canon(pdf)
            if got != self._want[name]:
                ctx.fail(f"{name}: spark {got} != oracle {self._want[name]}")
        self._out = {}


class MonthlyLoad:
    name = "monthly_load"

    def __init__(self):
        self._want = None
        self._metrics = None
        self._pass = 0
        self._last = None

    def setup(self, ctx: Ctx) -> None:
        pass

    def run_pass(self, ctx: Ctx) -> int:
        from etl_loading_scripts_spark.pipeline.domain import build_domain
        from etl_loading_scripts_spark.pipeline.monthly_load import full_window
        from etl_loading_scripts_spark.pipeline.staged import run_monthly_load_staged

        tr = ctx.tracer
        self._pass += 1
        stage_dir = os.path.join(ctx.work_dir, f"monthly_{self._pass}")
        with tr.span("build_domain", work_prefix="exec"):
            dom = build_domain(ctx.spark, ctx.sf_dir)
            window = full_window(dom)

        snapshot = None
        if tr.enabled:
            def snapshot():
                w = tr.work()
                return {"jobs": w.jobs, "shuffle_write_bytes": w.shuffle_write_bytes}

        with tr.span("run_monthly_load_staged", work_prefix="exec"):
            out, metrics, report = run_monthly_load_staged(
                ctx.spark, dom, window, stage_dir, snapshot=snapshot
            )
        for rec in report:
            st = rec["stage"]
            tr.add(f"pipeline.{st}.wall_s", rec["wall_sec"])
            delta = rec.get("shuffle_delta", {})
            tr.add(f"pipeline.{st}.jobs", delta.get("jobs", 0))
            tr.add(f"pipeline.{st}.shuffle_write_bytes",
                   delta.get("shuffle_write_bytes", 0))
        if tr.enabled:
            # what the publish committed to the Delta logs of the fresh
            # stage dir: one bootstrap commit per table plus the set commit
            tables = _delta_tables(os.path.join(stage_dir, "publish"))
            for table in tables:
                added, _, nbytes = _actions(table, -1)
                tr.add("deltalog.publish.files_added", added)
                tr.add("deltalog.publish.bytes_written", nbytes)
            tr.add("deltalog.log_versions", sum(len(_commits(t)) for t in tables))
        self._last = (out, metrics, stage_dir)
        return 2

    def check_pass(self, ctx: Ctx) -> None:
        """The month rollup matches the ``monthly_load_e2e`` oracle and
        the validation metrics repeat exactly on every pass."""
        from etl_loading_scripts_spark.queries import REGISTRY
        from etl_loading_scripts_spark.queries.pipeline_e2e import _fact_month_rollup

        if self._want is None:
            con = oracle.connect(ctx.sf_dir)
            self._want = oracle.oracle_canon(con, REGISTRY["monthly_load_e2e"].oracle)
            con.close()
        out, metrics, stage_dir = self._last
        got = oracle.canon(_fact_month_rollup(out.fact_transaction))
        if got != self._want:
            ctx.fail(f"monthly_load pass {self._pass}: rollup {got} != oracle {self._want}")
        if self._metrics is None:
            self._metrics = metrics
        elif metrics != self._metrics:
            ctx.fail(f"monthly_load pass {self._pass}: metrics {metrics} != {self._metrics}")
        self._last = None
        shutil.rmtree(stage_dir, ignore_errors=True)


def _delta_tables(root: str) -> list[str]:
    """Every directory under ``root`` that holds a ``_delta_log``."""
    return sorted(os.path.dirname(p) for p in
                  glob.glob(os.path.join(root, "**", "_delta_log"), recursive=True))


def _commits(table: str) -> list[int]:
    return sorted(
        int(os.path.basename(p)[:-5])
        for p in glob.glob(os.path.join(table, "_delta_log", "*.json"))
    )


def _actions(table: str, after: int) -> tuple[int, int, int]:
    """(files added, files removed, bytes added) over the commits of
    ``table`` newer than version ``after``."""
    added = removed = nbytes = 0
    for v in _commits(table):
        if v <= after:
            continue
        with open(os.path.join(table, "_delta_log", f"{v:020d}.json")) as fh:
            for line in fh:
                action = json.loads(line)
                if "add" in action:
                    added += 1
                    nbytes += action["add"].get("size", 0)
                elif "remove" in action:
                    removed += 1
    return added, removed, nbytes


class LakehouseDml:
    """Delta DML mix over fixtures planted in setup. Every write's
    outcome is tracked as a function of the ops applied so far, and its
    read-back row count and exact decimal sum are checked against DuckDB
    after the pass."""

    name = "lakehouse_dml"
    SLICES = 32

    @staticmethod
    def extra_layer() -> list[tuple[str, str]]:
        """Per-op metrics of this workload, reported on top of
        :func:`per_layer_names` (no workload of ``BENCHMARK.json`` runs
        these ops)."""
        out = []
        for op in DML_ORDER:
            out += [(f"deltalog.{op}.wall_s", "s"), (f"deltalog.{op}.jobs", "count")]
            if op in DML_WRITES:
                out += [(f"deltalog.{op}.bytes_written", "bytes"),
                        (f"deltalog.{op}.files_added", "count"),
                        (f"deltalog.{op}.files_removed", "count")]
        return out + [("health.persistent_rdds", "count")]

    def setup(self, ctx: Ctx) -> None:
        from pyspark.sql import functions as F

        from etl_loading_scripts_spark.catalog import load_table
        from etl_loading_scripts_spark.llm import annindex as ai
        from etl_loading_scripts_spark.llm.similarity import N_QUERIES, _quantized
        from etl_loading_scripts_spark.operators import deltalog as dl
        from etl_loading_scripts_spark.operators.cow import _with_month

        spark = ctx.spark
        root = os.path.join(ctx.work_dir, "lakehouse")
        shutil.rmtree(root, ignore_errors=True)
        self.fact = load_table(spark, ctx.sf_dir, "orders").select(
            F.col("o_orderkey").alias("txn_id"),
            F.date_format("o_orderdate", "yyyyMMdd").cast("int").alias("datekey"),
            F.col("o_totalprice").cast("decimal(18,4)").alias("amount"),
        )
        self.dim = load_table(spark, ctx.sf_dir, "customer").select(
            F.col("c_custkey").alias("k"),
            F.col("c_name").alias("nm"),
            F.col("c_acctbal").cast("decimal(18,4)").alias("bal"),
        ).repartitionByRange(16, "k")
        con = oracle.connect(ctx.sf_dir)
        self.months = [r[0] for r in con.execute(
            "SELECT DISTINCT CAST(strftime(o_orderdate, '%Y%m') AS INT) FROM orders ORDER BY 1"
        ).fetchall()]
        max_key = con.execute("SELECT MAX(o_orderkey) FROM orders").fetchone()[0]
        con.close()
        self.slice_w = -(-(max_key + 1) // self.SLICES)
        self.t = {
            "cow": os.path.join(root, "fact_cow"),
            "wh": os.path.join(root, "wh"),
            "dim": os.path.join(root, "dim"),
            "cdc": os.path.join(root, "fact_cdc"),
            "keyed": os.path.join(root, "fact_keyed"),
            "dv": os.path.join(root, "fact_dv"),
            "apply": os.path.join(root, "dim_apply"),
            "idx": os.path.join(root, "annidx"),
        }
        t = self.t
        fact_m = _with_month(self.fact, "datekey")
        dl.write_delta_table(fact_m, t["cow"], partition_by=["month"])
        self.inc_spec = {"on": ["txn_id"], "datekey_col": "datekey",
                         "window": None, "delete_unmatched_source": True}
        dl.publish_set_deltalog([("fact", self.fact)], t["wh"],
                                incremental={"fact": self.inc_spec})
        dl.write_delta_table(self.dim, t["dim"])
        dl.write_delta_table(fact_m, t["cdc"], partition_by=["month"])
        win = self._window(self.months[1])
        for i in range(1, 4):  # a 3-commit CDC range to net
            dl.merge_cow_deltalog_with_retry(
                spark, t["cdc"],
                self.fact.filter(F.col("datekey").between(*win)).withColumn(
                    "amount", (F.col("amount") + i).cast("decimal(18,4)")),
                ["txn_id"],
            )
        # key-clustered within month partitions: the layout a key-pruned
        # merge needs
        dl.write_delta_table(fact_m.repartitionByRange(8, "txn_id"), t["keyed"],
                             partition_by=["month"])
        dl.write_delta_table(self.fact.repartition(8), t["dv"])
        dl.write_delta_table(self.dim, t["apply"])
        emb = load_table(spark, ctx.sf_dir, "embeddings")
        ai.ann_index_build(spark, emb, t["idx"])
        self.probe_q = _quantized(emb).select("vec_id", "qv", "norm2").filter(
            F.col("vec_id") < N_QUERIES)
        # tracked state: what each write table must hold
        self.month_off = {"cow": {}, "wh": {}}
        self.dim_slice = None
        self.keyed_off: dict[int, int] = {}
        self.apply_off: dict[int, int] = {}
        self.apply_seq = 0
        self.dv_deleted: list[int] = []
        self.dv_order = [int(x) for x in ctx.rng.permutation(1000)]
        self.versions = {p: (_commits(p) or [-1])[-1]
                         for p in (*t.values(), os.path.join(t["wh"], "fact"))}

    @staticmethod
    def _window(month: int) -> tuple[int, int]:
        return month * 100 + 1, month * 100 + 31

    # --- ops ---------------------------------------------------------
    def _op(self, ctx: Ctx, name: str, fn, table: str | None = None) -> None:
        tr = ctx.tracer
        with tr.span(f"deltalog.{name}", time_metric=f"deltalog.{name}.wall_s",
                     jobs_metric=f"deltalog.{name}.jobs", work_prefix="exec"):
            fn()
        if table is not None and tr.enabled:
            path = self.t[table] if table != "wh" else os.path.join(self.t["wh"], "fact")
            added, removed, nbytes = _actions(path, self.versions[path])
            self.versions[path] = (_commits(path) or [-1])[-1]
            tr.add(f"deltalog.{name}.files_added", added)
            tr.add(f"deltalog.{name}.files_removed", removed)
            tr.add(f"deltalog.{name}.bytes_written", nbytes)

    def run_pass(self, ctx: Ctx) -> int:
        from pyspark.sql import functions as F

        from etl_loading_scripts_spark.llm import annindex as ai
        from etl_loading_scripts_spark.operators import deltalog as dl
        from etl_loading_scripts_spark.operators.cow import _with_month

        spark, t, rng, fact, dim = ctx.spark, self.t, ctx.rng, self.fact, self.dim
        m_pub, m_cow = (int(x) for x in rng.choice(self.months, 2))
        off_pub, off_cow = (int(x) for x in rng.integers(1, 100, 2))
        dim_slice = int(rng.integers(0, 100))
        k_slice, k_off = int(rng.integers(0, self.SLICES)), int(rng.integers(1, 100))
        a_slice, a_off = int(rng.integers(0, 100)), int(rng.integers(1, 100))
        dv_res = self.dv_order[len(self.dv_deleted)]

        def publish_incremental():
            win = self._window(m_pub)
            dl.publish_set_deltalog(
                [("fact", fact.withColumn(
                    "amount",
                    F.when(F.col("datekey").between(*win), F.col("amount") + off_pub)
                    .otherwise(F.col("amount")).cast("decimal(18,4)")))],
                t["wh"], incremental={"fact": {**self.inc_spec, "window": win}},
            )
            self.month_off["wh"][m_pub] = off_pub

        def merge_cow_month():
            win = self._window(m_cow)
            dl.merge_cow_deltalog_with_retry(
                spark, t["cow"],
                fact.filter(F.col("datekey").between(*win)).withColumn(
                    "amount", (F.col("amount") + off_cow).cast("decimal(18,4)")),
                ["txn_id"], delete_unmatched_source=True,
            )
            self.month_off["cow"][m_cow] = off_cow

        def merge_dim_churn():
            dl.merge_dim_deltalog_with_retry(
                spark, t["dim"],
                dim.withColumn(
                    "bal", F.when(F.col("k") % 100 == dim_slice, F.col("bal") + 1)
                    .otherwise(F.col("bal")).cast("decimal(18,4)")),
                ["k"], delete_unmatched_source=True,
            )
            self.dim_slice = dim_slice

        def merge_keyed_fact():
            lo = k_slice * self.slice_w
            dl.merge_dim_deltalog_with_retry(
                spark, t["keyed"],
                _with_month(fact.filter(F.col("txn_id").between(lo, lo + self.slice_w - 1)),
                            "datekey").withColumn(
                    "amount", (F.col("amount") + k_off).cast("decimal(18,4)")),
                ["txn_id"],
            )
            self.keyed_off[k_slice] = k_off

        def apply_changes_dim():
            self.apply_seq += 1
            feed = dim.filter(F.col("k") % 100 == a_slice).select(
                F.lit("update_postimage").alias("_change_type"), "k", "nm",
                (F.col("bal") + a_off).cast("decimal(18,4)").alias("bal"),
                F.lit(self.apply_seq).cast("long").alias("_commit_version"),
            )
            dl.apply_changes_deltalog(spark, t["apply"], feed, ["k"],
                                      sequence_col="_commit_version")
            self.apply_off[a_slice] = a_off

        def dv_delete():
            dl.delete_delta(spark, t["dv"], f"txn_id % 1000 = {dv_res}",
                            deletion_vectors=True)
            self.dv_deleted.append(dv_res)

        def optimize_compact():
            dl.optimize_delta(spark, t["dv"], include_dv_files=True)

        reads = {
            "snapshot_read": lambda: _noop(dl.read_delta_table(spark, t["keyed"])),
            "time_travel_read": lambda: _noop(dl.read_delta_table(spark, t["cow"], version=0)),
            "cdc_range_read": lambda: _noop(dl.delta_table_changes(
                spark, t["cdc"], 0, 3, on=["month", "txn_id"])),
            "ann_index_probe": lambda: _noop(ai.ann_index_probe(
                spark, self.probe_q, t["idx"], nprobe=2)),
        }
        writes = {
            "publish_incremental": (publish_incremental, "wh"),
            "merge_cow_month": (merge_cow_month, "cow"),
            "merge_dim_churn": (merge_dim_churn, "dim"),
            "merge_keyed_fact": (merge_keyed_fact, "keyed"),
            "apply_changes_dim": (apply_changes_dim, "apply"),
            "dv_delete": (dv_delete, "dv"),
            "optimize_compact": (optimize_compact, "dv"),
        }
        for name in DML_ORDER:
            if name in writes:
                fn, table = writes[name]
                self._op(ctx, name, fn, table)
            else:
                self._op(ctx, name, reads[name])
        if ctx.tracer.enabled:
            ctx.tracer.add("deltalog.log_versions", sum(
                len(_commits(p)) for p in
                [*(v for k, v in t.items() if k not in ("wh", "idx")),
                 os.path.join(t["wh"], "fact")]))
        return len(DML_ORDER)

    # --- correctness -------------------------------------------------
    def check_pass(self, ctx: Ctx) -> None:
        from pyspark.sql import functions as F

        from etl_loading_scripts_spark.operators import deltalog as dl

        fact_sql = ("SELECT o_orderkey AS txn_id, "
                    "CAST(strftime(o_orderdate, '%Y%m%d') AS INT) AS datekey, "
                    "CAST(o_totalprice AS DECIMAL(18,4)) AS amount FROM orders")
        dim_sql = ("SELECT c_custkey AS k, CAST(c_acctbal AS DECIMAL(18,4)) AS bal "
                   "FROM customer")

        def case(expr: str, offsets: dict[int, int]) -> str:
            if not offsets:
                return "0"
            whens = " ".join(f"WHEN {k} THEN {v}" for k, v in sorted(offsets.items()))
            return f"CASE {expr} {whens} ELSE 0 END"

        dv_filter = (f"WHERE txn_id % 1000 NOT IN ({', '.join(map(str, self.dv_deleted))})"
                     if self.dv_deleted else "")
        expect = {
            "wh": f"SELECT COUNT(*), SUM(amount + {case('datekey // 100', self.month_off['wh'])}) FROM ({fact_sql})",
            "cow": f"SELECT COUNT(*), SUM(amount + {case('datekey // 100', self.month_off['cow'])}) FROM ({fact_sql})",
            "dim": (f"SELECT COUNT(*), SUM(bal + CASE WHEN k % 100 = {self.dim_slice} "
                    f"THEN 1 ELSE 0 END) FROM ({dim_sql})"),
            "keyed": (f"SELECT COUNT(*), SUM(amount + "
                      f"{case(f'txn_id // {self.slice_w}', self.keyed_off)}) FROM ({fact_sql})"),
            "apply": f"SELECT COUNT(*), SUM(bal + {case('k % 100', self.apply_off)}) FROM ({dim_sql})",
            "dv": f"SELECT COUNT(*), SUM(amount) FROM ({fact_sql}) {dv_filter}",
        }
        con = oracle.connect(ctx.sf_dir)
        for table, sql in expect.items():
            want = tuple(con.execute(sql).fetchone())
            path = os.path.join(self.t["wh"], "fact") if table == "wh" else self.t[table]
            col = "bal" if table in ("dim", "apply") else "amount"
            row = dl.read_delta_table(ctx.spark, path).agg(
                F.count(F.lit(1)), F.sum(col)).collect()[0]
            got = (row[0], row[1])
            if got != want:
                ctx.fail(f"lakehouse_dml {table}: read back {got} != duckdb {want}")
        base = tuple(con.execute(f"SELECT COUNT(*), SUM(amount) FROM ({fact_sql})").fetchone())
        row = dl.read_delta_table(ctx.spark, self.t["cow"], version=0).agg(
            F.count(F.lit(1)), F.sum("amount")).collect()[0]
        if (row[0], row[1]) != base:
            ctx.fail(f"lakehouse_dml time travel v0: {tuple(row)} != duckdb {base}")
        con.close()


class StreamJoins:
    name = "stream_joins"

    def __init__(self):
        self._want = None
        self._out = {}

    def setup(self, ctx: Ctx) -> None:
        self.listener = None
        if ctx.tracer.enabled:
            self.listener = StreamProgress()
            ctx.spark.streams.addListener(self.listener)

    def run_pass(self, ctx: Ctx) -> int:
        from etl_loading_scripts_spark.queries import REGISTRY

        tr = ctx.tracer
        for name in STREAMS:
            if self.listener is not None:
                self.listener.label = name
            with tr.span(name, time_metric=f"stream.{name}.wall_s", work_prefix="exec"):
                df = REGISTRY[name].spark(ctx.spark, ctx.sf_dir)
                _noop(df)
            self._out[name] = df
            if self.listener is not None:
                tr.work()  # drains the listener bus
                batches = self.listener.take(name)
                tr.add(f"stream.{name}.batches", len(batches))
                for key in ("add_batch_ms", "commit_ms"):
                    tr.add(f"stream.{name}.{key}", sum(b[key] for b in batches))
                for key in ("state_rows", "state_store_instances"):
                    tr.add(f"stream.{name}.{key}",
                           max((b[key] for b in batches), default=0))
        return len(STREAMS)

    def check_pass(self, ctx: Ctx) -> None:
        from etl_loading_scripts_spark.queries import REGISTRY

        if self._want is None:
            con = oracle.connect(ctx.sf_dir)
            self._want = {q: oracle.oracle_canon(con, REGISTRY[q].oracle) for q in STREAMS}
            con.close()
        for name, df in self._out.items():
            got = oracle.canon(df)
            if got != self._want[name]:
                ctx.fail(f"{name}: spark {got} != oracle {self._want[name]}")
        self._out = {}


WORKLOADS = {w.name: w for w in (AnalyticsHeadline, MonthlyLoad, LakehouseDml, StreamJoins)}


def per_layer_names() -> list[tuple[str, str]]:
    """The per-layer metrics of ``BENCHMARK.json`` as (name, unit), in
    report order: every one is moved by at least one of its workloads."""
    out = [("session.start_s", "s"), ("catalog.load_calls", "count"),
           ("catalog.load_s", "s"), ("catalog.load_jobs", "count"),
           ("queries.build_s", "s"), ("queries.build_jobs", "count"),
           ("plan.plan_s", "s"), ("exec.action_s", "s")]
    out += [(f"exec.{k}", "s" if k.endswith("_s") else ("bytes" if k.endswith("bytes") else "count"))
            for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                      "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
                      "input_bytes", "output_bytes")]
    for st in PIPELINE_STAGES:
        out += [(f"pipeline.{st}.wall_s", "s"), (f"pipeline.{st}.jobs", "count")]
        if st != "s0_domain":  # s0 builds the domain without a shuffle
            out.append((f"pipeline.{st}.shuffle_write_bytes", "bytes"))
    out += [("deltalog.publish.files_added", "count"),
            ("deltalog.publish.bytes_written", "bytes"),
            ("deltalog.log_versions", "count")]
    for q in STREAMS:
        out += [(f"stream.{q}.{k}", u) for k, u in (
            ("wall_s", "s"), ("batches", "count"), ("state_rows", "count"),
            ("state_store_instances", "count"), ("commit_ms", "ms"),
            ("add_batch_ms", "ms"))]
    out += [("trace.pass_s", "s"), ("trace.overhead_s", "s")]
    return out
