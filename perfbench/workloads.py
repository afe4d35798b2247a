"""The three workloads. Each drives the engine through its public entry
points with one closed-loop client, times every operation, and checks
every output against a reference outside the timed region.

A workload provides ``setup`` (input generation plus one warm-up pass;
``once_s`` accumulates the part of it that runs only on the first
call), ``run_op`` (one timed operation), ``finish`` (checks that need
the final state) and ``layer_metrics`` (numbers read from the trace).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import gen
import oracle
from spans import Rollup, Tracer

from etl_zero_spark.catalog import FIXTURE_FKS, FIXTURE_TABLES, Warehouse
from etl_zero_spark.plans import query as query_mod
from etl_zero_spark.plans import text_to_sql


@dataclass
class Op:
    kind: str
    ms: float
    items: int
    ok: bool = True
    span: object = None


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    seed: int
    work: str
    problems: list[str] = field(default_factory=list)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def check(self, op: Op, problem: str | None) -> None:
        """Record a failed check against ``op``."""
        if problem is not None:
            op.ok = False
            self.problems.append(f"{op.kind}: {problem}")


def _timed(ctx: Ctx, kind: str, fn) -> tuple[Op, object]:
    with ctx.tracer.span(f"op.{kind}") as sp:
        t0 = time.perf_counter()
        out = fn()
        ms = (time.perf_counter() - t0) * 1000.0
    return Op(kind, ms, 0, span=sp), out


def p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def p90(values: list[float]) -> float:
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files if f.endswith(".parquet")
    )


def _span_ms(ctx: Ctx, names: list[str]) -> dict[str, float]:
    return {f"{n}.ms": ctx.tracer.mean_ms(n) for n in names}


# -- etl_refresh ------------------------------------------------------------------

ETL_SPEC = {
    "extraction": {
        "customer": {"mode": "incremental", "key": "c_custkey"},
        "orders": {"mode": "incremental", "key": "o_orderkey"},
        "lineitem": {"mode": "full"},
        "part": {"mode": "full"},
    },
    "mapping": True,
    "expectations": {
        "customer_orders_merged": [
            {"check": "in_range", "col": "o_totalprice_orders", "lo": 0},
            {"check": "in_set", "col": "o_orderstatus_orders",
             "allowed": gen.STATUSES},
            {"check": "not_null", "col": "o_orderdate_orders"},
        ]
    },
    "transformations": ["trim_whitespace", "remove_duplicates", "impute_nulls"],
    "aggregation": {
        "customer_orders_merged": {
            "group_by": ["o_orderstatus_orders"],
            "aggregations": {"o_totalprice_orders": ["sum", "count"]},
        }
    },
}

ETL_LAYERS = [
    "plans.jobspec.run_pipeline", "catalog.load_table", "sources.incremental",
    "sources.watermark_probe", "sources.full_refresh", "catalog.zone_write",
    "catalog.zone_read", "operators.mapper.merge_tables",
    "operators.validate.quarantine", "operators.validate.validate",
    "operators.cleaning.transform_all_tables",
    "operators.aggregate.aggregate_all_tables",
]


class EtlRefresh:
    """A fresh warehouse gets one full load, then ``CYCLES`` incremental
    refreshes, each after a seeded delta lands in the sources; then the
    next refresh starts over. The timed operation is one pipeline run."""

    name = "etl_refresh"
    CYCLES = 4
    #: runs end after a whole refresh, so every run times the same cycles
    block = CYCLES + 1
    trace_ops = CYCLES + 1

    def __init__(self):
        self.once_s = 0.0
        self.warmups = 0
        self.src = self.wh = ""
        self.keys = (0, 0)
        self.violators: list[int] = []
        self.appended = 0
        self.source_bytes = 0

    def wrap(self, t: Tracer) -> None:
        from etl_zero_spark.catalog import Zone
        from etl_zero_spark.operators import validate
        from etl_zero_spark.operators.mapper import DatasetMapper
        from etl_zero_spark.plans import jobspec
        from etl_zero_spark.sources import incremental

        t.wrap(jobspec, "load_table", "catalog.load_table")
        t.wrap(jobspec, "transform_all_tables", "operators.cleaning.transform_all_tables")
        t.wrap(jobspec, "aggregate_all_tables", "operators.aggregate.aggregate_all_tables")
        t.wrap(incremental.IncrementalLoader, "incremental", "sources.incremental")
        t.wrap(incremental.IncrementalLoader, "full_refresh", "sources.full_refresh")
        t.wrap(incremental, "watermark_probe", "sources.watermark_probe")
        t.wrap(Zone, "write", "catalog.zone_write")
        t.wrap(Zone, "read", "catalog.zone_read")
        t.wrap(DatasetMapper, "merge_tables", "operators.mapper.merge_tables")
        t.wrap(validate, "quarantine", "operators.validate.quarantine")
        t.wrap(validate, "validate", "operators.validate.validate")

    def setup(self, ctx: Ctx) -> dict:
        self.src = ctx.path("src")
        sizes = gen.write_star_schema(self.src, ctx.seed)  # deltas kept
        # warm-up: the first setup runs a full load, later ones a cycle
        self.run_op(ctx, self.warmups)
        self.warmups += 1
        self.appended = self.source_bytes = 0
        return {"source_rows": sizes}

    def _reset(self, ctx: Ctx) -> None:
        gen.drop_deltas(self.src)
        self.wh = ctx.path("wh")
        shutil.rmtree(self.wh, ignore_errors=True)
        self.keys = (gen.SIZES["orders"], gen.SIZES["customer"])
        self.violators = []

    def _pipeline(self, ctx: Ctx):
        from etl_zero_spark.plans import jobspec

        with ctx.tracer.span("plans.jobspec.run_pipeline"):
            return jobspec.run_pipeline(
                ctx.spark, ETL_SPEC, self.src, Warehouse(self.wh, fks=FIXTURE_FKS)
            )

    def run_op(self, ctx: Ctx, i: int) -> Op:
        cycle = i % (self.CYCLES + 1)
        if cycle == 0:
            self._reset(ctx)
        else:
            d = gen.append_delta(self.src, ctx.seed, cycle - 1, *self.keys)
            self.keys = (self.keys[0] + d.orders, self.keys[1] + d.customers)
            self.violators += d.violators
            self.appended += d.orders + d.customers
        src_bytes = _dir_bytes(self.src)
        self.source_bytes += src_bytes
        op, res = _timed(ctx, "full" if cycle == 0 else "cycle",
                         lambda: self._pipeline(ctx))
        op.items = self.keys[0] + self.keys[1] + gen.SIZES["lineitem"] + gen.SIZES["part"]
        want = "initial-full-load" if cycle == 0 else "appended-delta"
        for t in ("customer", "orders"):
            if res.extracted.get(t) != want:
                ctx.check(op, f"{t} extracted as {res.extracted.get(t)!r}")
        clean = self.keys[0] - len(self.violators)
        got = res.validated.get("customer_orders_merged", {})
        if got.get("clean_rows") != clean or not got.get("passed"):
            ctx.check(op, f"validated {got}, want {clean} clean rows")
        return op

    def finish(self, ctx: Ctx, ops: list[Op]) -> None:
        """Check the last refresh's warehouse against DuckDB over the
        generated sources."""
        con = oracle.connect(self.src, ["customer", "orders", "lineitem", "part"])

        def zone(z: str, t: str) -> str:
            return f"read_parquet('{os.path.join(self.wh, z, t)}/*.parquet')"

        last = ops[-1]
        good = ("o.o_totalprice >= 0 AND o.o_orderstatus IN ('F','O','P') "
                "AND o.o_orderdate IS NOT NULL")
        joined = "orders o JOIN customer c ON o.o_custkey = c.c_custkey"
        checks = {
            "silver customer_orders rows": (
                f"SELECT COUNT(*) FROM {zone('silver', 'transformed_customer_orders_merged')}",
                f"SELECT COUNT(*) FROM {joined} WHERE {good}"),
            "silver lineitem_part rows": (
                f"SELECT COUNT(*) FROM {zone('silver', 'transformed_lineitem_part_merged')}",
                "SELECT COUNT(*) FROM (SELECT DISTINCT * FROM lineitem l "
                "JOIN part p ON l.l_partkey = p.p_partkey)"),
            "aggregate": (
                "SELECT o_orderstatus_orders AS s, o_totalprice_orders_sum AS v, "
                f"o_totalprice_orders_count AS n FROM {zone('silver', 'agg_customer_orders_merged')}",
                "SELECT o.o_orderstatus AS s, SUM(o.o_totalprice) AS v, "
                f"COUNT(o.o_totalprice) AS n FROM {joined} WHERE {good} GROUP BY 1"),
            "quarantine": (
                "SELECT o_orderkey_orders AS k FROM "
                f"{zone('silver_mapping', 'quarantine_customer_orders_merged')}",
                "SELECT unnest(?::BIGINT[]) AS k"),
            "cleaning": (
                "SELECT COUNT(*) AS n FROM "
                f"{zone('silver', 'transformed_customer_orders_merged')} WHERE "
                "c_mktsegment_customer <> trim(c_mktsegment_customer) "
                "OR c_acctbal_customer IS NULL OR c_name_customer IS NULL",
                "SELECT 0 AS n"),
        }
        for what, (got_sql, want_sql) in checks.items():
            got = oracle.duckdb_result(con, got_sql)
            params = [self.violators] if "?" in want_sql else None
            cur = con.execute(want_sql, params)
            want = oracle.normalize([d[0] for d in cur.description], cur.fetchall())
            problem = oracle.mismatch(got, want)
            ctx.check(last, problem and f"{what}: {problem}")
        con.close()

    def details(self, ops: list[Op]) -> dict:
        full = [o.ms for o in ops if o.kind == "full"]
        cyc = [o.ms for o in ops if o.kind == "cycle"]
        return {"etl_full_s": p50(full) / 1000.0, "etl_cycle_p50_s": p50(cyc) / 1000.0,
                "full_loads": len(full), "cycles": len(cyc)}

    def latencies(self, ops: list[Op]) -> list[float]:
        return [o.ms for o in ops if o.kind == "cycle"]

    def layer_metrics(self, ctx: Ctx, ops: list[Op], roll: Rollup) -> dict:
        t = ctx.tracer
        inc = roll.by_name["sources.incremental"]
        runs = len(t.calls("plans.jobspec.run_pipeline"))
        return {
            **_span_ms(ctx, ETL_LAYERS),
            "catalog.zone_write.calls": len(t.calls("catalog.zone_write")) / max(runs, 1),
            "sources.rows_scanned_per_row_appended":
                inc["input_records"] / max(self.appended, 1),
            "catalog.bytes_written_per_source_byte":
                roll.total("output_bytes") / max(self.source_bytes, 1),
        }


# -- query_mix --------------------------------------------------------------------

#: Declared queries whose DuckDB oracle SQL also runs as Spark SQL
#: unchanged: the SQL a user types on the query page.
SQL_POOL = [
    "q1_pricing_summary", "s2_s3_incremental_scan", "j5_revenue_by_nation",
    "o3_top_k", "j1_j8_join_family", "set1_set2_set3_ops",
    "cd_acd_count_distinct", "rj1_range_join", "cdc1_merge_latest",
    "dd1_exact_dedup",
]

#: The NL->SQL probe battery: questions the generator must answer...
NL_ANSWERABLE = [
    "which nation has the highest total revenue",
    "which nation has the lowest total revenue",
    "which nation has the highest average revenue",
    "which nation has the highest total revenue in 1995",
    "top 3 nations by revenue",
    "top 5 nation names by total revenue",
    "how many customers are in each region",
    "show me the 2 cheapest parts",
    "what is the total revenue per year",
    "revenue by nation in 1995 or 1996",
    "top 3 event types by total value",
    "how many documents per lang",
    "which source has the most documents",
    "average value per event type",
    "what nation earned the most revenue",
    "which 5 customers spent the most",
    "count of events in 2024",
    "events in january",
    "total value per month in events",
    "top 5 nation names by average revenue",
    "bottom 2 nations by revenue",
    "top 5 customers by revenue",
    "which nation has the highest total quantity",
    "how many orders does each customer have",
    "top 3 nations by number of orders",
    "top 3 parts by number of orders",
    "count of orders per orderstatus in 1995 or 1996",
    "orders where orderstatus is F or P",
    "top 3 nations by revenue where mktsegment is BUILDING",
    "average totalprice per orderstatus where orderpriority is 1-URGENT or 2-HIGH",
    "largest order by totalprice in 1995",
    "which mktsegment has the highest total acctbal",
    "which orderstatus has the highest average totalprice",
    "which returnflag has the highest total quantity",
    "which lang has the most documents",
    "top 3 mktsegments by number of customers",
    "top 2 orderstatuses by number of orders",
    "top 3 langs by number of documents",
    "top 2 orderpriorities by average totalprice",
    "the cheapest part",
    "the most expensive parts",
    "top 3 nations by revenue per region name",
    "top 2 nations by number of customers per region name",
    "bottom 2 nations by revenue per region",
    "which nation has the highest total revenue per region name",
    "top 5 orders by totalprice per orderstatus",
]
#: ...and questions it must refuse (a stated constraint it cannot render).
NL_REFUSE = [
    "which nation has the highest quantity",
    "top 3 nations by revenue per widget",
    "the cheapest parts with brand B1",
    "how many orders does each customer or supplier have",
    "orders where clerk is Clerk#000000951",
    "orders where totalprice in 1995",
    "the cheapest parts per brand",
    "customers in march",
    "which analyst spent the most",
]
NL_POOL = NL_ANSWERABLE + NL_REFUSE

TOP_K = 10
BM25_QUERIES = 4
IVF_QUERIES = 8
IVF_NLIST = 32
#: IVF recall below this against the exact top-k fails the request.
RECALL_FLOOR = 0.8

QUERY_LAYERS = [
    "catalog.register_views", "plans.text_to_sql.process_query",
    "plans.text_to_sql.generate", "plans.query.execute_query", "exec.collect",
    "operators.retrieval.bm25_topk", "operators.ivf.ivf_topk",
]


class QueryMix:
    """One client sends a seeded request sequence drawn from a fixed
    pool: in every block of five, two declared SQL queries, two NL
    questions and one top-k search (BM25 and IVF in turn)."""

    name = "query_mix"
    #: runs end on a block boundary, so every run has the same mix
    block = 5
    trace_ops = 40

    def __init__(self):
        self.once_s = 0.0
        self.seq: list[tuple[str, object]] = []
        self.rng = None
        self.views: dict = {}
        self.centroids = None
        self.con = None
        self.want: dict = {}
        self.recalls: list[float] = []
        self.refusals = 0
        self.rows_returned = 0

    def wrap(self, t: Tracer) -> None:
        t.wrap(text_to_sql, "register_views", "catalog.register_views")
        t.wrap(text_to_sql.RuleBasedGenerator, "__call__", "plans.text_to_sql.generate")
        t.wrap(query_mod, "execute_query", "plans.query.execute_query")

    def setup(self, ctx: Ctx) -> dict:
        from etl_zero_spark.operators.ivf import train_ivf_centroids

        self.src = ctx.path("src")
        shutil.rmtree(self.src, ignore_errors=True)
        sizes = gen.write_star_schema(self.src, ctx.seed)
        self.views = query_mod.open_query_surface(ctx.spark, self.src)
        if self.centroids is None:
            # the index build: once per session, over identical inputs
            t0 = time.perf_counter()
            self.centroids = train_ivf_centroids(
                self.views["embeddings"], IVF_NLIST,
                corpus_count=gen.SIZES["embeddings"])
            self.once_s += time.perf_counter() - t0
        if self.con is not None:
            self.con.close()
        self.con = oracle.connect(self.src, FIXTURE_TABLES)
        docs = pq.read_table(os.path.join(self.src, "documents.parquet"))
        self.bm25 = oracle.BM25(docs["doc_id"].to_pylist(), docs["text"].to_pylist())
        self.corpus_vecs, _ = gen.embeddings(ctx.seed)
        schema = text_to_sql.render_schema(ctx.spark, self.views)
        self.prompt = lambda q: text_to_sql.build_prompt(schema, q)
        self.want = {}
        self.seq, self.decks = [], {}
        self.rng = np.random.default_rng([ctx.seed, 7])
        for i, kind in enumerate(("sql", "nl", "bm25", "ivf")):  # warm-up
            self._request(ctx, kind, {"sql": SQL_POOL[0], "nl": NL_POOL[0]}.get(kind), -1 - i)
        return {"source_rows": sizes}

    def _draw(self, kind: str):
        """Deal the next item of ``kind`` from a seeded shuffle of its
        pool, reshuffled when used up: items repeat across a session,
        and every item is drawn equally often. NL questions deal every
        sixth from the must-refuse pool (its share of the battery), so
        each run holds the same share of fast refusals."""
        deck = self.decks.get(kind)
        if not deck:
            shuffled = lambda pool: [str(x) for x in self.rng.permutation(pool)]
            if kind == "nl":
                ans, ref = shuffled(NL_ANSWERABLE), shuffled(NL_REFUSE)
                deck = [ref.pop() if j % 6 == 5 and ref else (ans or ref).pop()
                        for j in range(len(NL_POOL))]
            else:
                deck = shuffled(SQL_POOL if kind == "sql" else ["bm25", "ivf"])
            self.decks[kind] = deck = deck[::-1]
        return deck.pop()

    def _next(self, i: int) -> tuple[str, object]:
        while len(self.seq) <= i:
            block = ["sql", "sql", "nl", "nl", "search"]
            self.rng.shuffle(block)
            for kind in block:
                item = self._draw(kind)
                self.seq.append((item, None) if kind == "search" else (kind, item))
        return self.seq[i]

    def run_op(self, ctx: Ctx, i: int) -> Op:
        kind, item = self._next(i)
        return self._request(ctx, kind, item, i)

    def _request(self, ctx: Ctx, kind: str, item, step: int) -> Op:
        from etl_zero_spark.operators import ivf, retrieval
        from etl_zero_spark.plans.all_queries import QUERIES

        spark, span = ctx.spark, ctx.tracer.span
        if kind == "sql":
            def run():
                df = query_mod.execute_query(spark, QUERIES[item].sql)
                with span("exec.collect"):
                    return df.columns, df.collect()
        elif kind == "nl":
            def run():
                with span("plans.text_to_sql.process_query"):
                    df = text_to_sql.process_query(spark, self.src, item)
                if df is None:
                    return None
                with span("exec.collect"):
                    return df.columns, df.collect()
        elif kind == "bm25":
            texts = gen.query_texts(ctx.seed, step, BM25_QUERIES)

            def run():
                with span("operators.retrieval.bm25_topk"):
                    q = spark.createDataFrame(
                        list(enumerate(texts)), "query_id long, query_text string")
                    df = retrieval.bm25_topk(self.views["documents"], q, top_k=TOP_K)
                    with span("exec.collect"):
                        return df.collect()
        else:
            qv = gen.query_vectors(ctx.seed, step, IVF_QUERIES)
            base = gen.SIZES["embeddings"]

            def run():
                with span("operators.ivf.ivf_topk"):
                    q = spark.createDataFrame(
                        [(base + j, v.tolist()) for j, v in enumerate(qv)],
                        "vec_id long, embedding array<float>")
                    df = ivf.ivf_topk(q, self.views["embeddings"], k=TOP_K,
                                      centroids=self.centroids)
                    with span("exec.collect"):
                        return df.collect()
        op, out = _timed(ctx, kind, run)
        op.items = 1
        self._check(ctx, op, item, out, texts if kind == "bm25" else
                    qv if kind == "ivf" else None)
        return op

    def _check(self, ctx: Ctx, op: Op, item, out, inputs) -> None:
        if op.kind == "bm25":
            for qid, text in enumerate(inputs):
                got = [(r.doc_id, r.rank, r.score) for r in out if r.query_id == qid]
                ctx.check(op, self.bm25.check(text, got, TOP_K))
            return
        if op.kind == "ivf":
            exact = oracle.exact_topk(self.corpus_vecs, inputs, TOP_K)
            base = gen.SIZES["embeddings"]
            hits = [
                len({r.neighbor_id for r in out if r.query_id == base + j}
                    & set(exact[j].tolist())) / TOP_K
                for j in range(len(inputs))
            ]
            recall = sum(hits) / len(hits)
            self.recalls.append(recall)
            if recall < RECALL_FLOOR:
                ctx.check(op, f"ivf recall {recall:.3f} < {RECALL_FLOOR}")
            return
        if op.kind == "nl":
            if out is None:
                self.refusals += 1
                if item in NL_ANSWERABLE:
                    ctx.check(op, f"refused answerable question {item!r}")
                return
            if item in NL_REFUSE:
                ctx.check(op, f"answered must-refuse question {item!r}")
                return
        cols, rows = out
        self.rows_returned += len(rows)
        if item not in self.want:
            if op.kind == "sql":
                from etl_zero_spark.plans.all_queries import QUERIES

                sql = QUERIES[item].sql
            else:
                gen_sql = text_to_sql.RuleBasedGenerator()(self.prompt(item))
                sql = text_to_sql.extract_select(gen_sql)
            self.want[item] = oracle.duckdb_result(self.con, sql)
        problem = oracle.mismatch(oracle.spark_result(cols, rows), self.want[item])
        ctx.check(op, problem and f"{item!r}: {problem}")

    def finish(self, ctx: Ctx, ops: list[Op]) -> None:
        self.con.close()
        self.con = None

    def details(self, ops: list[Op]) -> dict:
        by = {k: [o.ms for o in ops if o.kind == k] for k in ("sql", "nl", "bm25", "ivf")}
        all_ms = [o.ms for o in ops]
        return {
            "query_p50_ms": p50(all_ms), "query_p90_ms": p90(all_ms),
            "sql_p50_ms": p50(by["sql"]), "nl_p50_ms": p50(by["nl"]),
            "search_p50_ms": p50(by["bm25"] + by["ivf"]),
            "search_recall_at_k": float(np.mean(self.recalls)) if self.recalls else 0.0,
            "requests": {k: len(v) for k, v in by.items()},
        }

    def latencies(self, ops: list[Op]) -> list[float]:
        return [o.ms for o in ops]

    def layer_metrics(self, ctx: Ctx, ops: list[Op], roll: Rollup) -> dict:
        scanned = sum(
            roll.by_name[n]["input_records"]
            for n in ("exec.collect", "plans.query.execute_query")
        )
        return {
            **_span_ms(ctx, QUERY_LAYERS),
            "plans.text_to_sql.refusals": self.refusals,
            "exec.rows_scanned_per_row_returned": scanned / max(self.rows_returned, 1),
            "operators.ivf.recall_at_k": float(np.mean(self.recalls)) if self.recalls else 0.0,
        }


# -- corpus_prep ------------------------------------------------------------------

CORPUS_BASE = 4_000
CORPUS_EXACT = 200
CORPUS_NEAR = 200
PACK_BUDGET = 2048
CORPUS_STAGES = ["input", "pii_scrub", "exact_dedup", "near_dedup", "packed"]


class CorpusPrep:
    """``prepare_corpus`` with PII scrub, exact dedup, MinHash near-dedup
    at Jaccard 0.5 and packing, its stage ledger observed, then one
    full action: the prepared corpus is written as parquet."""

    name = "corpus_prep"
    block = 1
    trace_ops = 2

    def __init__(self):
        self.once_s = 0.0
        self.corpus: gen.Corpus | None = None
        self.ledger: dict | None = None
        self.near_survivors: list[int] = []

    def wrap(self, t: Tracer) -> None:
        pass

    def setup(self, ctx: Ctx) -> dict:
        self.corpus = gen.make_corpus(ctx.seed, CORPUS_BASE, CORPUS_EXACT, CORPUS_NEAR)
        self.path = ctx.path("corpus.parquet")
        pq.write_table(self.corpus.table, self.path)
        self.run_op(ctx, -1)  # warm-up pass
        return {"documents": self.corpus.table.num_rows, "planted_exact": CORPUS_EXACT,
                "planted_near": CORPUS_NEAR, "pii_docs": self.corpus.pii_docs}

    def run_op(self, ctx: Ctx, i: int) -> Op:
        from etl_zero_spark.plans import corpus_pipeline

        out = ctx.path("prepared")
        span = ctx.tracer.span

        def run():
            docs = ctx.spark.read.parquet(self.path)
            with span("plans.corpus_pipeline.prepare_corpus"):
                res = corpus_pipeline.prepare_corpus(
                    docs, quality=False, near_dedup_threshold=0.5,
                    pack_budget=PACK_BUDGET, collect_stats=True, stats_mode="observe")
            with span("exec.write"):
                res.df.write.mode("overwrite").parquet(out)
            stats = res.resolve_stats()
            res.unpersist()
            return stats

        op, stats = _timed(ctx, "pass", run)
        op.items = self.corpus.table.num_rows
        self._check(ctx, op, stats, out)
        return op

    def _check(self, ctx: Ctx, op: Op, stats: dict, out: str) -> None:
        c = self.corpus
        n = c.table.num_rows
        if self.ledger is not None and stats != self.ledger:
            ctx.check(op, f"ledger {stats} differs from the first pass {self.ledger}")
        self.ledger = self.ledger or dict(stats)
        ids = set(pq.read_table(out, columns=["doc_id"])["doc_id"].to_pylist())
        near = sorted(i for i in ids if i >= c.base + c.exact_dups)
        self.near_survivors = near
        want = {
            "input": n, "pii_scrub": n, "exact_dedup": n - c.exact_dups,
            "near_dedup": c.base + len(near), "packed": len(ids),
        }
        if stats != want:
            ctx.check(op, f"ledger {stats} != {want}")
        if not set(range(c.base)) <= ids:
            ctx.check(op, "an original document was dropped")
        if any(c.base <= i < c.base + c.exact_dups for i in ids):
            ctx.check(op, "an exact duplicate survived")
        if len(ids) != c.base + len(near):
            ctx.check(op, f"{len(ids)} documents written, ledger says {stats.get('packed')}")

    def finish(self, ctx: Ctx, ops: list[Op]) -> None:
        pass

    def details(self, ops: list[Op]) -> dict:
        ms = [o.ms for o in ops]
        return {
            "corpus_docs_per_s": sum(o.items for o in ops) / (sum(ms) / 1000.0),
            "pass_p50_s": p50(ms) / 1000.0, "passes": len(ms),
            "ledger": self.ledger, "near_dup_recall": self._near_recall(),
        }

    def _near_recall(self) -> float:
        return 1.0 - len(self.near_survivors) / CORPUS_NEAR

    def latencies(self, ops: list[Op]) -> list[float]:
        return [o.ms for o in ops]

    def layer_metrics(self, ctx: Ctx, ops: list[Op], roll: Rollup) -> dict:
        out = _span_ms(ctx, ["plans.corpus_pipeline.prepare_corpus", "exec.write"])
        for stage in CORPUS_STAGES:
            out[f"corpus.survivors.{stage}"] = (self.ledger or {}).get(stage, 0)
        out["corpus.near_dup_recall"] = self._near_recall()
        return out


WORKLOADS = {w.name: w for w in (EtlRefresh, QueryMix, CorpusPrep)}
