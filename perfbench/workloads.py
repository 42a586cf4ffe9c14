"""The three workloads: set-up, one op, and the output checks.

Each workload owns the engine calls of its op and wraps them in tracer
spans named ``<layer>.<step>``; the harness in ``run.py`` drives the
closed loop, times the ops and turns records into metrics.
"""

from __future__ import annotations

import itertools
import math
import os
import sys
import time

import numpy as np
from pyspark.sql import functions as F

from examples import reference_pipeline as ref  # the reference job's contract
from lab3_lakehouse_spark import stores
from lab3_lakehouse_spark.ml import regression as ml
from lab3_lakehouse_spark.operators import dedup, quality
from lab3_lakehouse_spark.operators import similarity as sim
from lab3_lakehouse_spark.sources import ingest, medallion, versioned
from perfbench import gen
from perfbench.trace import Tracer

#: Fixed query mix of query_mix: relational catalog entries, each with
#: a DuckDB oracle, covering scans, star joins, windows, rollups, JSON,
#: as-of and range joins, correlated SQL subqueries and percentiles.
QUERY_MIX = (
    "pricing_summary",
    "daily_revenue",
    "regional_revenue",
    "top_building_orders",
    "window_top_orders_per_customer",
    "rollup_lineitem_status",
    "json_extract_props",
    "asof_purchase_last_view",
    "range_join_price_bands",
    "sql_late_order_priority",
    "sql_small_qty_revenue",
    "funnel_stage_conversion",
    "user_retention_cohorts",
    "sql_volume_shipping",
    "value_percentiles",
)

#: Input sizes per workload and size preset; ``tiny`` is for smoke tests.
SIZES = {
    "standard": {
        "taxi_rows": 50_000,
        "star_scale": 0.01,
        "boot_docs": 1000,
        "batch_docs": 200,
        "search_queries": 10,
    },
    "tiny": {
        "taxi_rows": 3000,
        "star_scale": 0.001,
        "boot_docs": 200,
        "batch_docs": 50,
        "search_queries": 4,
    },
}


def tree_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files under ``path``."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


class Workload:
    """Base: a workload gets the session, the tracer, the seed and the
    size preset. ``setup`` may run several times, each into a fresh
    directory; the last one is measured."""

    name = ""
    clients = 1

    def __init__(self, spark, tracer: Tracer, seed: int, size: dict) -> None:
        self.spark, self.tracer, self.seed, self.size = spark, tracer, seed, size

    def op_span(self, op_id: int):
        return self.tracer.span(f"op.{self.name}", op=op_id)

    def prepare(self, op_id: int):
        """Untimed work before op ``op_id`` (landing its input)."""
        return None

    def trace_hooks(self) -> list:
        """(module, attribute, span name) to wrap in the traced run."""
        return []


# -- etl_medallion -------------------------------------------------------------


class EtlMedallion(Workload):
    """One op is one full reference pass: CSV → bronze → silver (+quality,
    +optimize) → two gold tables → random forest."""

    name = "etl_medallion"

    def setup(self, root: str) -> None:
        self.root = root
        self.csv = os.path.join(root, "trips.csv")
        os.makedirs(root, exist_ok=True)
        self.plan = gen.taxi_csv(self.csv, self.seed, self.size["taxi_rows"])
        self.input_bytes = os.path.getsize(self.csv)
        self.passes: dict[int, dict] = {}

    def warmup(self) -> None:
        self.op(0, 0, -1, None)

    def op(self, client: int, i: int, op_id: int, ctx) -> dict:
        spark, t = self.spark, self.tracer
        out = os.path.join(self.root, f"pass{op_id}")
        bronze_p, silver_p = f"{out}/bronze/trips", f"{out}/silver/trips_clean"
        with self.op_span(op_id):
            with t.span("ingest.plan"):
                raw = ingest.read_csv(spark, self.csv, schema=ref.TAXI_SCHEMA)
                bronze = ingest.parse_timestamps(
                    raw, ["tpep_pickup_datetime", "tpep_dropoff_datetime"]
                )
                bronze = ingest.add_date_parts(
                    bronze, "tpep_pickup_datetime", ("year", "month")
                )
            with t.span("medallion.bronze"):
                medallion.materialize(bronze, bronze_p, partition_by=["year", "month"])
            with t.span("medallion.silver"):
                typed = ingest.apply_casts(
                    medallion.read_tier(spark, bronze_p), ref.SILVER_CASTS
                )
                with t.span("quality.plan"):
                    clean, obs = quality.filter_with_metrics(
                        typed, list(ref.quality_predicates(typed).values())
                    )
                medallion.materialize(clean, silver_p)
            with t.span("medallion.optimize"):
                medallion.optimize_table(
                    spark, silver_p, zorder_by=["PULocationID", "DOLocationID"]
                )
            with t.span("medallion.gold"):
                s = medallion.read_tier(spark, silver_p)
                daily = s.groupBy(
                    "PULocationID",
                    "DOLocationID",
                    F.date_trunc("day", "tpep_pickup_datetime").alias("day"),
                ).agg(
                    F.sum("total_amount").alias("daily_revenue"),
                    F.count(F.lit(1)).alias("trip_count"),
                    F.avg("trip_distance").alias("avg_distance"),
                    F.avg("total_amount").alias("avg_fare"),
                )
                medallion.materialize(
                    daily, f"{out}/gold/daily_revenue", partition_by=["PULocationID"]
                )
                hourly = s.groupBy(
                    "PULocationID", F.hour("tpep_pickup_datetime").alias("hour_of_day")
                ).agg(
                    F.count(F.lit(1)).alias("trip_count"),
                    F.avg("total_amount").alias("avg_fare"),
                )
                medallion.materialize(hourly, f"{out}/gold/hourly_demand")
            with t.span("ml.fit"):
                g = medallion.read_tier(spark, f"{out}/gold/daily_revenue")
                feats = g.select(
                    F.col("PULocationID").cast("double"),
                    F.col("DOLocationID").cast("double"),
                    ml.pandas_day_of_week("day").cast("double").alias("day_of_week"),
                    F.month("day").cast("double").alias("month"),
                    F.col("avg_distance").cast("double"),
                    F.col("daily_revenue").cast("double").alias("label"),
                )
                ml.train_random_forest(feats)
        counts = dict(obs.get)
        files, size = tree_bytes(out)
        self.passes[op_id] = {"out": out, "files": files, "bytes": size, **counts}
        return {}

    def check(self, records) -> tuple[set[int], int]:
        """Ops whose rejected count differs from the planted count, or
        whose gold daily totals differ from DuckDB over the raw CSV."""
        import duckdb

        con = duckdb.connect()
        try:
            want = _gold_rows(con.execute(_GOLD_ORACLE, [self.csv]).fetchall())
            wrong = set()
            for op_id, p in self.passes.items():
                got = _gold_rows(
                    con.execute(_GOLD_WRITTEN, [f"{p['out']}/gold/daily_revenue/*/*.parquet"])
                    .fetchall()
                )
                counts_ok = (p["n_rejected"], p["n_input"]) == (
                    self.plan.n_rejected,
                    self.plan.n_rows,
                )
                if not counts_ok or got.keys() != want.keys() or any(
                    got[k][0] != n or not math.isclose(got[k][1], rev, rel_tol=1e-9)
                    for k, (n, rev) in want.items()
                ):
                    wrong.add(op_id)
        finally:
            con.close()
        return wrong, len(wrong)

    def _mean_of(self, ops, key: str) -> float:
        return _mean([self.passes[o.op_id][key] for o in ops])

    def report(self, ops) -> dict:
        return {
            "etl_pass_p50_s": (_p50([o.seconds for o in ops]), "s"),
            "stored_bytes_per_input_byte": (
                self._mean_of(ops, "bytes") / self.input_bytes,
                "ratio",
            ),
        }

    def layer_metrics(self, ops) -> dict:
        return {
            "medallion.files_written": self._mean_of(ops, "files"),
            "medallion.bytes_written": self._mean_of(ops, "bytes"),
            "quality.rows_in": self._mean_of(ops, "n_input"),
            "quality.rows_rejected": self._mean_of(ops, "n_rejected"),
            "storage.stored_bytes_per_input_byte": self._mean_of(ops, "bytes")
            / self.input_bytes,
        }


#: The silver filter and the daily gold table, recomputed by DuckDB
#: straight from the raw CSV.
_GOLD_ORACLE = """
WITH t AS (
    SELECT CAST(tpep_pickup_datetime AS TIMESTAMP) AS pu_ts,
           CAST(tpep_dropoff_datetime AS TIMESTAMP) AS do_ts,
           CAST(passenger_count AS INTEGER) AS pc,
           CAST(trip_distance AS FLOAT) AS dist,
           CAST(PULocationID AS INTEGER) AS pu,
           CAST(DOLocationID AS INTEGER) AS dol,
           CAST(fare_amount AS FLOAT) AS fare,
           CAST(total_amount AS FLOAT) AS total
    FROM read_csv(?, header = true, all_varchar = true)
)
SELECT pu, dol, date_trunc('day', pu_ts) AS day,
       count(*) AS trip_count, sum(total) AS rev
FROM t
WHERE fare > 0 AND dist > 0 AND pc > 0 AND total > 0 AND pu_ts < do_ts
  AND (epoch(do_ts) - epoch(pu_ts)) / 60.0 > 0
  AND (epoch(do_ts) - epoch(pu_ts)) / 60.0 < 180
GROUP BY ALL
"""

#: The daily gold table as the engine wrote it (hive-partitioned parquet).
_GOLD_WRITTEN = """
SELECT PULocationID, DOLocationID, day, trip_count, daily_revenue
FROM read_parquet(?, hive_partitioning = true)
"""


def _gold_rows(rows) -> dict:
    """(pickup zone, dropoff zone, day) → (trips, revenue)."""
    return {(int(a), int(b), str(d)[:10]): (int(n), float(r)) for a, b, d, n, r in rows}


# -- query_mix -----------------------------------------------------------------


class QueryMix(Workload):
    """One op is one catalog query, forced with a noop write. Four
    client threads share the session; the seed sets each client's
    sequence through the mix."""

    name = "query_mix"

    clients = 4

    def __init__(self, *args) -> None:
        super().__init__(*args)
        from lab3_lakehouse_spark.queries import ORACLES, QUERIES

        self.queries, self.oracles = QUERIES, ORACLES
        self.sequences = gen.query_sequences(self.seed, self.clients, list(QUERY_MIX), 10_000)

    def setup(self, root: str) -> None:
        self.sf = os.path.join(root, "sf")
        gen.star_tables(self.sf, self.seed, self.size["star_scale"])

    def warmup(self) -> None:
        """One round of the mix on the client threads."""
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(self.clients) as pool:
            list(pool.map(self._run, QUERY_MIX))

    def _run(self, name: str) -> None:
        with self.tracer.span("queries.plan"):
            df = self.queries[name](self.spark, self.sf)
        with self.tracer.span("queries.exec"):
            df.write.format("noop").mode("overwrite").save()

    def op(self, client: int, i: int, op_id: int, ctx) -> dict:
        name = self.sequences[client][i % len(self.sequences[client])]
        with self.op_span(op_id):
            self._run(name)
        return {"query": name}

    def check(self, records) -> tuple[set[int], int]:
        """Every mix query is compared once with its DuckDB oracle; a
        query that differs makes every op that ran it wrong."""
        from concurrent.futures import ThreadPoolExecutor

        from lab3_lakehouse_spark.testing import check_query

        def differs(name: str) -> bool:
            try:
                check_query(self.spark, self.sf, self.queries[name], self.oracles[name], name)
            except Exception as exc:  # a wrong answer or a crash both count
                print(f"check failed: {name}: {exc}", file=sys.stderr)
                return True
            return False

        with ThreadPoolExecutor(self.clients) as pool:
            bad = {n for n, d in zip(QUERY_MIX, pool.map(differs, QUERY_MIX)) if d}
        return {r.op_id for r in records if r.parts.get("query") in bad}, len(bad)

    def report(self, ops) -> dict:
        secs = [o.seconds for o in ops]
        return {
            "query_p50_s": (_p50(secs), "s"),
            "query_p90_s": (float(np.percentile(secs, 90)) if secs else 0.0, "s"),
            "query_samples": (len(secs), "count"),
            "queries_per_s": (len(ops) / max(o.end for o in ops) if ops else 0.0, "1/s"),
        }

    def layer_metrics(self, ops) -> dict:
        out = {}
        for name in QUERY_MIX:
            out[f"queries.{name}.p50_s"] = _p50(
                [o.seconds for o in ops if o.parts.get("query") == name]
            )
        return out

    def trace_hooks(self):
        """Module attributes to wrap with spans in the traced run: the
        catalog's table loaders, wherever the query modules bound them."""
        from lab3_lakehouse_spark import catalog

        targets = {"load_table": catalog.load_table, "register_views": catalog.register_views}
        hooks = []
        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "")
            if not mname.startswith("lab3_lakehouse_spark"):
                continue
            for attr, fn in targets.items():
                if getattr(mod, attr, None) is fn:
                    hooks.append((mod, attr, "catalog.load"))
        return hooks


# -- corpus_ingest_search ------------------------------------------------------

#: Shingle-Jaccard at or above which a batch document counts as a near
#: duplicate of a stored one.
NEAR_DUP_THRESHOLD = 0.8
#: Search settings: top-k, IVF cells probed per query, rows re-ranked.
TOP_K, PROBE_CELLS, RERANK = 10, 8, 50
#: A search batch whose recall@10 against brute force falls below this
#: is a wrong op. It is a sanity floor: the engine's IVF-PQ scores
#: about 0.9 on these embedding groups, a broken index far less.
RECALL_FLOOR = 0.5


class CorpusIngestSearch(Workload):
    """Set-up bootstraps a versioned corpus, its MinHash signature store
    and an IVF-PQ index. One op ingests one delta batch (exact dedup,
    fingerprint anti-join against the current version, MinHash probe of
    the stored bands and exact verify, new corpus version, signature and
    index appends), then runs one batch of top-k vector searches."""

    name = "corpus_ingest_search"

    def setup(self, root: str) -> None:
        spark = self.spark
        self.root = root
        self.corpus = f"{root}/corpus"
        self.mh = f"{root}/minhash"
        self.ivf = f"{root}/ivfpq"
        os.makedirs(root, exist_ok=True)
        self.gen = gen.CorpusGen(self.seed)
        boot = self.gen.bootstrap(self.size["boot_docs"])
        self.boot_ids = set(int(i) for i in boot["doc_id"])
        self.input_bytes = _doc_bytes(boot)
        path = f"{root}/landing/boot.parquet"
        os.makedirs(os.path.dirname(path), exist_ok=True)
        boot.to_parquet(path, index=False)
        docs = spark.read.parquet(path).withColumn("fp", dedup.fingerprint("text"))
        versioned.write_version(docs, spark, self.corpus)
        dedup.minhash_store_append(self.mh, _hashed(docs))
        self.meta = sim.ivfpq_store_init(self.ivf, docs, "doc_id", "embedding", dim=gen.EMB_DIM)
        sim.ivfpq_store_append(spark, self.ivf, docs, "doc_id", "embedding", meta=self.meta)
        self.cycles: dict[int, dict] = {}
        self._batch_no = itertools.count()

    def warmup(self) -> None:
        self.op(0, 0, -1, self.prepare(-1))

    def prepare(self, op_id: int) -> dict:
        """Generate and land the next batch and query set."""
        n = next(self._batch_no)
        batch = self.gen.batch(n, self.size["batch_docs"])
        queries = self.gen.queries(n, self.size["search_queries"])
        bp = f"{self.root}/landing/batch{n}.parquet"
        qp = f"{self.root}/landing/queries{n}.parquet"
        batch.frame.to_parquet(bp, index=False)
        queries.to_parquet(qp, index=False)
        return {"n": n, "batch": batch, "batch_path": bp, "query_path": qp}

    def op(self, client: int, i: int, op_id: int, ctx: dict) -> dict:
        spark, t, c = self.spark, self.tracer, ctx
        t0 = time.perf_counter()
        with self.op_span(op_id):
            with t.span("dedup.exact"):
                with t.span("versioned.read"):
                    current = versioned.read_version(spark, self.corpus)
                batch = dedup.exact_dedup(
                    spark.read.parquet(c["batch_path"]), ["text"], ["doc_id"]
                ).withColumn("fp", dedup.fingerprint("text"))
                fresh = batch.join(current.select("fp"), "fp", "left_anti").localCheckpoint(
                    eager=True
                )
            with t.span("dedup.hash"):
                fresh_hashed = _hashed(fresh).localCheckpoint(eager=True)
            with t.span("dedup.probe"):
                with t.span("stores.read"):
                    bands = stores.read_tier(spark, self.mh, "bands")
                    hashes = stores.read_tier(spark, self.mh, "hashes")
                cands = dedup.minhash_candidates_vs_bands(fresh_hashed, bands)
                verified = dedup.minhash_verify_hashed(
                    cands, fresh_hashed.unionByName(hashes), threshold=NEAR_DUP_THRESHOLD
                )
                survivors = fresh.join(
                    verified.select(F.col("id_a").alias("doc_id")).distinct(),
                    "doc_id",
                    "left_anti",
                ).localCheckpoint(eager=True)
            with t.span("dedup.store_append"):
                dedup.minhash_store_append(
                    self.mh,
                    fresh_hashed.join(
                        survivors.select(F.col("doc_id").alias("__id")), "__id", "left_semi"
                    ),
                )
            with t.span("versioned.write"):
                version = versioned.write_version(
                    current.unionByName(survivors.select(*current.columns)),
                    spark,
                    self.corpus,
                )
            with t.span("similarity.append"):
                sim.ivfpq_store_append(
                    spark, self.ivf, survivors, "doc_id", "embedding", meta=self.meta
                )
            t1 = time.perf_counter()
            with t.span("similarity.probe"):
                hits = sim.ivfpq_store_topk(
                    spark,
                    self.ivf,
                    versioned.read_version(spark, self.corpus, version),
                    spark.read.parquet(c["query_path"]).withColumnRenamed("query_id", "doc_id"),
                    "doc_id",
                    "embedding",
                    k=TOP_K,
                    n_probe=PROBE_CELLS,
                    rerank=RERANK,
                    meta=self.meta,
                ).collect()
        t2 = time.perf_counter()
        c.update(version=version, hits={(r.query_id, r.neighbor_id) for r in hits})
        if t.enabled:
            with t.span("trace.count"):
                c["candidates"] = cands.count()
                c["verified"] = verified.count()
                c.update(self._probe_reads(c["query_path"]))
        self.cycles[op_id] = c
        return {"ingest_s": t1 - t0, "search_s": t2 - t1}

    def _probe_reads(self, query_path: str) -> dict:
        """Code rows in the cells the probe routes each query to (the
        engine's rule: the nearest centroids by squared L2), and the rows
        re-ranked per query."""
        cents = np.array([c for _, c in sorted(self.meta[0])])
        per_cell = dict(
            stores.read_tier(self.spark, self.ivf, "codes")
            .groupBy("__cell")
            .count()
            .collect()
        )
        q = np.stack(
            self.spark.read.parquet(query_path).toPandas()["embedding"].map(np.asarray)
        )
        d2 = ((q[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
        routed = np.argsort(d2, axis=1, kind="stable")[:, :PROBE_CELLS]
        rows = np.array([[per_cell.get(int(c), 0) for c in r] for r in routed]).sum(1)
        return {
            "code_rows_per_query": float(rows.mean()),
            "rerank_rows_per_query": float(np.minimum(rows, RERANK).mean()),
        }

    def check(self, records) -> tuple[set[int], int]:
        """Per cycle: the new version holds exactly the bootstrap plus
        every planted-unique document so far (so no planted duplicate
        survived and no unique one was dropped), and the search results
        score at least :data:`RECALL_FLOOR` against ``brute_force_topk``
        on the same version."""
        wrong = set()
        expected = set(self.boot_ids)
        for op_id in sorted(self.cycles, key=lambda o: self.cycles[o]["n"]):
            c = self.cycles[op_id]
            expected |= set(c["batch"].unique_ids)
            snap = versioned.read_version(self.spark, self.corpus, c["version"])
            got = {r.doc_id for r in snap.select("doc_id").collect()}
            dups = set(c["batch"].exact_dup_ids) | set(c["batch"].near_dup_ids)
            c["dups_removed"] = len(dups - got)
            c["dups_planted"] = len(dups)
            if got != expected:
                wrong.add(op_id)
            qdf = self.spark.read.parquet(c["query_path"]).withColumnRenamed("query_id", "doc_id")
            exact = {
                (r.query_id, r.neighbor_id)
                for r in sim.brute_force_topk(snap, qdf, "doc_id", "embedding", k=TOP_K).collect()
            }
            c["recall"] = len(c["hits"] & exact) / len(exact)
            if c["recall"] < RECALL_FLOOR:
                wrong.add(op_id)
        return wrong, len(wrong)

    def _measured(self, ops) -> list[dict]:
        return [self.cycles[o.op_id] for o in ops if o.op_id in self.cycles]

    def _stored_ratio(self) -> float:
        stored = sum(tree_bytes(p)[1] for p in (self.corpus, self.mh, self.ivf))
        fed = self.input_bytes + sum(_doc_bytes(c["batch"].frame) for c in self.cycles.values())
        return stored / fed

    def report(self, ops) -> dict:
        m = self._measured(ops)
        planted = sum(c["dups_planted"] for c in m)
        return {
            "ingest_batch_p50_s": (_p50([o.parts["ingest_s"] for o in ops]), "s"),
            "search_batch_p50_s": (_p50([o.parts["search_s"] for o in ops]), "s"),
            "search_recall_at_10": (_mean([c["recall"] for c in m]), "ratio"),
            "search_recall_at_10_min": (
                min(c["recall"] for c in self.cycles.values()),
                "ratio",
            ),
            "dedup_recall": (
                sum(c["dups_removed"] for c in m) / planted if planted else 0.0,
                "ratio",
            ),
            "stored_bytes_per_input_byte": (self._stored_ratio(), "ratio"),
        }

    def layer_metrics(self, ops) -> dict:
        m = self._measured(ops)
        cand = sum(c.get("candidates", 0) for c in m)
        ver = sum(c.get("verified", 0) for c in m)
        planted = sum(c["dups_planted"] for c in m)
        version_bytes = [
            tree_bytes(f"{self.corpus}/v={c['version']:08d}")[1] / _doc_bytes(c["batch"].frame)
            for c in m
        ]
        files = size = 0
        for p in (self.mh, self.ivf):
            f, b = tree_bytes(p)
            files, size = files + f, size + b
        return {
            "dedup.candidate_pairs": cand / max(1, len(m)),
            "dedup.verified_pairs": ver / max(1, len(m)),
            "dedup.candidate_precision": ver / cand if cand else 0.0,
            "dedup.recall": sum(c["dups_removed"] for c in m) / planted if planted else 0.0,
            "versioned.bytes_written_per_batch_byte": _mean(version_bytes),
            "similarity.code_rows_read_per_query": _mean(
                [c.get("code_rows_per_query", 0.0) for c in m]
            ),
            "similarity.rerank_rows_per_query": _mean(
                [c.get("rerank_rows_per_query", 0.0) for c in m]
            ),
            "similarity.recall_at_10": _mean([c["recall"] for c in m]),
            "stores.files": files,
            "stores.bytes": size,
            "storage.stored_bytes_per_input_byte": self._stored_ratio(),
        }


def _hashed(docs):
    return docs.select(
        F.col("doc_id").alias("__id"), dedup.shingle_hashes("text", 3).alias("__h")
    )


def _doc_bytes(frame) -> int:
    """User bytes of a document frame: id, UTF-8 text and float32 vector."""
    text = sum(len(t.encode()) for t in frame["text"])
    return text + len(frame) * (8 + 4 * gen.EMB_DIM)


def _p50(xs) -> float:
    return float(np.median(xs)) if len(xs) else 0.0


def _mean(xs) -> float:
    return float(np.mean(xs)) if len(xs) else 0.0


WORKLOADS = {w.name: w for w in (EtlMedallion, QueryMix, CorpusIngestSearch)}
