"""The benchmark's workloads.

Each workload has an untraced repetition (`rep`: closed-loop operations
whose outputs are committed, as parquet files for the pipeline and as
collected Arrow tables for the board), an output check run outside the
timed region (`check`), and a traced repetition (`traced`) that calls each
layer's public function on its own, materializing every result before the
next call reads it. The layer calls, sizes and checks are documented per
workload in perfbench/workloads.json.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import time

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import gen
from water_column_sonar_processing_spark.functions import cells
from water_column_sonar_processing_spark.functions.s2 import s2_cell_udf
from water_column_sonar_processing_spark.operators import dedup as dedup_op
from water_column_sonar_processing_spark.operators import graph as graph_op
from water_column_sonar_processing_spark.operators import knn as knn_op
from water_column_sonar_processing_spark.operators import pip as pip_op
from water_column_sonar_processing_spark.operators import tiles as tiles_op
from water_column_sonar_processing_spark.plans import pipeline as pipeline_op
from water_column_sonar_processing_spark.plans import queries as q
from water_column_sonar_processing_spark.sources import catalog

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
import parity_check  # noqa: E402  (the repo's DuckDB parity comparison)

N_PAGES = 50_000
KNN_K = 5
KNN_RES = 7
BOARD_DIR = os.path.join(HERE, "data", "sf0.001")
L1L2_TABLES = ("l1_pages", "page_polygon_assignments", "tile_pyramid")
OP = "run_pipeline+knn_grid_density"


def mat(df: DataFrame) -> DataFrame:
    """Materialize df and cut its lineage, so the next layer call reads it."""
    return df.localCheckpoint(eager=True)


def table_hash(df: DataFrame, cols: list[str]) -> str:
    """Order-independent multiset hash: row count and decimal sum of the
    per-row xxhash64 of cols."""
    r = (
        df.select(F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s"))
        .first()
    )
    return f"{r['n']}:{r['s']}"


def combine(parts: list[str]) -> str:
    return hashlib.sha256("|".join(parts).encode()).hexdigest()[:16]


class Workload:
    """Interface; `ctx` is run.Context (spark, dirs, seed, tracer)."""

    name = ""
    input_rows = 0

    def __init__(self, ctx):
        self.ctx = ctx

    def prepare(self) -> None:
        """Generate cached inputs (numpy, before Spark starts)."""

    def register(self, spark: SparkSession) -> None:
        """Per-session set-up that belongs in setup_s."""

    def rep(self) -> list[float]:
        """One untraced repetition; latency of each operation in it."""
        raise NotImplementedError

    def check(self) -> tuple[list[tuple[str, str]], str]:
        """Check the last repetition's outputs: ([(operation, error)],
        order-independent output hash)."""
        raise NotImplementedError

    def traced(self) -> dict:
        """One repetition with a span per layer call; returns the
        materialized results `counts` reads."""
        raise NotImplementedError

    def counts(self, t: dict) -> dict[str, float]:
        """Per-layer counts of a traced repetition, taken after its spans."""
        raise NotImplementedError


class L1L2Pipeline(Workload):
    """run_pipeline over seeded skewed pages, then density kNN over the L1
    points it wrote: ingest, PIP join, tile pyramid and the L1/L2 writes,
    followed by the density ladder and tier pool on top of L1."""

    name = "l1l2_pipeline"
    input_rows = N_PAGES

    def __init__(self, ctx):
        super().__init__(ctx)
        self.polys = q._oracle_polys_pdf()
        self.out = os.path.join(ctx.out, "l1l2")

    def prepare(self) -> None:
        self.pages_dir = gen.write_cached(gen.pages_table, "pages", N_PAGES, self.ctx.seed, self.ctx.cache)

    def knn_frames(self, l1: DataFrame) -> tuple[DataFrame, DataFrame]:
        """(queries, corpus): the valid L1 points, and the ~0.1% of them
        whose url hash is 0 mod 1000 (bench.py's knn_density_5m)."""
        corpus = l1.filter(F.col("lat").isNotNull() & F.col("lon").isNotNull()).select("url", "lat", "lon")
        return corpus.filter(F.abs(F.xxhash64("url")) % 1000 == 0), corpus

    def knn(self, l1: DataFrame) -> DataFrame:
        qs, corpus = self.knn_frames(l1)
        return knn_op.knn_grid_density(qs, corpus, k=KNN_K, res=KNN_RES, max_rounds=3)

    def rep(self) -> list[float]:
        spark = self.ctx.spark
        shutil.rmtree(self.out, ignore_errors=True)

        def op():
            paths = pipeline_op.run_pipeline(spark, spark.read.parquet(self.pages_dir), self.polys, self.out, resume=False)
            self.knn(spark.read.parquet(paths["l1"])).write.mode("overwrite").parquet(os.path.join(self.out, "knn"))

        return [self.ctx.timed_op(OP, op)]

    def written_bytes_per_input_byte(self) -> float:
        written = sum(gen.dir_bytes(os.path.join(self.out, t)) for t in L1L2_TABLES)
        return written / gen.dir_bytes(self.pages_dir)

    def check(self) -> tuple[list[tuple[str, str]], str]:
        spark, errs = self.ctx.spark, []
        l1, pip, tiles = (spark.read.parquet(os.path.join(self.out, t)) for t in L1L2_TABLES)
        n_l1 = l1.count()
        if n_l1 != N_PAGES:
            errs.append((OP, f"l1 rows {n_l1} != input rows {N_PAGES}"))
        valid = l1.filter(F.col("lat").isNotNull() & F.col("lon").isNotNull())
        n_valid = valid.count()
        sums = {r["zoom"]: r["n"] for r in tiles.groupBy("zoom").agg(F.sum("doc_count").alias("n")).collect()}
        if sorted(sums) != list(range(4, 13)) or any(v != n_valid for v in sums.values()):
            errs.append((OP, f"tile counts per zoom {sums} != valid rows {n_valid}"))
        stray = pip.join(valid, "url", "left_anti").count()
        if pip.count() == 0 or stray:
            errs.append((OP, f"pip hits not a non-empty subset of valid points ({stray} stray)"))
        qs, _ = self.knn_frames(l1)
        nn = spark.read.parquet(os.path.join(self.out, "knn"))
        n_q = qs.count()
        per_q = {r["url_q"]: r["n"] for r in nn.groupBy("url_q").agg(F.count(F.lit(1)).alias("n")).collect()}
        if len(per_q) != n_q or any(n != KNN_K for n in per_q.values()):
            errs.append((OP, f"{len(per_q)} of {n_q} kNN queries answered, not all with exactly {KNN_K} neighbours"))
        stray = nn.join(valid.select(F.col("url").alias("neighbor_id")), "neighbor_id", "left_anti").count()
        if stray:
            errs.append((OP, f"{stray} kNN neighbours not among the valid L1 points"))
        h = combine(
            [
                table_hash(l1, ["url", "lang", "lat", "lon", "cell_id", "hex_id", "s2_id"]),
                table_hash(pip, ["url", "lang", "polygon_id"]),
                table_hash(tiles, ["zoom", "cell_id", "gx", "gy", "doc_count"]),
                table_hash(nn, ["url_q", "neighbor_id", "dist_sq", "rank"]),
            ]
        )
        return errs, h

    def traced(self) -> dict:
        spark, span = self.ctx.spark, self.ctx.tracer.span
        out = os.path.join(self.ctx.out, "l1l2_traced")
        shutil.rmtree(out, ignore_errors=True)
        pages = spark.read.parquet(self.pages_dir)
        with span("plans.pipeline.ingest_l1"):
            l1a = mat(pipeline_op.ingest_l1(pages, grid_res=7, with_s2=False))
        with span("functions.s2.s2_cell_udf"):
            l1 = mat(l1a.withColumn("s2_id", s2_cell_udf(12)(F.col("lat"), F.col("lon"))))
        with span("sources.catalog.write_table"):
            catalog.write_table(l1, out, "l1_pages", partition_by=("lang",), sort_within=("cell_id",))
        l1r = spark.read.parquet(os.path.join(out, "l1_pages"))
        with span("operators.pip.pip_join"):
            pip = mat(pip_op.pip_join(l1r, self.polys, res=7, keep_cols=("url", "lang")))
        with span("sources.catalog.write_table"):
            catalog.write_table(pip, out, "page_polygon_assignments")
        with span("operators.tiles.tile_pyramid"):
            tiles = mat(tiles_op.tile_pyramid(l1r, base_res=12, min_res=4))
        with span("sources.catalog.write_table"):
            catalog.write_table(tiles, out, "tile_pyramid", partition_by=("zoom",), sort_within=("cell_id",))
        qs, corpus = self.knn_frames(l1r)
        with span("operators.knn.assign_density_res"):
            asg = mat(knn_op.assign_density_res(qs, corpus, res=KNN_RES, dense_threshold=max(2 * KNN_K, 16)))
        with span("operators.knn.knn_grid_density"):
            mat(knn_op.knn_grid_density(qs, corpus, k=KNN_K, res=KNN_RES, max_rounds=3))
        return {"out": out, "l1a": l1a, "l1r": l1r, "pip": pip, "tiles": tiles, "asg": asg}

    def counts(self, t: dict) -> dict[str, float]:
        spark = self.ctx.spark
        kept = t["l1a"].filter(F.col("lat").isNotNull() & F.col("lon").isNotNull()).count()
        cover = pip_op.build_cover_df(spark, self.polys, 7)
        pts = t["l1r"].filter(F.col("lat").isNotNull() & F.col("lon").isNotNull()).withColumn(
            "cell_id", cells.grid_cell(F.col("lat"), F.col("lon"), 7)
        )
        cand = pts.join(F.broadcast(cover), "cell_id").count()
        hits = t["pip"].count()
        return {
            "plans.pipeline.ingest_l1.qc_keep_ratio": kept / N_PAGES,
            "operators.pip.pip_join.candidates": float(cand),
            "operators.pip.pip_join.hits": float(hits),
            "operators.pip.pip_join.hit_ratio": hits / max(cand, 1),
            "operators.tiles.tile_pyramid.tiles_out": float(t["tiles"].count()),
            "sources.catalog.write_table.bytes_written": float(
                sum(gen.dir_bytes(os.path.join(t["out"], n)) for n in L1L2_TABLES)
            ),
            "sources.catalog.write_table.files_written": float(
                sum(gen.dir_files(os.path.join(t["out"], n)) for n in L1L2_TABLES)
            ),
            "operators.knn.assign_density_res.tiers": float(t["asg"].select("_knn_res").distinct().count()),
        }


SPREAD_MARK = "REPARTITION_BY_NUM"


def spread_exchanges(plan: str) -> int:
    """1 when the plan holds `_spread_small_input`'s exchange: a
    hash-partitioning REPARTITION_BY_NUM exchange whose child is a parquet
    scan (possibly under a columnar-to-row transition)."""
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange hashpartitioning(" in line and SPREAD_MARK in line:
            for child in lines[i + 1 : i + 3]:
                if "Scan parquet" in child:
                    return 1
    return 0


class QueryBoard(Workload):
    """All declared queries, once each in declaration order, over the sf
    tier shipped with the benchmark. Each query is collected (toArrow) so
    its timed result is the one checked against the DuckDB oracle."""

    name = "query_board"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.queries = q.build_queries()
        self.results: dict[str, tuple[list[str], object]] = {}
        self.input_rows = sum(
            pq.ParquetFile(os.path.join(BOARD_DIR, f"{t}.parquet")).metadata.num_rows for t in q.SF_TABLES
        )

    def register(self, spark: SparkSession) -> None:
        with self.ctx.tracer.span("plans.queries.register_views"):
            q.register_views(spark, BOARD_DIR)

    def rep(self) -> list[float]:
        out = []
        for name, fn in self.queries.items():

            def op(name=name, fn=fn):
                df = fn(self.ctx.spark, BOARD_DIR)
                self.results[name] = (df.columns, df.toArrow())

            out.append(self.ctx.timed_op(name, op))
        return out

    def check(self) -> tuple[list[tuple[str, str]], str]:
        con = duckdb.connect()
        try:
            for t in q.SF_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(BOARD_DIR, t + '.parquet')}')")
            oracles = q.build_oracles()
            tag = os.path.basename(BOARD_DIR)
            for name in q.GOLDEN_QUERIES:
                oracles[name] = q.golden_oracle_sql(name, tag)
            errs, hashes = [], []
            for name in self.queries:
                if name not in self.results:
                    errs.append((name, "no result"))
                    continue
                scols, sat = self.results[name]
                dat = con.execute(oracles[name]).fetch_arrow_table()
                ok, sh = compare(scols, sat, dat)
                hashes.append(f"{name}={sh}")
                if not ok:
                    errs.append((name, "result differs from its oracle"))
            return errs, combine(hashes)
        finally:
            con.close()

    def traced(self) -> dict:
        span = self.ctx.tracer.span
        plan_s = execute_s = 0.0
        spread = 0
        for name, fn in self.queries.items():
            with span(f"plans.queries.{name}"):
                t0 = time.perf_counter()
                df = fn(self.ctx.spark, BOARD_DIR)
                plan = df._jdf.queryExecution().executedPlan().toString()
                t1 = time.perf_counter()
                df.toArrow()
                execute_s += time.perf_counter() - t1
                plan_s += t1 - t0
                spread += spread_exchanges(plan)
        t = {"plan_s": plan_s, "execute_s": execute_s, "spread": spread}
        t.update(self.traced_dedup())
        return t

    def traced_dedup(self) -> dict:
        """The dedup layers behind the board's dedup_corpus, minhash and
        ngram_jaccard queries, called one by one on its documents table."""
        span, spark = self.ctx.tracer.span, self.ctx.spark
        docs = spark.table("documents")
        with span("operators.dedup.exact_dedup"):
            mat(dedup_op.exact_dedup(docs))
        with span("operators.dedup.hashed_shingles"):
            hs = mat(dedup_op.hashed_shingles(docs))
        with span("operators.dedup.minhash_lsh_pairs"):
            lsh = mat(dedup_op.minhash_lsh_pairs(docs, hashed=hs))
        jin = mat(
            docs.filter(F.col("doc_id") % q.JACCARD_FILTER == 0).select(
                "doc_id", dedup_op.shingles("text", 5).alias("sh")
            )
        )
        with span("operators.dedup.jaccard_selfjoin_exact"):
            pairs = mat(
                dedup_op.jaccard_selfjoin_exact(jin, "doc_id", "sh", threshold_x1000=q.JACCARD_THRESH_X1000)
            )
        with span("operators.graph.connected_components"):
            mat(graph_op.connected_components(lsh))
        with span("operators.dedup.dedup_corpus"):
            surv = mat(dedup_op.dedup_corpus(docs))
        return {"docs": docs, "lsh": lsh, "pairs": pairs, "surv": surv}

    def counts(self, t: dict) -> dict[str, float]:
        cand = t["lsh"].count()
        removed = t["docs"].count() - t["surv"].count()
        return {
            "plans.queries.plan_s": t["plan_s"],
            "plans.queries.execute_s": t["execute_s"],
            "plans.queries.spread_exchanges": float(t["spread"]),
            "operators.dedup.minhash_lsh_pairs.lsh_candidates": float(cand),
            "operators.dedup.jaccard_selfjoin_exact.pairs_out": float(t["pairs"].count()),
            "operators.dedup.dedup_corpus.removed_docs": float(removed),
            "operators.dedup.dedup_corpus.removed_per_candidate": removed / max(cand, 1),
        }


def compare(scols: list[str], sat, dat) -> tuple[bool, str]:
    """tools/parity_check.py's comparison: same columns, row count and
    order-insensitive value hash. Returns (equal, spark-side hash)."""
    cols = sorted(scols)
    if cols != sorted(dat.column_names) or sat.num_rows != dat.num_rows:
        return False, "-"
    if parity_check._all_int_no_null(sat) and parity_check._all_int_no_null(dat):
        ok, sh, _ = parity_check.fast_int_compare(sat, dat, cols)
        return ok, sh
    sh = parity_check.value_hash(parity_check.arrow_rows(sat)[0], cols)
    return sh == parity_check.value_hash(parity_check.arrow_rows(dat)[0], cols), sh


WORKLOADS = {w.name: w for w in (L1L2Pipeline, QueryBoard)}
