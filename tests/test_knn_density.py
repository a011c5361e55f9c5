"""Density-adaptive kNN (r5 — the fix for the r4 `weak`-at-100x flag):

1. exactness: knn_grid_density returns the SAME top-k as a numpy
   brute-force oracle on the 35%-dense hot-cell fixture
   (fixtures/pages_gen.py:36-39);
2. the scale pin the verdict asked for: per-query CANDIDATE counts stay
   O(k * const) as hot-cell population grows, while the static-res ring
   join's candidates grow with cell population.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from water_column_sonar_processing_spark.fixtures.pages_gen import HOT_CENTERS, gen_pages
from water_column_sonar_processing_spark.operators import knn as K


def _hot_filter():
    cond = None
    for clat, clon in HOT_CENTERS:
        c = (F.abs(F.col("lat") - clat) < 0.05) & (F.abs(F.col("lon") - clon) < 0.05)
        cond = c if cond is None else (cond | c)
    return cond


def _brute_topk(q_pdf, c_pdf, k):
    """Independent numpy oracle: wrapped planar-degree top-k with the
    operator's exact tie rule (dist_sq asc, n_id asc), self excluded."""
    out = {}
    c_url = c_pdf["url"].to_numpy()
    c_lat = c_pdf["lat"].to_numpy(dtype=np.float64)
    c_lon = c_pdf["lon"].to_numpy(dtype=np.float64)
    for url, qlat, qlon in zip(q_pdf["url"], q_pdf["lat"], q_pdf["lon"]):
        adlon = np.abs(c_lon - qlon)
        dx = np.minimum(adlon, 360.0 - adlon)
        dy = c_lat - qlat
        d = dx * dx + dy * dy
        mask = c_url != url
        order = sorted(zip(d[mask], c_url[mask]))[:k]
        out[url] = order
    return out


def test_density_adaptive_matches_bruteforce(spark):
    pdf = gen_pages(2000)
    geo = pdf[["url", "lat", "lon"]].dropna()
    df = spark.createDataFrame(geo).localCheckpoint()
    hot = df.filter(_hot_filter()).localCheckpoint()
    k = 5
    got = K.knn_grid_density(
        hot, df, k=k, res=7, res_max=15, step=2, max_rounds=6
    ).collect()
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r["url_q"], []).append((r["rank"], r["dist_sq"], r["neighbor_id"]))
    want = _brute_topk(hot.toPandas(), geo, k)
    assert set(by_q) == set(want)
    for q, rows in by_q.items():
        rows = [(d, n) for _, d, n in sorted(rows)]
        assert rows == [(d, n) for d, n in want[q]], q


def test_density_assignment_basics(spark):
    pdf = gen_pages(2000)
    geo = pdf[["url", "lat", "lon"]].dropna()
    df = spark.createDataFrame(geo)
    out = K.assign_density_res(df, df, res=7, res_max=15, step=2, dense_threshold=8)
    rows = out.select("url", "_knn_res").collect()
    assert len(rows) == len(geo)
    ress = {r["_knn_res"] for r in rows}
    assert min(ress) == 7  # sparse mid-ocean rows keep the base res
    assert max(ress) > 7  # hot-cell rows refine
    # ladder levels only
    assert ress <= {7, 9, 11, 13, 15}
    with pytest.raises(ValueError, match="res_max"):
        K.assign_density_res(df, df, res=7, res_max=7)


def test_candidate_count_bounded_as_density_grows(spark):
    """THE scale pin (VERDICT r4 next-round #1): quadrupling the hot-cell
    population must leave density-adaptive candidates/query ~flat
    (O(probes*k*const)) while the static-res ring join grows with cell
    population (O(probes*cell_pop)).

    Measured (local[8], res_max=17/step=1/T=8):
      n=8000:  naive 403/q   density 135/q
      n=32000: naive 1590/q  density 164/q
    """
    per_q = {}
    for n in (8000, 32000):
        geo = gen_pages(n)[["url", "lat", "lon"]].dropna()
        df = spark.createDataFrame(geo).localCheckpoint()
        hot = df.filter(_hot_filter()).localCheckpoint()
        nq = hot.count()
        naive = K._grid_candidates(hot, df, ring=1, res=7).count()
        assigned = K.assign_density_res(
            hot, df, res=7, res_max=17, step=1, dense_threshold=8
        ).localCheckpoint()
        tiers = [r["_knn_res"] for r in assigned.select("_knn_res").distinct().collect()]
        dens = 0
        for t in tiers:
            dens += K._grid_candidates(
                assigned.filter(F.col("_knn_res") == t), df, ring=1, res=t
            ).count()
        per_q[n] = (naive / nq, dens / nq)
    # absolute bound: candidates/query stays O(k*const), far below cell pop
    assert per_q[8000][1] < 250
    assert per_q[32000][1] < 250
    # naive grows with population (4x pop -> ~4x candidates) ...
    assert per_q[32000][0] / per_q[8000][0] > 3.0
    # ... density-adaptive stays ~flat (the ladder refines one level instead)
    assert per_q[32000][1] / per_q[8000][1] < 1.6
    # and the static-res join pays >5x more per query at the larger size
    assert per_q[32000][0] / per_q[32000][1] > 5.0


def test_sampled_assignment_still_exact(spark):
    """sample_fraction only changes WHICH tier a query starts at (a
    performance choice); the trust-radius loop must still return the
    exact top-k — pinned against the brute-force oracle with a 0.5
    sample."""
    pdf = gen_pages(2000)
    geo = pdf[["url", "lat", "lon"]].dropna()
    df = spark.createDataFrame(geo).localCheckpoint()
    hot = df.filter(_hot_filter()).localCheckpoint()
    k = 5
    got = K.knn_grid_density(
        hot, df, k=k, res=7, res_max=15, step=2, max_rounds=6, sample_fraction=0.5
    ).collect()
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r["url_q"], []).append((r["rank"], r["dist_sq"], r["neighbor_id"]))
    want = _brute_topk(hot.toPandas(), geo, k)
    assert set(by_q) == set(want)
    for q, rows in by_q.items():
        rows = [(d, n) for _, d, n in sorted(rows)]
        assert rows == [(d, n) for d, n in want[q]], q
    with pytest.raises(ValueError, match="sample_fraction"):
        K.assign_density_res(df, df, res=7, res_max=15, sample_fraction=1.5)


def test_collapse_exact_dups_identical_results(spark):
    """r5: web corpora duplicate coordinates (many pages -> one venue
    point), which no grid resolution can split. Collapsing the corpus to
    the k+1 smallest ids per exact (lat, lon) must be output-IDENTICAL
    (co-located points share dist for every query, so after excluding a
    possible self-match only those k+1 can reach a top-k) — checked
    against the brute-force oracle on a fixture where one coordinate
    holds 60 duplicate points, some of which are also queries."""
    geo = gen_pages(1500)[["url", "lat", "lon"]].dropna().reset_index(drop=True)
    # pile 60 rows onto ONE exact coordinate near a hot center
    clat, clon = HOT_CENTERS[0]
    dup_idx = geo.index[:60]
    geo.loc[dup_idx, "lat"] = clat + 0.003
    geo.loc[dup_idx, "lon"] = clon - 0.002
    df = spark.createDataFrame(geo).localCheckpoint()
    hot = df.filter(_hot_filter()).localCheckpoint()
    k = 5
    got = K.knn_grid_density(
        hot, df, k=k, res=7, res_max=15, step=2, max_rounds=6, collapse_exact_dups=True
    ).collect()
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r["url_q"], []).append((r["rank"], r["dist_sq"], r["neighbor_id"]))
    want = _brute_topk(hot.toPandas(), geo, k)
    assert set(by_q) == set(want)
    for q, rows in by_q.items():
        rows = [(d, n) for _, d, n in sorted(rows)]
        assert rows == [(d, n) for d, n in want[q]], q


def test_prepared_corpus_identical_results(spark):
    """prepare_corpus_cells is a pure execution-strategy change (pay the
    corpus shuffle once per tier, reuse partitioning across escalation
    rounds): identical rows to the unprepared join."""
    geo = gen_pages(3000)[["url", "lat", "lon"]].dropna()
    df = spark.createDataFrame(geo).localCheckpoint()
    q = df.limit(40).localCheckpoint()
    plain = sorted(
        (r["url_q"], r["neighbor_id"], r["rank"])
        for r in K.knn_grid_adaptive(q, df, k=3, res=6, max_rounds=3).collect()
    )
    prep = K.prepare_corpus_cells(df, 6)
    prepped = sorted(
        (r["url_q"], r["neighbor_id"], r["rank"])
        for r in K.knn_grid_adaptive(q, df, k=3, res=6, max_rounds=3, corpus_prepared=prep).collect()
    )
    assert plain == prepped and len(plain) > 0
    with pytest.raises(ValueError, match="mutually exclusive"):
        K._grid_candidates(q, df, ring=1, res=6, salt_buckets=4, corpus_prepared=prep)
    # a res-mismatched prepared frame would silently join wrong cells
    with pytest.raises(ValueError, match="res=6"):
        K._grid_candidates(q, df, ring=1, res=7, corpus_prepared=prep)
    # an arbitrary unstamped frame is refused outright
    with pytest.raises(ValueError, match="prepare_corpus_cells"):
        K._grid_candidates(q, df, ring=1, res=6, corpus_prepared=df)


def test_salted_knn_grid_identical_results(spark):
    """r5: the north rule's salted repartition on cell id, wired into the
    production kNN cell join (operators/skew.add_salt + explode_salt).
    Salting must be a pure execution-strategy change: identical rows."""
    pdf = gen_pages(3000)
    geo = pdf[["url", "lat", "lon"]].dropna()
    df = spark.createDataFrame(geo).localCheckpoint()
    plain = sorted(
        (r["url_q"], r["neighbor_id"], r["rank"])
        for r in K.knn_grid(df, df, k=3, ring=1, res=7).collect()
    )
    salted = sorted(
        (r["url_q"], r["neighbor_id"], r["rank"])
        for r in K.knn_grid(df, df, k=3, ring=1, res=7, salt_buckets=8).collect()
    )
    assert plain == salted and len(plain) > 0


def _cell_xy(lat, lon, res):
    """numpy twin of cells.grid_cell_xy (clamped gx, gy at res)."""
    s = 180.0 / (1 << res)
    gx = np.clip(np.floor((lon + 180.0) / s), 0, 2 * (1 << res) - 1).astype(np.int64)
    gy = np.clip(np.floor((lat + 90.0) / s), 0, (1 << res) - 1).astype(np.int64)
    return gx, gy


def _ring_topk(q_pdf, c_pdf, tiers, ring, k):
    """numpy oracle of the best-effort rows: per query, the top-k (dist_sq,
    id) among corpus points whose cell at the QUERY'S tier lies within
    Chebyshev distance `ring` of the query's cell (gx wraps, gy does not),
    self excluded."""
    c_url = c_pdf["url"].to_numpy()
    c_lat = c_pdf["lat"].to_numpy(dtype=np.float64)
    c_lon = c_pdf["lon"].to_numpy(dtype=np.float64)
    out = {}
    for url, qlat, qlon in zip(q_pdf["url"], q_pdf["lat"], q_pdf["lon"]):
        t = tiers[url]
        nx = 2 * (1 << t)
        cgx, cgy = _cell_xy(c_lat, c_lon, t)
        qgx, qgy = _cell_xy(np.array([qlat]), np.array([qlon]), t)
        dgx = np.abs(cgx - qgx[0])
        near = (np.minimum(dgx, nx - dgx) <= ring) & (np.abs(cgy - qgy[0]) <= ring) & (c_url != url)
        adlon = np.abs(c_lon[near] - qlon)
        dx = np.minimum(adlon, 360.0 - adlon)
        dy = c_lat[near] - qlat
        rows = sorted(zip(dx * dx + dy * dy, c_url[near]))[:k]
        if rows:
            out[url] = rows
    return out


@pytest.mark.parametrize("max_rounds", [1, 2])
def test_straggler_rows_pinned_at_max_rounds(spark, max_rounds):
    """The final round emits every untrusted query's best-effort rows:
    with the round budget cut to 1 or 2, each query's output is exactly
    the top-k within the LAST ring (2^(max_rounds-1)) at its own tier — on
    a query set spread over several density tiers, some of whose queries
    are stragglers."""
    geo = gen_pages(2000)[["url", "lat", "lon"]].dropna().reset_index(drop=True)
    df = spark.createDataFrame(geo).localCheckpoint()
    q = df.filter(F.abs(F.xxhash64("url")) % 8 == 0).localCheckpoint()
    k = 5
    tiers = {
        r["url"]: r["_knn_res"]
        for r in K.assign_density_res(q, df, res=7, res_max=15, step=2, dense_threshold=16).collect()
    }
    assert len(set(tiers.values())) >= 2
    got = K.knn_grid_density(q, df, k=k, res=7, res_max=15, step=2, max_rounds=max_rounds).collect()
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r["url_q"], []).append((r["rank"], r["dist_sq"], r["neighbor_id"]))
    by_q = {u: [(d, n) for _, d, n in sorted(rows)] for u, rows in by_q.items()}
    q_pdf = q.toPandas()
    assert by_q == _ring_topk(q_pdf, geo, tiers, 1 << (max_rounds - 1), k)
    # the budget really cut some queries short of their true top-k
    exact = _brute_topk(q_pdf, geo, k)
    assert any(by_q.get(u) != [(d, n) for d, n in exact[u]] for u in exact)


def test_empty_and_null_query_sets_return_schema(spark):
    """No query with usable coordinates: the 4-column result schema, 0 rows."""
    geo = gen_pages(300)[["url", "lat", "lon"]].dropna()
    df = spark.createDataFrame(geo)
    no_coords = spark.createDataFrame(
        [("a", None, None), ("b", None, 1.0), ("c", float("nan"), 2.0)], "url string, lat double, lon double"
    )
    for q in (df.limit(0), no_coords):
        for out in (K.knn_grid_density(q, df, k=3), K.knn_grid_adaptive(q, df, k=3)):
            assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
                ("url_q", "string"),
                ("neighbor_id", "string"),
                ("dist_sq", "double"),
                ("rank", "int"),
            ]
            assert out.count() == 0


@pytest.mark.parametrize("sample_fraction", [None, 0.5])
def test_one_pass_ladder_matches_pandas(spark, sample_fraction):
    """The one-pass density ladder equals a pandas sum, per ladder cell, of
    the fine-cell counts — each scaled by 1/fraction and truncated before
    the sum when sampled — and picks each query's finest dense level."""
    geo = gen_pages(2000)[["url", "lat", "lon"]].dropna()
    df = spark.createDataFrame(geo).localCheckpoint()
    res, res_max, step, thr = 7, 15, 2, 8
    got = {
        r["url"]: r["_knn_res"]
        for r in K.assign_density_res(
            df, df, res=res, res_max=res_max, step=step, dense_threshold=thr, sample_fraction=sample_fraction
        ).collect()
    }
    src = df.sample(fraction=sample_fraction, seed=42) if sample_fraction else df
    s_pdf = src.toPandas()
    gx, gy = _cell_xy(s_pdf["lat"].to_numpy(), s_pdf["lon"].to_numpy(), res_max)
    fine = pd.DataFrame({"gx": gx, "gy": gy}).groupby(["gx", "gy"]).size().rename("cnt").reset_index()
    if sample_fraction:
        fine["cnt"] = (fine["cnt"] / sample_fraction).astype(np.int64)
    qgx, qgy = _cell_xy(geo["lat"].to_numpy(), geo["lon"].to_numpy(), res_max)
    want = np.full(len(geo), res)
    for lvl in range(res_max, res, -step):  # finest first: keep the first dense hit
        sh = res_max - lvl
        sums = fine.groupby([fine["gx"].to_numpy() >> sh, fine["gy"].to_numpy() >> sh])["cnt"].sum()
        dense = set(sums[sums >= thr].index)
        hit = np.array([(a, b) in dense for a, b in zip(qgx >> sh, qgy >> sh)])
        want = np.where((want == res) & hit, lvl, want)
    assert got == dict(zip(geo["url"], want.tolist()))
    assert len(set(want.tolist())) >= 3


@pytest.mark.parametrize("split", ["all", "mixed"])
def test_partitioned_tier_corpus_matches_broadcast(spark, monkeypatch, split):
    """A tier past _BROADCAST_MAX_QUERIES joins a corpus partitioned and
    sorted once on (_t, j_gx, j_gy) instead of broadcasting its queries;
    the decision is per tier, so with a threshold between the tier sizes
    the small tiers still broadcast. An execution-strategy change only:
    the rows are identical."""
    geo = gen_pages(2000)[["url", "lat", "lon"]].dropna()
    df = spark.createDataFrame(geo).localCheckpoint()
    q = df.filter(F.abs(F.xxhash64("url")) % 8 == 0).localCheckpoint()

    def run():
        return sorted(
            tuple(r) for r in K.knn_grid_density(q, df, k=5, res=7, res_max=15, step=2, max_rounds=3).collect()
        )

    broadcast = run()
    sizes = sorted(
        r["count"]
        for r in K.assign_density_res(q, df, res=7, res_max=15, step=2, dense_threshold=16)
        .groupBy("_knn_res")
        .count()
        .collect()
    )
    threshold = 0 if split == "all" else sizes[0]
    big = [n for n in sizes if n > threshold]
    assert big and (split == "all" or len(big) < len(sizes))
    projected = []
    project = K._project_corpus_cells

    def spy(corpus, res, *args):
        projected.append(res)
        return project(corpus, res, *args)

    monkeypatch.setattr(K, "_BROADCAST_MAX_QUERIES", threshold)
    monkeypatch.setattr(K, "_project_corpus_cells", spy)
    assert run() == broadcast and len(broadcast) > 0
    # the partitioned corpus is built once, before the rounds; in the
    # mixed case the later rounds also project the small tiers per round
    assert len(projected[0]) == len(big)
    assert (len(projected) > 1) == (split == "mixed")
